"""The engine process: one real `StreamingJob` on a fresh JVM.

    python3 engine.py <spec.json>

Builds the session with the package's `get_spark` (configured only
through the environment the runner sets), starts the aggregate and
detect queries on an empty input directory and writes `ready.json`
once both are started. Then, twice, it waits for a marker from the
runner and drains both queries: after `warm` (the warm-up file is
published; it answers with `warmed`) and after `published` (all
inputs are). It measures the JVM heap the queries retain, stops them
and writes `result.json`.

Options in the spec:
- `oracle_dir`: afterwards, compute the batch `long_form_window_aggs`
  of the whole input into that directory (outside any timed region);
- `trace`: record every progress event and time each call into
  `streaming.sink.write_batch_idempotent` (wrapped where
  `streaming.job` looks it up) and the source functions; the spans go
  into `result.json`. The package itself is not edited.
"""

from __future__ import annotations

import json
import os
import sys
import time

from spans import Spans


def _dir_bytes(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if n.startswith("part-")
    )


def _retained_heap_bytes(spark) -> int:
    """JVM heap still in use after full collections: what the engine
    keeps between triggers (state-store versions, caches), without the
    garbage and the free space that the heap's size policy adds."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(3):
        bean.gc()
    return int(bean.getHeapMemoryUsage().getUsed())


def _install_tracing(spark, spans: Spans, progress: list) -> None:
    """Record every progress event and a span per sink write."""
    from pyspark.sql.streaming import StreamingQueryListener

    from online_anomaly_detection_root_cause_analysis_spark.streaming import job as job_mod

    class Recorder(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Recorder())

    write = job_mod.write_batch_idempotent

    def traced_write(df, batch_id, out_dir, coalesce=1):
        before = _dir_bytes(out_dir)
        t0 = time.time()
        wrote = write(df, batch_id, out_dir, coalesce)
        spans.add(
            f"sink.{os.path.basename(out_dir)}", t0, time.time(), None,
            batch_id=batch_id, skipped=not wrote,
            bytes=_dir_bytes(out_dir) - before,
        )
        return wrote

    job_mod.write_batch_idempotent = traced_write


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo"])
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    work = spec["work_dir"]
    spans = Spans(spec["run_id"])
    progress: list[dict] = []

    from online_anomaly_detection_root_cause_analysis_spark.config import web_pages_config
    from online_anomaly_detection_root_cause_analysis_spark.session import get_spark
    from online_anomaly_detection_root_cause_analysis_spark.sources import pages as pages_mod
    from online_anomaly_detection_root_cause_analysis_spark.sources import records as rec_mod
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import StreamingJob

    from workloads import SLIDE_S, WINDOW_S, WORKLOADS, tail_config

    wl = WORKLOADS[spec["workload"]]
    read_stream, build_records = pages_mod.read_pages_stream, rec_mod.build_page_records
    t_import = time.time()
    spark = get_spark(app_name=f"streambench-{spec['workload']}")
    t_session = time.time()
    spans.add("engine.session", t_import, t_session)
    if spec["trace"]:
        _install_tracing(spark, spans, progress)
        read_stream = spans.timed("sources.read_pages_stream", read_stream, "engine.plan")
        build_records = spans.timed("sources.build_page_records", build_records, "engine.plan")

    cfg = web_pages_config()
    job = StreamingJob(
        work_dir=os.path.join(work, "job"), cfg=cfg, tail=tail_config(wl["tail"]),
        size_s=WINDOW_S, slide_s=SLIDE_S, watermark=f"{wl['watermark_s']} seconds",
        key=wl["key"],
    )
    # one sub-directory per publish, renamed into place whole, so a
    # trigger never sees half of a backfill
    pages = read_stream(spark, os.path.join(spec["input_dir"], "*"), wl["max_files_per_trigger"])
    records = build_records(pages, cfg, use_extracted_text=wl["extract"])
    q_agg = job.start_aggregate_query(records)
    q_det = job.start_detect_query(spark)
    t_ready = time.time()
    spans.add("engine.plan", t_session, t_ready)
    ready = {"launch": spec["launch"], "ready": t_ready, "session": t_session,
             "setup_s": t_ready - spec["launch"]}
    with open(os.path.join(work, "ready.json.tmp"), "w") as f:
        json.dump(ready, f)
    os.replace(os.path.join(work, "ready.json.tmp"), os.path.join(work, "ready.json"))

    result = {"ready": ready, "ok": True}

    def drain_after(marker: str) -> float:
        deadline = time.time() + spec["publish_timeout_s"]
        while not os.path.exists(os.path.join(work, marker)):
            if time.time() > deadline or not (q_agg.isActive and q_det.isActive):
                raise RuntimeError(f"no {marker} marker, or a query died")
            time.sleep(0.005)
        q_agg.processAllAvailable()
        q_det.processAllAvailable()
        return time.time()

    try:
        result["warmed"] = drain_after("warm")
        with open(os.path.join(work, "warmed"), "w") as f:
            f.write("ok")
        result["drained"] = drain_after("published")
        # after the last commit, so the collections cost the stream nothing
        result["retained_heap_bytes"] = _retained_heap_bytes(spark)
    finally:
        for q in (q_agg, q_det):
            err = q.exception()
            if err is not None:
                result["ok"] = False
                result["error"] = str(err)[:2000]
            q.stop()
    result["stopped"] = time.time()

    if spec["oracle_dir"]:
        from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
            long_form_window_aggs,
        )

        batch = rec_mod.build_page_records(
            pages_mod.read_pages(spark, spec["all_input_dir"]), cfg,
            use_extracted_text=wl["extract"],
        )
        long_form_window_aggs(batch, cfg, WINDOW_S, SLIDE_S, None, key=wl["key"]) \
            .coalesce(1).write.mode("overwrite").parquet(spec["oracle_dir"])

    if spec["trace"]:
        # the batch twin of the source stage, into a noop sink: scan +
        # record building (+ extraction on dense) without the stream
        t0 = time.time()
        rec_mod.build_page_records(
            pages_mod.read_pages(spark, spec["all_input_dir"]), cfg,
            use_extracted_text=wl["extract"],
        ).write.format("noop").mode("overwrite").save()
        spans.add("sources.scan_extract", t0, time.time())
    result["progress"] = progress
    result["spans"] = spans.items
    with open(os.path.join(work, "result.json.tmp"), "w") as f:
        json.dump(result, f)
    # the runner reads the result while the session shuts down
    os.replace(os.path.join(work, "result.json.tmp"), os.path.join(work, "result.json"))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
