"""Per-layer metrics of a traced run, all taken from outside the engine.

- Spark's own progress events (recorded by a listener the engine adds)
  give the aggregate and detect queries' trigger, state-store and WAL
  numbers.
- Spans the engine records around `streaming.sink.write_batch_idempotent`
  give the sink layer.
- The `streaming.state` and `algorithms` layers are measured by
  replaying the committed `aggs/` files, in commit order and per key,
  with a pickle round trip at every trigger boundary as `make_tail_fn`
  does. A second replay wraps the algorithms' public entry points, so
  their wrappers do not inflate the state-layer timings.
- `/proc` samples give the engine layer.

Only the measured part of the stream counts: the triggers that read
file 1 onwards (file 0 warms the engine).
"""

from __future__ import annotations

import json
import os
import pickle
from contextlib import contextmanager

import metrics as m
from oracle import KEY, read_parts
from spans import Spans, self_times

# entry points timed during the second replay: (module, owner, attribute)
ALGORITHMS = {
    "algorithms.ewfeature.process_s": ("algorithms.ewfeature", "EWFeatureTransform", "process"),
    "algorithms.ewpercentile.process_s": (
        "algorithms.ewpercentile", "EWAppxPercentileAuxiliary", "process"),
    "algorithms.ewma.update_s": ("algorithms.ewma", "EWMAZScore", "update"),
    "algorithms.stats.simple_s": ("streaming.state", None, "simple_contributor_summaries"),
    "algorithms.stats.hierarchical_s": (
        "streaming.state", None, "hierarchical_contributor_summaries"),
}
DETECTORS = ("algorithms.ewfeature.process_s", "algorithms.ewpercentile.process_s",
             "algorithms.ewma.update_s")
RCA = ("algorithms.stats.simple_s", "algorithms.stats.hierarchical_s")

# name -> unit of every per-layer metric printed by a traced run
UNITS = {
    "generator.late_max_s": "s", "generator.files": "count", "generator.pages": "count",
    "generator.backlog.max_files": "count",
    "sources.scan_extract_s": "s", "sources.rows": "count", "aggregate.source_ms": "ms",
    "aggregate.triggers": "count", "aggregate.add_batch_s": "s",
    "aggregate.trigger_p50_ms": "ms", "aggregate.trigger_p95_ms": "ms",
    "aggregate.planning_s": "s", "aggregate.wal_s": "s",
    "aggregate.state_rows_max": "count", "aggregate.state_updates": "count",
    "aggregate.state_updates_per_page": "ratio", "aggregate.state_mem_bytes_max": "bytes",
    "aggregate.state_commit_ms": "ms", "aggregate.rows_dropped_late": "count",
    "aggregate.rows_out": "count",
    "sink.aggs.calls": "count", "sink.aggs.busy_s": "s", "sink.alerts.busy_s": "s",
    "sink.rca.busy_s": "s", "sink.skipped_replays": "count", "sink.bytes_written": "bytes",
    "detect.triggers": "count", "detect.add_batch_s": "s", "detect.trigger_p50_ms": "ms",
    "detect.trigger_p95_ms": "ms", "detect.input_rows": "count",
    "detect.state_mem_bytes_max": "bytes", "detect.state_commit_ms": "ms",
    "detect.commit_lag_p50_s": "s", "detect.commit_lag_p95_s": "s",
    "detect.outside_tail_s": "s",
    "state.windows": "count", "state.rows_to_windows_s": "s", "state.process_window_s": "s",
    "state.pickle_dumps_s": "s", "state.pickle_loads_s": "s", "state.blob_bytes_max": "bytes",
    "algorithms.detector_s": "s", "algorithms.rca_s": "s",
    "algorithms.alerts.rows": "count", "algorithms.rca.rows": "count",
    "engine.cpu_s": "s", "engine.cpu_util": "ratio", "engine.python_workers_max": "count",
    "engine.warmup_s": "s", "trace.windows_per_s": "1/s",
}


def _progress(rep: dict, name: str, batches: set) -> list[dict]:
    return [p for p in rep["progress"] if p["name"] == name and p["batchId"] in batches]


def _duration(events: list[dict], *keys: str) -> float:
    return float(sum(e["durationMs"].get(k, 0) for k in keys for e in events))


def _state(events: list[dict], field: str) -> list[float]:
    return [so.get(field, 0) for e in events for so in e["stateOperators"]]


def query_metrics(prefix: str, events: list[dict]) -> dict:
    trig = [e["durationMs"].get("triggerExecution", 0) for e in events]
    return {
        f"{prefix}.triggers": len(events),
        f"{prefix}.add_batch_s": _duration(events, "addBatch") / 1000,
        f"{prefix}.trigger_p50_ms": m.percentile(trig, 50),
        f"{prefix}.trigger_p95_ms": m.percentile(trig, 95),
        f"{prefix}.state_mem_bytes_max": max(_state(events, "memoryUsedBytes"), default=0),
        f"{prefix}.state_commit_ms": float(sum(_state(events, "commitTimeMs"))),
    }


def replay(job_dir: str, det_batches: list[tuple[int, str]], measured: set, tail_config,
           spans: Spans) -> dict:
    """Feed the committed aggs files to per-key `StreamingTail`s, one
    detect trigger at a time, as `make_tail_fn` does. Only triggers in
    `measured` are timed (earlier ones just build state). Returns the
    timings, window count and largest state blob."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming import state

    blobs: dict = {}
    out = {"windows": 0, "blob_bytes_max": 0, "alerts": 0, "rca": 0}

    def load(key):
        return pickle.loads(blobs[key]) if key in blobs else state.StreamingTail(tail_config)

    for batch, path in det_batches:
        pdf = read_parts(os.path.dirname(path), None, [path])
        if KEY not in pdf.columns:
            pdf[KEY] = ""
        for key, group in pdf.groupby(KEY, sort=True):
            group = group.drop(columns=[KEY])
            if batch not in measured:
                tail = load(key)
                for w in state.rows_to_windows(group):
                    tail.process_window(*w)
                blobs[key] = pickle.dumps(tail)
                continue
            attrs = dict(batch=batch, key=key)
            with spans.span("state.trigger", None, **attrs):
                with spans.span("state.pickle_loads", "state.trigger", **attrs):
                    tail = load(key)
                with spans.span("state.rows_to_windows", "state.trigger", **attrs):
                    windows = list(state.rows_to_windows(group))
                rows = []
                with spans.span("state.process_window", "state.trigger", **attrs):
                    for w in windows:
                        rows.extend(tail.process_window(*w))
                with spans.span("state.pickle_dumps", "state.trigger", **attrs):
                    blobs[key] = pickle.dumps(tail)
            out["windows"] += len(windows)
            out["alerts"] += sum(1 for r in rows if r["row_type"] == "alert")
            out["rca"] += sum(1 for r in rows if r["row_type"] == "rca")
            out["blob_bytes_max"] = max(out["blob_bytes_max"], len(blobs[key]))
    return out


@contextmanager
def wrapped_algorithms(spans: Spans):
    """Time every call into the ALGORITHMS entry points (restored after)."""
    import importlib

    pkg = "online_anomaly_detection_root_cause_analysis_spark"
    saved = []
    for metric, (module, owner, attr) in ALGORITHMS.items():
        target = importlib.import_module(f"{pkg}.{module}")
        if owner is not None:
            target = getattr(target, owner)
        fn = getattr(target, attr)
        saved.append((target, attr, fn))

        def timed(*a, _fn=fn, _name=metric, **kw):
            with spans.span(_name, "state.process_window"):
                return _fn(*a, **kw)

        setattr(target, attr, timed)
    try:
        yield
    finally:
        for target, attr, fn in saved:
            setattr(target, attr, fn)


def layer_metrics(wl: dict, manifest: dict, rep: dict, out_dir: str, run_id: str):
    from workloads import tail_config

    job = rep["job_dir"]
    tl = m.timeline(rep, manifest, wl)
    summary = m.stream_summary(rep, manifest, wl)
    agg_ckpt = os.path.join(job, "checkpoints", "aggregate")
    det_batch_of = m.file_batches(os.path.join(job, "checkpoints", "detect"))
    first = m.file_batches(agg_ckpt)[manifest["files"][1]["name"]]
    agg_batches = {b for b in m.trigger_starts(agg_ckpt) if b >= first}
    det_files = sorted(
        (b, os.path.join(job, "aggs", f)) for f, b in det_batch_of.items()
    )
    det_measured = {b for b, f in det_files if int(os.path.basename(f).split("-")[1]) >= first}

    agg_ev = _progress(rep, "aggregate", agg_batches)
    det_ev = _progress(rep, "detect", det_measured)
    pages_in = sum(e["numInputRows"] for e in agg_ev)
    updates = sum(_state(agg_ev, "numRowsUpdated"))
    rows_out = sum(len(read_parts(os.path.dirname(f), ["window_start_epoch"], [f]))
                   for b, f in det_files if int(os.path.basename(f).split("-")[1]) >= first)

    first_t = tl["first_trigger"]
    sink_spans = [
        s for s in rep["spans"] if s["name"].startswith("sink.") and s["start"] >= first_t
    ]

    def busy(kind: str) -> float:
        return sum(s["end"] - s["start"] for s in sink_spans if s["name"] == f"sink.{kind}")

    spans = Spans(run_id)
    cfg = tail_config(wl["tail"])
    rp = replay(job, det_files, det_measured, cfg, spans)
    # a second pass, with its own id: its state.* spans include the wrappers
    algo_spans = Spans(f"{run_id}/wrapped-replay")
    with wrapped_algorithms(algo_spans):
        replay(job, det_files, det_measured, cfg, algo_spans)
    algo = {k: algo_spans.total(k) for k in ALGORITHMS}
    tail_total = spans.total("state.trigger")
    det_add = _duration(det_ev, "addBatch") / 1000
    usage = m.tree_usage(rep, first_t, tl["last_commit"])
    scan = [s for s in rep["spans"] if s["name"] == "sources.scan_extract"]

    values = {
        "generator.late_max_s": tl["late_max_s"],
        "generator.files": len(manifest["files"]) - 1,
        "generator.pages": summary["pages"],
        "generator.backlog.max_files": tl["backlog_max_files"],
        "sources.scan_extract_s": scan[0]["end"] - scan[0]["start"] if scan else 0.0,
        "sources.rows": pages_in,
        "aggregate.source_ms": _duration(agg_ev, "latestOffset", "getBatch"),
        **query_metrics("aggregate", agg_ev),
        "aggregate.planning_s": _duration(agg_ev, "queryPlanning") / 1000,
        "aggregate.wal_s": _duration(agg_ev, "walCommit", "commitOffsets") / 1000,
        "aggregate.state_rows_max": max(_state(agg_ev, "numRowsTotal"), default=0),
        "aggregate.state_updates": updates,
        "aggregate.state_updates_per_page": updates / pages_in if pages_in else 0.0,
        "aggregate.rows_dropped_late": sum(_state(agg_ev, "numRowsDroppedByWatermark")),
        "aggregate.rows_out": rows_out,
        "sink.aggs.calls": sum(1 for s in sink_spans if s["name"] == "sink.aggs"),
        "sink.aggs.busy_s": busy("aggs"),
        "sink.alerts.busy_s": busy("alerts"),
        "sink.rca.busy_s": busy("rca"),
        "sink.skipped_replays": sum(1 for s in sink_spans if s["skipped"]),
        "sink.bytes_written": sum(s["bytes"] for s in sink_spans),
        **query_metrics("detect", det_ev),
        "detect.input_rows": sum(e["numInputRows"] for e in det_ev),
        "detect.commit_lag_p50_s": summary["commit_lag_p50_s"],
        "detect.commit_lag_p95_s": summary["commit_lag_p95_s"],
        "detect.outside_tail_s": det_add - tail_total,
        "state.windows": rp["windows"],
        "state.rows_to_windows_s": spans.total("state.rows_to_windows"),
        "state.process_window_s": spans.total("state.process_window"),
        "state.pickle_dumps_s": spans.total("state.pickle_dumps"),
        "state.pickle_loads_s": spans.total("state.pickle_loads"),
        "state.blob_bytes_max": rp["blob_bytes_max"],
        "algorithms.detector_s": sum(algo[k] for k in DETECTORS),
        "algorithms.rca_s": sum(algo[k] for k in RCA),
        "algorithms.alerts.rows": rp["alerts"],
        "algorithms.rca.rows": rp["rca"],
        "engine.cpu_s": usage["cpu_s"],
        "engine.cpu_util": usage["cpu_s"] / tl["wall_s"] / os.cpu_count(),
        "engine.python_workers_max": usage["python_workers_max"],
        "engine.warmup_s": tl["warmup_s"],
        "trace.windows_per_s": summary["windows_per_s"],
    }
    metrics = {k: {"value": values[k], "unit": u} for k, u in UNITS.items()}
    all_spans = rep["spans"] + spans.items + algo_spans.items
    report = {
        "layers": {**values, **algo},
        "notes": {
            "sink.alerts.busy_s": "the alerts write materializes the cached tail batch, "
            "so it includes the detect query's tail execution",
            "detect.outside_tail_s": "detect addBatch minus the replayed tail total "
            "(Arrow, shuffle, state store, Python workers, sink)",
            "sources.extract_text": "runs inside Python workers and cannot be timed from "
            "the engine's Python process; sources.scan_extract_s times a batch scan + record build "
            "(+ extraction where the workload extracts) into a noop sink instead",
        },
        "self_times": {
            run_id: self_times(rep["spans"] + spans.items),
            algo_spans.run_id: self_times(algo_spans.items),
        },
        "stream": summary,
    }
    report["spans_file"] = os.path.join(out_dir, f"{run_id}.spans.jsonl")
    with open(report["spans_file"], "w") as f:
        for s in all_spans:
            f.write(json.dumps(s, default=str) + "\n")
    return metrics, report
