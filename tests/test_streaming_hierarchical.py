"""Streaming hierarchical RCA (VERDICT r1 next-steps #3): the
reference streaming job dispatches hierarchical | simple | macrobase
RCA (jobs/MainJob.scala:86-110); TailConfig(rca_mode="hierarchical")
runs the hierarchical finder in the streaming tail.

Two gates:
1. streaming output (the tail run by the detect query's sink) ==
   pure-Python replay of the same finalized windows (mirror of test_streaming_macrobase);
2. the batch replay of the same tail (make_batch_tail) is what the
   hierarchical_contributors(_cooc) queries run, so their DuckDB
   oracles (tests/test_oracle_parity.py) check the tail directly.
"""

from pyspark.sql import functions as F

from online_anomaly_detection_root_cause_analysis_spark.config import (
    web_pages_config,
    web_pages_parent_value,
)
from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
    PagesSpec,
    generate_pages,
    read_pages_stream,
)
from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
    build_page_records,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
    StreamingJob,
    long_form_window_aggs,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
    TOTAL_DIM,
    StreamingTail,
    TailConfig,
    rows_to_windows,
)

from .test_streaming import _write_chunks

CFG = web_pages_config()


def _median_window_total(records) -> float:
    totals = long_form_window_aggs(records, CFG, 300, 60, None).filter(
        F.col("dim_name") == TOTAL_DIM
    )
    return totals.approxQuantile("dim_sum", [0.5], 0.0)[0]


def _pages_tail(max_value: float) -> TailConfig:
    return TailConfig(
        mode="threshold",
        rca_mode="hierarchical",
        max_value=max_value,
        parent_of=dict(CFG.hierarchy_pairs()),
        parent_value_fn=web_pages_parent_value,
        summary_size=5,
    )


def test_streaming_hierarchical_matches_replay(spark, tmp_path):
    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    pages = tmp_path / "pages"
    pages.mkdir()
    _write_chunks(pdf, pages, 5)

    # absolute threshold below the upper-quartile window total so a
    # healthy share of windows alert
    records_batch = build_page_records(
        spark.createDataFrame(pdf), CFG
    )
    max_value = _median_window_total(records_batch)
    tail_cfg = _pages_tail(max_value)

    job = StreamingJob(
        work_dir=str(tmp_path / "job"), cfg=CFG, tail=tail_cfg,
        size_s=300, slide_s=60,
    )
    stream = build_page_records(read_pages_stream(spark, str(pages)), CFG)
    q1 = job.start_aggregate_query(stream)
    q1.processAllAvailable()
    q1.stop()
    q2 = job.start_detect_query(spark)
    q2.processAllAvailable()
    q2.stop()

    alerts = spark.read.parquet(job.alerts_dir)
    rca = spark.read.parquet(job.rca_dir)
    assert alerts.count() > 0
    assert rca.count() > 0
    # hierarchical rows carry group + level; levels beyond 1 present
    assert rca.filter(F.col("dim_level") > 1).count() > 0

    import os

    import pandas as pd

    replay = StreamingTail(tail_cfg)
    expected = []
    for f in sorted(os.listdir(job.aggs_dir)):
        if not f.endswith(".parquet"):
            continue
        chunk = pd.read_parquet(os.path.join(job.aggs_dir, f))
        if len(chunk) == 0:
            continue
        for ws, cur, rec, bd, hier in rows_to_windows(chunk):
            expected.extend(replay.process_window(ws, cur, rec, bd, hier))

    exp_rca = [e for e in expected if e["row_type"] == "rca"]
    got = sorted(
        (r.seq, r.dim_group, r.dim_level, r.dim_name, r.dim_value, f"{r.cost:.6f}")
        for r in rca.collect()
    )
    want = sorted(
        (e["seq"], e["dim_group"], e["dim_level"], e["dim_name"], e["dim_value"],
         f"{e['cost']:.6f}")
        for e in exp_rca
    )
    assert got == want


def test_hierarchy_cooccurrence_conflict_rule(spark):
    """The deterministic max-conflict rule of the streaming carry: when
    a child value co-occurs with several parent values inside one
    window, the MAX parent wins in long_form_window_aggs(
    with_hierarchy=True); and the mapping is window-scoped."""
    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.config import (
        DimensionSpec,
        EngineConfig,
    )

    cfg = EngineConfig(
        timestamp_field="ts",
        value_field="value",
        dimensions=[
            DimensionSpec("parent_dim", group="g"),
            DimensionSpec("child_dim", group="g", parent="parent_dim"),
        ],
    )
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        # window 0: child c1 co-occurs with parents pa and pz -> pz wins
        (base + pd.Timedelta(seconds=10), 1.0, "c1", "pa"),
        (base + pd.Timedelta(seconds=20), 1.0, "c1", "pz"),
        # window 0: child c2 with a single parent
        (base + pd.Timedelta(seconds=30), 1.0, "c2", "pm"),
        # next window (tumbling 300s): c1 now maps to pb ONLY there
        (base + pd.Timedelta(seconds=310), 1.0, "c1", "pb"),
    ]
    records = spark.createDataFrame(
        pd.DataFrame(rows, columns=["ts", "value", "child_dim", "parent_dim"])
    )
    aggs = long_form_window_aggs(records, cfg, 300, None, with_hierarchy=True)
    carried = {
        (r.window_start_epoch % 3600, r.dim_value): r.parent_value
        for r in aggs.filter(F.col("dim_name") == "child_dim").collect()
    }
    assert carried == {(0, "c1"): "pz", (0, "c2"): "pm", (300, "c1"): "pb"}


def test_streaming_hierarchy_from_data_matches_fn_and_replay(spark, tmp_path):
    """Streaming run with with_hierarchy=True aggregate rows and the
    data-dependent tail: (1) streaming output == pure-Python replay of
    the finalized windows; (2) because every pages host determines its
    domain (and domain its tld), the co-occurrence-resolved hierarchy
    must agree EXACTLY with the derivable parent_value_fn tail — a
    cross-validation of the two resolution paths on the same stream."""
    import os

    import pandas as pd

    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    pages = tmp_path / "pages"
    pages.mkdir()
    _write_chunks(pdf, pages, 5)

    records_batch = build_page_records(spark.createDataFrame(pdf), CFG)
    max_value = _median_window_total(records_batch)

    tail_data = TailConfig(
        mode="threshold",
        rca_mode="hierarchical",
        max_value=max_value,
        parent_of=dict(CFG.hierarchy_pairs()),
        hierarchy_from_data=True,
        summary_size=5,
    )
    job = StreamingJob(
        work_dir=str(tmp_path / "job"), cfg=CFG, tail=tail_data,
        size_s=300, slide_s=60, with_hierarchy=True,
    )
    stream = build_page_records(read_pages_stream(spark, str(pages)), CFG)
    q1 = job.start_aggregate_query(stream)
    q1.processAllAvailable()
    q1.stop()
    q2 = job.start_detect_query(spark)
    q2.processAllAvailable()
    q2.stop()

    rca = spark.read.parquet(job.rca_dir)
    assert rca.filter(F.col("dim_level") > 1).count() > 0

    def _replay(cfg: TailConfig):
        replay = StreamingTail(cfg)
        out = []
        for f in sorted(os.listdir(job.aggs_dir)):
            if not f.endswith(".parquet"):
                continue
            chunk = pd.read_parquet(os.path.join(job.aggs_dir, f))
            if len(chunk) == 0:
                continue
            for ws, cur, rec, bd, hier in rows_to_windows(chunk):
                out.extend(replay.process_window(ws, cur, rec, bd, hier))
        return sorted(
            (e["seq"], e["dim_group"], e["dim_level"], e["dim_name"],
             e["dim_value"], f"{e['cost']:.6f}")
            for e in out if e["row_type"] == "rca"
        )

    got = sorted(
        (r.seq, r.dim_group, r.dim_level, r.dim_name, r.dim_value, f"{r.cost:.6f}")
        for r in rca.collect()
    )
    assert got == _replay(tail_data)
    # co-occurrence resolution == derivable-fn resolution on pages
    assert got == _replay(_pages_tail(max_value))


def test_streaming_zscore_matches_replay(spark, tmp_path):
    """EWMA z-score state held in the tail snapshot across micro-batches
    (north_star): streaming output == pure-Python replay of the same
    finalized windows."""
    import os

    import pandas as pd

    from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
        PagesSpec,
        generate_pages,
        read_pages_stream,
    )

    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    pages = tmp_path / "pages"
    pages.mkdir()
    _write_chunks(pdf, pages, 5)

    tail_cfg = TailConfig(mode="zscore", ewma_alpha=0.2, ewma_z_threshold=1.5)
    job = StreamingJob(
        work_dir=str(tmp_path / "job"), cfg=CFG, tail=tail_cfg,
        size_s=300, slide_s=60,
    )
    stream = build_page_records(read_pages_stream(spark, str(pages)), CFG)
    q1 = job.start_aggregate_query(stream)
    q1.processAllAvailable()
    q1.stop()
    q2 = job.start_detect_query(spark)
    q2.processAllAvailable()
    q2.stop()

    alerts = spark.read.parquet(job.alerts_dir)
    assert alerts.count() > 0

    replay = StreamingTail(tail_cfg)
    expected = []
    for f in sorted(os.listdir(job.aggs_dir)):
        if not f.endswith(".parquet"):
            continue
        chunk = pd.read_parquet(os.path.join(job.aggs_dir, f))
        if len(chunk):
            for ws, cur, rec, bd, hier in rows_to_windows(chunk):
                expected.extend(replay.process_window(ws, cur, rec, bd, hier))

    got = sorted(
        (r.seq, r.window_start_epoch, f"{r.current:.6f}", f"{r.baseline:.6f}",
         f"{r.score:.6f}" if r.score is not None else "null")
        for r in alerts.collect()
    )
    want = sorted(
        (e["seq"], e["window_start_epoch"], f"{e['current']:.6f}",
         f"{e['baseline']:.6f}",
         f"{e['score']:.6f}" if e["score"] is not None else "null")
        for e in expected if e["row_type"] == "alert"
    )
    assert got == want


def test_checkpoint_resume_hierarchy_cooc(spark, tmp_path):
    """Kill/resume with the DATA-DEPENDENT hierarchy (VERDICT r4 #5):
    the carried (parent_name, parent_value) columns ride the aggregate
    checkpoint, and the tail's window-scoped co-occurrence resolution
    must survive a restart — the resumed run's rca table equals one
    uninterrupted run, including level-2 rows whose parents were
    resolved from the data."""
    from .test_streaming import _norm_rows

    pdf = generate_pages(PagesSpec(n_pages=1500)).sort_values("warc_ts")
    inc = tmp_path / "pages_inc"
    inc.mkdir()
    _write_chunks(pdf.iloc[:750], inc, 3, start_idx=0)

    records_batch = build_page_records(spark.createDataFrame(pdf), CFG)
    max_value = _median_window_total(records_batch)
    tail_data = TailConfig(
        mode="threshold",
        rca_mode="hierarchical",
        max_value=max_value,
        parent_of=dict(CFG.hierarchy_pairs()),
        hierarchy_from_data=True,
        summary_size=5,
    )

    def run(pages_dir, work):
        job = StreamingJob(
            work_dir=work, cfg=CFG, tail=tail_data,
            size_s=300, slide_s=60, with_hierarchy=True,
        )
        stream = build_page_records(read_pages_stream(spark, str(pages_dir)), CFG)
        q1 = job.start_aggregate_query(stream)
        q1.processAllAvailable()
        q1.stop()
        q2 = job.start_detect_query(spark)
        q2.processAllAvailable()
        q2.stop()
        return job

    work = str(tmp_path / "job_inc")
    job = run(inc, work)
    mid_rca = spark.read.parquet(job.rca_dir).count()

    _write_chunks(pdf.iloc[750:], inc, 3, start_idx=3)
    job = run(inc, work)

    alldir = tmp_path / "pages_all"
    alldir.mkdir()
    _write_chunks(pdf, alldir, 6)
    gold = run(alldir, str(tmp_path / "job_gold"))

    got = spark.read.parquet(job.rca_dir)
    want = spark.read.parquet(gold.rca_dir)
    assert want.count() > mid_rca  # the resume actually added output
    assert want.filter(F.col("dim_level") > 1).count() > 0
    assert _norm_rows(got) == _norm_rows(want)
