"""Streaming MacroBase tail: the pickled scorer/classifier/summarizer
state must survive micro-batch boundaries and checkpoints — streaming
output == single-pass batch replay of the same finalized windows."""

import os

from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
    EWFeatureSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.algorithms.summarizer import (
    SummarizerSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.config import web_pages_config
from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
    PagesSpec,
    generate_pages,
    read_pages_stream,
)
from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
    build_page_records,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.job import StreamingJob
from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
    StreamingTail,
    TailConfig,
    rows_to_windows,
)

from .test_streaming import _read_tail_table, _write_chunks

CFG = web_pages_config()


def _macrobase_tail() -> TailConfig:
    return TailConfig(
        mode="macrobase",
        detector_spec=EWFeatureSpec(
            warmup_count=20, sample_size=50, decay_period=100,
            decay_rate=0.01, training_period=100, percentile=0.95,
        ),
        summarizer_spec=SummarizerSpec(
            summary_update_period=50, decay_rate=0.01,
            outlier_item_summary_size=500, inlier_item_summary_size=500,
            min_oi_ratio=1, min_support=0.05,
            attributes=[d.name for d in CFG.dimensions],
            attribute_combinations=True, summary_generation_period=100,
        ),
    )


def test_streaming_macrobase_matches_replay(spark, tmp_path):
    pdf = generate_pages(PagesSpec(n_pages=2500)).sort_values("warc_ts")
    pages = tmp_path / "pages"
    pages.mkdir()
    _write_chunks(pdf, pages, 6)

    job = StreamingJob(
        work_dir=str(tmp_path / "job"), cfg=CFG, tail=_macrobase_tail(),
        size_s=300, slide_s=60,
    )
    stream = build_page_records(read_pages_stream(spark, str(pages)), CFG)
    q1 = job.start_aggregate_query(stream)
    q1.processAllAvailable()
    q1.stop()
    q2 = job.start_detect_query(spark)
    q2.processAllAvailable()
    q2.stop()

    alerts = _read_tail_table(spark, job.alerts_dir)
    rca = _read_tail_table(spark, job.rca_dir)
    assert alerts.count() > 0

    # pure-Python replay over the identical finalized windows
    import pandas as pd

    replay = StreamingTail(_macrobase_tail())
    expected = []
    for f in sorted(os.listdir(job.aggs_dir)):
        if not f.endswith(".parquet"):
            continue
        chunk = pd.read_parquet(os.path.join(job.aggs_dir, f))
        if len(chunk) == 0:
            continue
        for ws, cur, rec, bd, hier in rows_to_windows(chunk):
            expected.extend(replay.process_window(ws, cur, rec, bd, hier))

    exp_alerts = [e for e in expected if e["row_type"] == "alert"]
    exp_rca = [e for e in expected if e["row_type"] == "rca"]
    got_alerts = sorted(
        (r.seq, r.window_start_epoch, bool(r.is_outlier), f"{r.score:.6f}")
        for r in alerts.collect()
    )
    want_alerts = sorted(
        (e["seq"], e["window_start_epoch"], bool(e["is_outlier"]), f"{e['score']:.6f}")
        for e in exp_alerts
    )
    assert got_alerts == want_alerts
    got_rca = sorted(
        (r.seq, r.dim_name, r.dim_value, f"{r.ratio_to_inliers:.6f}" if r.ratio_to_inliers is not None else "inf")
        for r in rca.collect()
    )
    want_rca = sorted(
        (e["seq"], e["dim_name"], e["dim_value"],
         f"{e['ratio_to_inliers']:.6f}" if e["ratio_to_inliers"] is not None else "inf")
        for e in exp_rca
    )
    assert got_rca == want_rca


def _macrobase_soak_tail() -> TailConfig:
    """MacroBase detection x MacroBase RCA with SHORT decay/emission
    periods so reservoir decay, AMC decay, FP-tree rebuilds, and
    summary emissions all tick MANY times across each resume boundary
    (gen 30 over ~234 windows -> ~7 emissions; update 25 -> ~9 decay
    cycles)."""
    return TailConfig(
        mode="macrobase",
        rca_mode="macrobase",
        detector_spec=EWFeatureSpec(
            warmup_count=20, sample_size=50, decay_period=40,
            decay_rate=0.01, training_period=15, percentile=0.95,
        ),
        summarizer_spec=SummarizerSpec(
            summary_update_period=25, decay_rate=0.01,
            outlier_item_summary_size=500, inlier_item_summary_size=500,
            min_oi_ratio=1, min_support=0.02,
            attributes=[d.name for d in CFG.dimensions],
            attribute_combinations=True, summary_generation_period=30,
        ),
    )


def test_checkpoint_resume_macrobase(spark, tmp_path):
    """MacroBase x MacroBase resume soak (VERDICT r4 #3): the pickled
    tail state here is the engine's largest and most evolution-prone
    (ADR reservoirs incl. RNG state, AMC sketches, TWO FP-trees, the
    integer encoder). Kill + restart at TWO points — MID-WARM-UP
    (before the classifier's first flush; asserted empty alerts) and
    MID-STEADY-STATE (decay periods and summary emissions already
    ticking) — and assert the doubly-resumed run's alert AND rca
    tables equal one uninterrupted golden run, row-for-row."""
    import pandas as pd

    from .test_streaming import _norm_rows

    pdf = generate_pages(PagesSpec(n_pages=2500)).sort_values("warc_ts")
    ts0 = pdf["warc_ts"].min()
    # ~10 min of event time = ~10-14 sliding windows < warmup_count=20
    a = pdf[pdf["warc_ts"] < ts0 + pd.Timedelta(minutes=10)]
    b = pdf[
        (pdf["warc_ts"] >= ts0 + pd.Timedelta(minutes=10))
        & (pdf["warc_ts"] < ts0 + pd.Timedelta(minutes=115))
    ]
    c = pdf[pdf["warc_ts"] >= ts0 + pd.Timedelta(minutes=115)]
    assert len(a) and len(b) and len(c)

    inc_path = tmp_path / "pages_inc"
    inc_path.mkdir(parents=True)
    tail = _macrobase_soak_tail()
    work = str(tmp_path / "job_inc")

    def run(pages_dir, work_dir):
        job = StreamingJob(
            work_dir=work_dir, cfg=CFG, tail=tail, size_s=300, slide_s=60,
        )
        stream = build_page_records(read_pages_stream(spark, str(pages_dir)), CFG)
        q1 = job.start_aggregate_query(stream)
        q1.processAllAvailable()
        q1.stop()
        q2 = job.start_detect_query(spark)
        q2.processAllAvailable()
        q2.stop()
        return job

    # leg 1: kill mid-warm-up — no classifier flush yet
    _write_chunks(a, inc_path, 2, start_idx=0)
    job = run(inc_path, work)
    assert _read_tail_table(spark, job.alerts_dir).count() == 0

    # leg 2: resume into steady state (warm-up flush + emissions)
    _write_chunks(b, inc_path, 3, start_idx=2)
    job = run(inc_path, work)
    mid_alerts = _read_tail_table(spark, job.alerts_dir).count()
    assert mid_alerts > 0

    # leg 3: resume again mid-steady-state
    _write_chunks(c, inc_path, 3, start_idx=5)
    job = run(inc_path, work)

    # golden: one uninterrupted run over all data
    all_path = tmp_path / "pages_all"
    all_path.mkdir(parents=True)
    _write_chunks(pdf, all_path, 8)
    gold = run(all_path, str(tmp_path / "job_gold"))

    got_alerts = spark.read.parquet(job.alerts_dir)
    want_alerts = spark.read.parquet(gold.alerts_dir)
    assert want_alerts.count() > mid_alerts
    assert _norm_rows(got_alerts) == _norm_rows(want_alerts)

    got_rca = spark.read.parquet(job.rca_dir)
    want_rca = spark.read.parquet(gold.rca_dir)
    assert want_rca.count() > 0  # the summarizer actually emitted
    assert _norm_rows(got_rca) == _norm_rows(want_rca)
