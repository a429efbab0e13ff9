"""Detection-method x RCA-method cross product (reference
MainJob.scala:25-110: anomaly_detection.method and
root_cause_analysis.method are independent config axes). The tail must
support all 2 x 3 combinations; the three reference-default pairings
are covered elsewhere (test_streaming*.py), these are the cross terms.

Faithful quirk: the contributor finders map EVERY AnomalyEvent the
detector emits — no isOutlier filter (HierarchicalContributorsFinder
.scala:19-25, SimpleContributorsFinder.scala:16-19) — so macrobase
detection + simple/hierarchical RCA emits RCA rows for inlier windows
too.
"""

from functools import partial

from pyspark.sql import functions as F

from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
    EWFeatureSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.algorithms.summarizer import (
    SummarizerSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.config import (
    modulo_parent_value,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
    long_form_window_aggs,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
    TOTAL_DIM,
    TailConfig,
    make_batch_tail,
)

SF = "/root/testdata/sf0.001"


def _aggs(spark):
    import __spark_entry__ as entrymod

    df = spark.read.parquet(f"{SF}/events.parquet")
    records = df.select(
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
        F.col("event_type"),
        (F.col("user_id") % 5).cast("string").alias("user_band"),
        (F.col("user_id") % 10).cast("string").alias("user_bucket"),
    )
    return long_form_window_aggs(records, entrymod.hier_events_config(), 300, 60)


def _detector_spec():
    return EWFeatureSpec(
        warmup_count=20, sample_size=50, decay_period=100,
        decay_rate=0.01, training_period=100, percentile=0.95,
    )


def _summarizer_spec():
    return SummarizerSpec(
        summary_update_period=50, decay_rate=0.01,
        outlier_item_summary_size=500, inlier_item_summary_size=500,
        min_oi_ratio=1, min_support=0.05,
        attributes=["event_type", "user_band", "user_bucket"],
        attribute_combinations=True, summary_generation_period=100,
    )


def test_threshold_detection_with_macrobase_summarizer(spark):
    aggs = _aggs(spark)
    avg = aggs.filter(F.col("dim_name") == TOTAL_DIM).agg(F.avg("dim_sum")).first()[0]
    tail = TailConfig(
        mode="threshold", rca_mode="macrobase",
        min_value=0.4 * avg, max_value=1.6 * avg,
        summarizer_spec=_summarizer_spec(),
    )
    out = make_batch_tail(aggs, tail).cache()
    alerts = out.filter(F.col("row_type") == "alert")
    rca = out.filter(F.col("row_type") == "rca")
    assert alerts.count() > 0
    # Faithful quirk: a threshold detector emits ONLY outlier events,
    # so the summarizer's inlier reservoir stays empty and every
    # corrected risk ratio degenerates to 0 (pattern in all outliers:
    # totalMinusExposed == 0, RiskRatio.scala:24-26) or NaN
    # (unexposedInlierCount/unexposedInlierCount = 0/0, :39) — both
    # fail the minRatio gate, so this reference combination produces
    # alerts but no RCA summaries. The pipeline must survive it
    # without error (round-1 port raised ZeroDivisionError here).
    assert rca.count() == 0
    out.unpersist()


def test_macrobase_detection_with_simple_rca(spark):
    aggs = _aggs(spark)
    tail = TailConfig(
        mode="macrobase", rca_mode="simple", detector_spec=_detector_spec(),
    )
    out = make_batch_tail(aggs, tail).cache()
    alerts = out.filter(F.col("row_type") == "alert")
    rca = out.filter(F.col("row_type") == "rca")
    assert alerts.count() > 0
    # contributor output shape: cost populated, no summarizer fields
    assert rca.count() > 0
    assert rca.filter(F.col("cost").isNotNull()).count() == rca.count()
    assert rca.filter(F.col("support").isNotNull()).count() == 0
    # the unfiltered-map quirk: RCA rows exist for inlier events too
    inlier_seqs = {r.seq for r in alerts.filter(~F.col("is_outlier")).collect()}
    rca_seqs = {r.seq for r in rca.collect()}
    assert inlier_seqs & rca_seqs
    out.unpersist()


def test_macrobase_detection_with_hierarchical_rca(spark):
    aggs = _aggs(spark)
    tail = TailConfig(
        mode="macrobase", rca_mode="hierarchical", detector_spec=_detector_spec(),
        parent_of={"user_bucket": "user_band"},
        parent_value_fn=partial(modulo_parent_value, 5),
    )
    out = make_batch_tail(aggs, tail).cache()
    rca = out.filter(F.col("row_type") == "rca")
    assert rca.count() > 0
    # hierarchical rows carry group + level, including level-2 children
    assert rca.filter(F.col("dim_group").isNull()).count() == 0
    assert rca.filter(F.col("dim_level") == 2).count() > 0
    out.unpersist()


def test_rca_mode_defaults_match_reference_pairings():
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        StreamingTail,
    )

    assert StreamingTail(TailConfig(mode="threshold")).rca == "simple"
    t = StreamingTail(
        TailConfig(
            mode="macrobase",
            detector_spec=_detector_spec(),
            summarizer_spec=_summarizer_spec(),
        )
    )
    assert t.rca == "macrobase"


def _window(a: dict, b: dict) -> tuple[float, dict]:
    """(window total, breakdown) over two level-1 dimensions, `a` in
    group g1 and `b` in group g2; each group sums to the total."""
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.models import (
        Dimension,
    )

    bd = {Dimension("a", v, "g1", 1): x for v, x in a.items()}
    bd.update({Dimension("b", v, "g2", 1): x for v, x in b.items()})
    return sum(a.values()), bd


# three quiet windows, then two above max_value=100; a=z first appears
# in window 180, so it has no baseline there
_RANKED_WINDOWS = [
    _window({"x": 20.0, "y": 20.0}, {"p": 20.0, "q": 20.0}),
    _window({"x": 20.0, "y": 20.0}, {"p": 20.0, "q": 20.0}),
    _window({"x": 20.0, "y": 20.0}, {"p": 20.0, "q": 20.0}),
    _window({"x": 60.0, "y": 30.0, "z": 60.0}, {"p": 100.0, "q": 50.0}),
    _window({"x": 30.0, "y": 90.0, "z": 30.0}, {"p": 50.0, "q": 100.0}),
]
_FINDER_COLS = (
    "value_change_pct", "contribution_change_pct",
    "contribution_to_overall_change_pct", "rank",
)


def _threshold_rows(**rca) -> tuple[list, list]:
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        StreamingTail,
    )

    tail = StreamingTail(TailConfig(mode="threshold", max_value=100.0, **rca))
    rows = []
    for i, (current, bd) in enumerate(_RANKED_WINDOWS):
        rows.extend(tail.process_window(i * 60, current, 1, bd))
    alerts = [r for r in rows if r["row_type"] == "alert"]
    assert [r["window_start_epoch"] for r in alerts] == [180, 240]
    for r in alerts:
        assert all(r[c] is None for c in _FINDER_COLS), r
    return alerts, [r for r in rows if r["row_type"] == "rca"]


def _ranked_by(rows: list, key) -> dict:
    """Group rows by `key`; within each group `rank` must run 1..n in
    the finder's (-cost, name, value) order."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(key(r), []).append(r)
    for k, grp in groups.items():
        by_rank = sorted(grp, key=lambda r: r["rank"])
        assert [r["rank"] for r in by_rank] == list(range(1, len(grp) + 1)), k
        assert by_rank == sorted(
            grp, key=lambda r: (-r["cost"], r["dim_name"], r["dim_value"])
        ), k
    return groups


def test_contributor_rows_carry_change_pcts_and_rank():
    """The tail's simple/hierarchical rca rows carry the finder's three
    change percentages (NULL, never NaN, on a zero denominator) and the
    1-based rank; alert rows leave all four NULL."""
    _, simple = _threshold_rows(rca_mode="simple")
    per_window = _ranked_by(simple, lambda r: r["window_start_epoch"])
    assert sorted(per_window) == [180, 240]
    assert all(len(grp) >= 2 for grp in per_window.values())
    new_dim = next(r for r in per_window[180] if r["dim_value"] == "z")
    assert new_dim["value_change_pct"] is None  # baseline 0: no ratio
    assert new_dim["contribution_change_pct"] == 40.0
    assert new_dim["contribution_to_overall_change_pct"] == 54.5455
    assert new_dim["rank"] == 1

    _, hier = _threshold_rows(rca_mode="hierarchical")
    per_group = _ranked_by(hier, lambda r: (r["window_start_epoch"], r["dim_group"]))
    assert {g for _, g in per_group} == {"g1", "g2"}
    assert max(len(grp) for grp in per_group.values()) >= 2
