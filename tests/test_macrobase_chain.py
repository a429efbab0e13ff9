"""End-to-end MacroBase chain golden tests — the analog of the
reference's crown-jewel pipeline tests (EWStreamingSummarizerTest
.scala:53-348), on deterministically re-synthesized fixtures
(FIXTURES.md): specs match the reference tests; goldens are the same
qualitative assertions (planted root cause is what gets reported).
The chain is the streaming tail's own: StreamingTail in macrobase
detection + macrobase RCA mode, one fixture row per window."""

import pandas as pd
import pytest

from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
    EWFeatureSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.algorithms.models import (
    Dimension,
)
from online_anomaly_detection_root_cause_analysis_spark.algorithms.summarizer import (
    SummarizerSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
    StreamingTail,
    TailConfig,
)

from .fixtures import make_sensor10k_power, make_sensor10k_temp, make_simple_low_metric


def _rows_from_df(df: pd.DataFrame, metric_col: str):
    """The reference readCSV convention (EWStreamingSummarizerTest
    .scala:19-51): metric column = current; every other column is a
    level-1 dimension whose group is its own name."""
    dim_cols = [c for c in df.columns if c != metric_col]
    for i, row in enumerate(df.itertuples(index=False)):
        d = row._asdict()
        yield i, float(d[metric_col]), {c: str(d[c]) for c in dim_cols}


def _macrobase_tail(det: EWFeatureSpec, summ: SummarizerSpec) -> TailConfig:
    return TailConfig(
        mode="macrobase", rca_mode="macrobase",
        detector_spec=det, summarizer_spec=summ,
    )


def _tail_rca(df: pd.DataFrame, metric_col: str, det, summ) -> list[dict]:
    """Each fixture row through the streaming tail as one window whose
    breakdown gives every dimension the row's metric; the rca rows."""
    tail = StreamingTail(_macrobase_tail(det, summ))
    out = []
    for seq, current, dims in _rows_from_df(df, metric_col):
        breakdown = {Dimension(n, v, n, 1): current for n, v in dims.items()}
        rows = tail.process_window(seq, current, 1, breakdown)
        out.extend(r for r in rows if r["row_type"] == "rca")
    return out


def _summaries(rows_long: list[dict]) -> list[list[tuple[str, str]]]:
    by_id: dict[int, list[tuple[str, str]]] = {}
    for r in rows_long:
        by_id.setdefault(r["summary_id"], []).append((r["dim_name"], r["dim_value"]))
    return [by_id[k] for k in sorted(by_id)]


def test_mad_analyzer_simple():
    # spec: EWStreamingSummarizerTest.scala:66-89 (testMADAnalyzer)
    det = EWFeatureSpec(
        warmup_count=10, sample_size=10, decay_period=50, decay_rate=0.01,
        training_period=50, percentile=0.99,
    )
    summ = SummarizerSpec(
        summary_update_period=50, decay_rate=0.01, outlier_item_summary_size=1000,
        inlier_item_summary_size=1000, min_oi_ratio=1, min_support=0.02,
        attributes=["A1", "A2", "A3", "A4"], attribute_combinations=True,
        summary_generation_period=99,
    )
    df = make_simple_low_metric()
    out = _tail_rca(df, "A5", det, summ)
    summaries = _summaries(out)
    assert len(summaries) >= 1
    # golden (reference asserts 1 summary whose top dimension is A1=0;
    # emission order is (num_records desc, size desc) so the planted
    # root cause leads)
    assert summaries[0][0] == ("A1", "0")


def test_sensor10k_power():
    # spec: EWStreamingSummarizerTest.scala:152-175 (testSensor10KPower)
    det = EWFeatureSpec(
        warmup_count=100, sample_size=1000, decay_period=1000, decay_rate=0.01,
        training_period=1000, percentile=0.99,
    )
    summ = SummarizerSpec(
        summary_update_period=50, decay_rate=0.01, outlier_item_summary_size=1000,
        inlier_item_summary_size=1000, min_oi_ratio=1, min_support=0.01,
        attributes=["device_id"], attribute_combinations=True,
        summary_generation_period=9999,
    )
    df = make_sensor10k_power()
    out = _tail_rca(df, "power_drain", det, summ)
    summaries = _summaries(out)
    # golden: exactly one summary, its single dimension is device 2040
    assert len(summaries) == 1
    assert summaries[0] == [("device_id", "2040")]


def test_sensor10k_temp():
    # spec: EWStreamingSummarizerTest.scala:246-270 (testSensor10KTemp)
    det = EWFeatureSpec(
        warmup_count=100, sample_size=1000, decay_period=1000, decay_rate=0.01,
        training_period=1000, percentile=0.99,
    )
    summ = SummarizerSpec(
        summary_update_period=1000, decay_rate=0.01, outlier_item_summary_size=1000,
        inlier_item_summary_size=1000, min_oi_ratio=1, min_support=0.06,
        attributes=["device_id", "model", "firmware_version"],
        attribute_combinations=True, summary_generation_period=9999,
    )
    df = make_sensor10k_temp()
    out = _tail_rca(df, "temperature", det, summ)
    summaries = _summaries(out)
    assert len(summaries) >= 1
    # golden: every reported dimension is firmware 0.4 and/or M101,
    # never more than 2 dims per summary
    for s in summaries:
        assert len(s) <= 2
        for name, value in s:
            if name == "firmware_version":
                assert value == "0.4"
            elif name == "model":
                assert value == "M101"
            else:
                pytest.fail(f"unexpected dimension {name}={value}")


def test_macrobase_spark_wrapper(spark):
    """Same chain through the Spark batch replay (make_batch_tail), on
    long-form aggregate rows: one window per fixture row, its metric as
    the window total and as every dimension's sum. Dimensions reach
    the tail ordered by name (rows_to_windows), which for A1..A4 is
    the fixture's own column order."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TOTAL_DIM,
        make_batch_tail,
    )

    det = EWFeatureSpec(
        warmup_count=10, sample_size=10, decay_period=50, decay_rate=0.01,
        training_period=50, percentile=0.99,
    )
    summ = SummarizerSpec(
        summary_update_period=50, decay_rate=0.01, outlier_item_summary_size=1000,
        inlier_item_summary_size=1000, min_oi_ratio=1, min_support=0.02,
        attributes=["A1", "A2", "A3", "A4"], attribute_combinations=True,
        summary_generation_period=99,
    )
    df = make_simple_low_metric()
    long_form = [
        (seq, name, value, name, 1, current, 1)
        for seq, current, dims in _rows_from_df(df, "A5")
        for name, value in [*dims.items(), (TOTAL_DIM, TOTAL_DIM)]
    ]
    aggs = spark.createDataFrame(
        long_form,
        "window_start_epoch long, dim_name string, dim_value string, "
        "dim_group string, dim_level int, dim_sum double, dim_count long",
    )
    out = (
        make_batch_tail(aggs, _macrobase_tail(det, summ))
        .filter("row_type = 'rca'")
        .collect()
    )
    # identical to the pure-Python run
    pure = _tail_rca(df, "A5", det, summ)
    assert len(out) == len(pure)
    spark_set = sorted(
        (r.summary_id, r.num_records, r.dim_name, r.dim_value) for r in out
    )
    pure_set = sorted(
        (r["summary_id"], r["num_records"], r["dim_name"], r["dim_value"]) for r in pure
    )
    assert spark_set == pure_set


def test_pairs_gate_operating_point_precondition():
    """Operating-point precondition for `macrobase_summaries_pairs`
    (r5): at dominant-value 2-item transactions over the STRATIFIED
    (event_type, user_parity) attribute pair with per-tuple
    interesting refresh, the FP-trees' pair supports must equal the
    closed-form first-outlier-occurrence-gated pair counts the DuckDB
    oracle computes. (With a non-stratified attribute pair, count
    crossings leave stale paths getSupport misses — see the query
    docstring.) Pure-Python over the sf0.001 driver fixture: replay
    the detector for flags, feed the summarizer, compare EVERY pair
    emission against the model."""
    import duckdb

    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewpercentile import (
        EWAppxPercentileAuxiliary,
    )
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureTransform,
    )
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.models import (
        AggregatedRecordsWBaseline,
        AnomalyEvent,
        Dimension,
    )
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.summarizer import (
        ExponentiallyDecayingEmergingItemsets,
    )

    duck = duckdb.connect()
    duck.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    seq_rows = duck.execute("""
        WITH tot AS (
          SELECT CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS ws,
                 floor(sum(value)*1000000 + 0.5)/1000000 AS v
          FROM events GROUP BY 1
        ),
        ti AS (SELECT ws, v, row_number() OVER (ORDER BY ws) AS t FROM tot),
        doms AS (
          SELECT ws, dname, val FROM (
            SELECT ws, dname, val,
                   row_number() OVER (PARTITION BY ws, dname ORDER BY s DESC, val) AS rn
            FROM (
              SELECT CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS ws,
                     'event_type' AS dname, event_type AS val,
                     floor(sum(value)*1000000 + 0.5)/1000000 AS s
              FROM events GROUP BY 1, 3
              UNION ALL
              SELECT CAST(floor(epoch(ts)/1800)*1800 AS BIGINT),
                     'user_parity', CAST(user_id % 2 AS VARCHAR),
                     floor(sum(value)*1000000 + 0.5)/1000000
              FROM events GROUP BY 1, 3
            )
          ) WHERE rn = 1
        )
        SELECT ti.t, ti.v,
               max(CASE WHEN d.dname='event_type' THEN d.val END) AS v1,
               max(CASE WHEN d.dname='user_parity' THEN d.val END) AS v2
        FROM ti JOIN doms d ON d.ws = ti.ws
        GROUP BY 1, 2 ORDER BY 1
    """).fetchall()

    spec = EWFeatureSpec(
        warmup_count=4, sample_size=1_000_000, decay_period=1_000_000_000,
        decay_rate=0.0, training_period=1, percentile=0.5,
    )
    scorer, classifier = EWFeatureTransform(spec), EWAppxPercentileAuxiliary(spec)
    summ = ExponentiallyDecayingEmergingItemsets(
        inlier_summary_size=1000, outlier_summary_size=1000,
        min_support_outlier=0.0, min_ratio=0.0, exponential_decay_rate=0.0,
        attribute_dimension=2, combinations_enabled=True,
        summary_update_period=0, summarization_time=24,
    )
    flags: dict[int, bool] = {}
    emitted: dict[int, list] = {}
    items = {t: (v1, v2) for t, _v, v1, v2 in seq_rows}
    # the classifier flushes records in tuple order, so the k-th
    # emitted event is window k's — replay detector + summarizer
    n_tuple = 0
    for t, v, v1, v2 in seq_rows:
        rec = AggregatedRecordsWBaseline(
            current=v, baseline=0.0,
            current_dimensions_breakdown={
                Dimension("event_type", v1, "type", 1): 1.0,
                Dimension("user_parity", v2, "user", 1): 1.0,
            },
            baseline_dimensions_breakdown={}, dimensions_hierarchy={},
            records_in_baseline_offset=0,
        )
        for r1, score in scorer.process(rec, v):
            for r2, is_outlier in classifier.process(r1, score):
                n_tuple += 1
                flags[n_tuple] = bool(is_outlier)
                ev = AnomalyEvent(
                    anomaly_id=str(n_tuple), detected_at=n_tuple, epoch=0,
                    record=r2, is_outlier=bool(is_outlier),
                )
                for res in summ.process(ev):
                    emitted.setdefault(n_tuple, []).append(res)

    assert any(flags.values()) and not all(flags.values())

    fo: dict[tuple, int] = {}
    for t in sorted(flags):
        if flags[t]:
            v1, v2 = items[t]
            fo.setdefault(("event_type", v1), t)
            fo.setdefault(("user_parity", v2), t)

    n_pairs_checked = 0
    for T, results in emitted.items():
        model: dict[tuple, int] = {}
        for t in sorted(items):
            if t >= T:
                break
            v1, v2 = items[t]
            a, b = ("event_type", v1), ("user_parity", v2)
            if a in fo and b in fo and fo[a] < t and fo[b] < t and flags[t]:
                model[(v1, v2)] = model.get((v1, v2), 0) + 1
        for res in results:
            if len(res.dimension_summaries) != 2:
                continue
            kv = {d.dimension.name: d.dimension.value
                  for d in res.dimension_summaries}
            key = (kv["event_type"], kv["user_parity"])
            assert model.get(key) == res.num_records, (T, key, res.num_records)
            n_pairs_checked += 1
    assert n_pairs_checked > 50  # the branch under test actually fired


def test_combined_gate_dyadic_exactness_bound():
    """Operating-point precondition for the COMBINED
    `macrobase_summaries` gate (r7): with decay_rate 0.5 and period
    P=250, every AMC/FP-tree count is a sum of dyadics with LSB
    2^-(T_max//P); the sum is order-independent (hence cross-engine
    bit-exact) only while T_max//P + log2(#observations) <= 53. Assert
    the bound holds WITH MARGIN at both driver-gate scales, so a
    future fixture regeneration that grows the window count trips this
    test instead of silently flipping the hash gate."""
    import duckdb

    for sf in ("0.001", "0.01"):
        (n_windows,) = duckdb.execute(
            "SELECT count(DISTINCT CAST(floor(epoch(ts)/1800) AS BIGINT)) "
            f"FROM read_parquet('/root/testdata/sf{sf}/events.parquet')"
        ).fetchone()
        k_bits = n_windows // 250
        obs_bits = (2 * n_windows).bit_length()  # 2 attr marks per tuple
        assert k_bits + obs_bits <= 48, (
            f"sf{sf}: {n_windows} windows -> LSB 2^-{k_bits} + {obs_bits} "
            "count bits approaches the 53-bit mantissa; re-derive P"
        )
