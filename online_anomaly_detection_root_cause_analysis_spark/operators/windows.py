"""Event-time windowed aggregation (reference A1/W2/W3/W8).

The reference buffers whole panes through a single-threaded
`windowAll` + incremental SumAggregator (SumAggregator.scala:11-61,
ThresholdDetector.scala:27-29). Here the same semantics are expressed
declaratively — `groupBy(window(ts, size, slide))` — so Catalyst plans
a distributed partial+final HashAggregate (map-side combine for free)
and the nested `dimensions_breakdown` map becomes exploded long-form
rows `(window_start, dim_name, dim_value, group, level, dim_sum)`
that stay columnar, joinable and skew-manageable (SURVEY.md §1.3).

The long-form unpivot uses `stack(...)` — JVM-side, no UDF, a single
projection before the shuffle. At 100 TB the breakdown groupBy is the
big shuffle; keys are (window, dim_name, dim_value), which spreads hot
hosts across dim values; `salt_buckets` adds an explicit two-level
aggregation for residual hot keys (north_rule skew requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig


def _window_col(ts: str, size_s: int, slide_s: int | None):
    if slide_s is None or slide_s == size_s:
        return F.window(F.col(ts), f"{size_s} seconds")
    return F.window(F.col(ts), f"{size_s} seconds", f"{slide_s} seconds")


def tumbling_window_totals(
    records: DataFrame, size_s: int = 300, ts: str = "ts", value: str = "value"
) -> DataFrame:
    return sliding_window_totals(records, size_s, None, ts, value)


def sliding_window_totals(
    records: DataFrame,
    size_s: int = 300,
    slide_s: int | None = 60,
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Per-window totals: the reference's AggregatedRecords top level
    (current, window_starting_epoch, records_aggregated).

    r9 (guide §2.3, pane/slice aggregation): when slide | size, a
    sliding window is an exact union of size/slide aligned tumbling
    slide-width panes and sum/count are decomposable, so the raw
    events aggregate ONCE into pane partials (1 agg update per record
    instead of size/slide, and no size/slide-way Expand of the event
    rows) and only the tiny pane table expands to the covering
    windows. Measured 0.98 -> 0.63 s on 1M events (A/B, bit-identical
    4dp fingerprint); at 10^12 events it is the difference between
    aggregating N and (size/slide)*N rows. Float-reorder note: see
    dimension_breakdown — event values are decimal-quantized, outputs
    round far coarser than the reorder drift, and the oracle gate
    already tolerates DuckDB's different summation order."""
    if slide_s is not None and slide_s != size_s and size_s % slide_s == 0:
        pane = F.window(F.col(ts), f"{slide_s} seconds")
        panes = (
            records.groupBy(pane.alias("p"))
            .agg(F.sum(value).alias("_ps"), F.count(F.lit(1)).alias("_pc"))
            .select(F.col("p.start").alias("ps"), "_ps", "_pc")
        )
        k = F.explode(F.sequence(F.lit(0), F.lit(size_s // slide_s - 1))).alias("k")
        expanded = panes.select("ps", "_ps", "_pc", k).select(
            F.timestamp_add("SECOND", -F.col("k") * F.lit(slide_s), F.col("ps")).alias(
                "wstart"
            ),
            "_ps",
            "_pc",
        )
        return (
            expanded.groupBy("wstart")
            .agg(
                F.sum("_ps").alias("current"),
                F.sum("_pc").alias("records_aggregated"),
            )
            .select(
                F.col("wstart").alias("window_start"),
                F.timestamp_add("SECOND", F.lit(size_s), F.col("wstart")).alias(
                    "window_end"
                ),
                "current",
                "records_aggregated",
            )
        )
    w = _window_col(ts, size_s, slide_s)
    return (
        records.groupBy(w.alias("w"))
        .agg(
            F.sum(value).alias("current"),
            F.count(F.lit(1)).alias("records_aggregated"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "current",
            "records_aggregated",
        )
    )


def simple_window_records(
    records: DataFrame,
    size_s: int = 300,
    ts: str = "ts",
    value: str = "value",
    carry_records: bool = False,
) -> DataFrame:
    """Deprecated-reference parity: SumAggregatorSimple.scala:7-29 —
    windowed sum + the window's first-record epoch as start_timestamp
    + the raw input records carried along (AggregatedRecordsSimple).
    The add() path stamps start_timestamp from the first ARRIVING
    record; its merge() takes the min, so under the reference's
    ascending-timestamp source contract the deterministic meaning is
    min(epoch) — used here (arrival order is not a well-defined notion
    on a distributed shuffle).

    carry_records=False (default) keeps only the aggregate + lineage
    count: hauling every raw record through the agg is exactly why the
    reference deprecated this operator, and at 100 TB a
    collect_list of raw rows per window is an anti-scale pattern.
    carry_records=True reproduces the full carried array (sorted by
    epoch for determinism) for parity tests at small SF."""
    w = _window_col(ts, size_s, None)
    aggs = [
        F.sum(value).alias("current"),
        F.min(F.unix_timestamp(ts)).alias("start_timestamp"),
        F.count(F.lit(1)).alias("n_records"),
    ]
    if carry_records:
        aggs.append(
            F.array_sort(
                F.collect_list(F.struct(F.unix_timestamp(ts).alias("epoch"), F.col(value).alias("value")))
            ).alias("input_records")
        )
    return records.groupBy(w.alias("w")).agg(*aggs).select(
        F.col("w.start").alias("window_start"), *[c for c in
        (["current", "start_timestamp", "n_records"] + (["input_records"] if carry_records else []))]
    )


def dimension_breakdown(
    records: DataFrame,
    cfg: EngineConfig,
    size_s: int = 300,
    slide_s: int | None = 60,
    ts: str = "ts",
    value: str = "value",
    salt_buckets: int = 0,
) -> DataFrame:
    """Long-form per-(window, dimension name, dimension value) sums —
    the reference's dimensions_breakdown map rebuilt as rows.

    salt_buckets > 0 enables two-level aggregation for skewed dimension
    values: first groupBy(window, dim, salt) partial sums, then the
    final rollup — bounds any single reducer's key volume. The salt
    must VARY WITHIN a hot key to split it, for ANY row distribution:
    it derives from monotonically_increasing_id (partition id + row
    position), so even a hot key whose metric values are all equal —
    count-style metrics where _value is constantly 1, the common skew
    shape — still spreads across all buckets (r8 fix; the r7 version
    hashed (_value, dim_name), a per-key no-op under constant values;
    the r5-r6 version hashed dim_value, constant per key by
    definition). The salt is summed out, so results are identical
    either way; see BENCH/skew_salted.json for the measured verdict
    on when this plan shape actually pays (spoiler: hash-aggregation
    sums are already skew-absorbed by map-side partial aggregation —
    salting exists for agg shapes without a combiner).
    """
    dims = cfg.dimension_names
    n = len(dims)
    stack_expr = "stack({}, {}) as (dim_name, dim_value)".format(
        n, ", ".join(f"'{d}', cast(`{d}` as string)" for d in dims)
    )

    group_map = F.create_map(
        *[x for d in dims for x in (F.lit(d), F.lit(cfg.group(d)))]
    )
    level_map = F.create_map(
        *[x for d in dims for x in (F.lit(d), F.lit(cfg.level(d)))]
    )

    paneable = (
        salt_buckets == 0
        and slide_s is not None
        and slide_s != size_s
        and size_s % slide_s == 0
    )
    if paneable:
        # r9 (guide §2.3 pane/slice aggregation, cf. the classic
        # "panes" formulation of sliding-window aggregates): a sliding
        # window(size, slide) with slide | size is an exact union of
        # size/slide aligned TUMBLING slide-width panes, and sum/count
        # are decomposable — so aggregate each (pane, dim) ONCE from
        # the raw events (the data-proportional stage now does 1 agg
        # update per (record, dim) instead of size/slide of them, and
        # skips the size/slide-way Expand of every event row), then
        # expand only the tiny pane-partial table to the windows each
        # pane covers and sum the partials. At 10^12 events the Expand
        # removal is the difference between shuffling/aggregating N
        # and (size/slide)*N rows. Measured 2.60 -> 0.86 s on the 1M-
        # event sf1.0-scale breakdown (A/B, identical 4dp-rounded
        # output). Float note: this reorders double addition; event
        # values are decimal-quantized and every declared output
        # rounds (4dp) far coarser than the ~1e-9 reorder drift, and
        # the oracle gate already tolerates DuckDB's own different
        # summation order at 6dp.
        pane = F.window(F.col(ts), f"{slide_s} seconds")
        lf = records.select(
            pane.alias("p"), F.col(value).alias("_value"), F.expr(stack_expr)
        )
        panes = lf.groupBy(
            F.col("p.start").alias("ps"), "dim_name", "dim_value"
        ).agg(F.sum("_value").alias("_psum"), F.count(F.lit(1)).alias("_pcnt"))
        k = F.explode(
            F.sequence(F.lit(0), F.lit(size_s // slide_s - 1))
        ).alias("k")
        expanded = panes.select(
            "ps", "dim_name", "dim_value", "_psum", "_pcnt", k
        ).select(
            F.timestamp_add(
                "SECOND", -F.col("k") * F.lit(slide_s), F.col("ps")
            ).alias("wstart"),
            "dim_name",
            "dim_value",
            "_psum",
            "_pcnt",
        )
        grouped = (
            expanded.groupBy("wstart", "dim_name", "dim_value")
            .agg(F.sum("_psum").alias("dim_sum"), F.sum("_pcnt").alias("dim_count"))
            .select(
                F.struct(
                    F.col("wstart").alias("start"),
                    F.timestamp_add(
                        "SECOND", F.lit(size_s), F.col("wstart")
                    ).alias("end"),
                ).alias("w"),
                "dim_name",
                "dim_value",
                "dim_sum",
                "dim_count",
            )
        )
    else:
        w = _window_col(ts, size_s, slide_s)
        long_form = records.select(
            w.alias("w"), F.col(value).alias("_value"), F.expr(stack_expr)
        )
        if salt_buckets > 0:
            partial = long_form.groupBy(
                "w",
                "dim_name",
                "dim_value",
                F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets)).alias(
                    "_salt"
                ),
            ).agg(F.sum("_value").alias("_psum"), F.count(F.lit(1)).alias("_pcnt"))
            grouped = partial.groupBy("w", "dim_name", "dim_value").agg(
                F.sum("_psum").alias("dim_sum"), F.sum("_pcnt").alias("dim_count")
            )
        else:
            grouped = long_form.groupBy("w", "dim_name", "dim_value").agg(
                F.sum("_value").alias("dim_sum"), F.count(F.lit(1)).alias("dim_count")
            )

    return grouped.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "dim_name",
        "dim_value",
        group_map[F.col("dim_name")].alias("dim_group"),
        level_map[F.col("dim_name")].alias("dim_level"),
        "dim_sum",
        "dim_count",
    )


def session_window_agg(
    records: DataFrame,
    key: str,
    gap_s: int = 1800,
    ts: str = "ts",
    value: str = "value",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Per-key session windows (gap-based). Not in the reference
    (SURVEY.md W8) — required by north_rule; native in Spark >= 3.2.
    Works on batch and streaming frames; streaming input gets the
    watermark (sessions finalize once event time passes end+gap)."""
    if records.isStreaming:
        records = records.withWatermark(ts, watermark)
    return (
        records.groupBy(
            F.col(key), F.session_window(F.col(ts), f"{gap_s} seconds").alias("w")
        )
        .agg(
            F.sum(value).alias("current"),
            F.count(F.lit(1)).alias("records_aggregated"),
        )
        .select(
            F.col(key),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "current",
            "records_aggregated",
        )
    )


def grouped_percentiles(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    percentiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Exact per-key percentiles of the metric — the distribution
    profile an anomaly detector's thresholds are calibrated from
    (e.g. hstrees workspace bounds, threshold min/max come from a
    historical p01/p99, never the stream's future).

    F.percentile is Spark's EXACT continuous-interpolation percentile
    (percentile_cont semantics, matching DuckDB's quantile_cont): one
    shuffle on the keys; exact percentiles buffer each group's values,
    which is the honest cost — at 100-TB profile runs you either
    accept it on the profiling SAMPLE or switch to percentile_approx
    (t-digest, mergeable map-side) and lose the oracle; the exact form
    is what calibration uses. Outputs quantized to 6dp for
    cross-engine hash stability."""
    aggs = [F.count("*").alias("n")]
    for p in percentiles:
        name = f"p{str(p).replace('0.', '').ljust(2, '0')}"
        aggs.append(
            (
                F.floor(F.percentile(F.col(value_col), F.lit(p)) * 1e6 + 0.5) / 1e6
            ).alias(name)
        )
    return events.groupBy(*key_cols).agg(*aggs)
