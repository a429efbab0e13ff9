"""Offset baseline over trailing window-aggregates (reference A2/W4).

The reference computes this with a count-window of the last n window
aggregates (`countWindowAll(n, 1)`, ThresholdDetector.scala:34) fed to
OffsetBaselineAggregator.scala:10-64: newest aggregate = `current`,
baseline = mean of the earlier ones in the buffer (NaN -> NULL here
when the buffer has no history).

Batch plan, Spark-first: `row_number` over window_start gives each
emitted (non-empty) window its arrival index — exactly the reference's
count-window ordering under its ascending-timestamp contract — then
`avg/count OVER (ROWS BETWEEN n-1 PRECEDING AND 1 PRECEDING)`. This
ordering window runs on one task but carries ~1 row per slide
(pre-aggregated), the same deliberate serialization point as the
reference's parallelism-1 count window (SURVEY.md §7.3).

The per-dimension baseline (summed trailing breakdowns divided by the
number of trailing windows, OffsetBaselineAggregator.scala:41) lives
only in the streaming tail's deque, streaming/state.py, which every
RCA query runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_offset_baseline(window_totals: DataFrame, n: int = 10) -> DataFrame:
    """AggregatedRecordsWBaseline top level: current + trailing-mean
    baseline + records_in_baseline_offset (# windows in the offset)."""
    order = Window.orderBy("window_start")
    trail = order.rowsBetween(-(n - 1), -1)
    return (
        window_totals.withColumn("window_idx", F.row_number().over(order))
        .withColumn("baseline", F.avg("current").over(trail))
        .withColumn(
            "records_in_baseline_offset", F.count("current").over(trail)
        )
    )


def with_offset_baseline_old(window_totals: DataFrame, n: int = 10) -> DataFrame:
    """Deprecated-reference parity: OffsetBaselineAggregatorOld.scala
    :22-46 anchors `current` on the FIRST aggregate entering the count
    window (the add() branch on an empty breakdown) and averages the
    REMAINING n-1 as the baseline — i.e. the baseline looks FORWARD of
    its current window; the non-deprecated A2 flips this (newest =
    current, trailing mean = baseline), which is why the old one is
    dead code in the reference. Rebuilt here so the inventory carries
    no gaps: over each sliding count window [i-(n-1) .. i] the emitted
    row is (current = first total in the buffer, baseline = mean of
    the rest, records = buffer size - 1). The old merge() is unsound
    (sums both currents) but unreachable at the reference's
    parallelism-1 count window — not reproduced.

    Documented micro-deviation (ADVICE r4): for the first buffer row
    (count 1) the reference's getResult computes baseline/records =
    0/0 = NaN and still emits; this port (and its DuckDB oracle)
    renders that degenerate first-row baseline as NULL instead —
    the `F.when(_cnt > 1, ...)` guard below. Also listed in
    COVERAGE.md's deviations table.

    Same single ordering window as `with_offset_baseline`; one
    pre-aggregated row per window flows through it."""
    order = Window.orderBy("window_start")
    frame = order.rowsBetween(-(n - 1), 0)
    first_cur = F.first("current").over(frame)
    cnt = F.count("current").over(frame)
    return (
        window_totals.withColumn("window_idx", F.row_number().over(order))
        .withColumn("_first", first_cur)
        .withColumn("_cnt", cnt)
        .withColumn(
            "baseline",
            F.when(
                F.col("_cnt") > 1,
                (F.sum("current").over(frame) - F.col("_first"))
                / (F.col("_cnt") - 1),
            ),
        )
        .withColumn("records_in_baseline_offset", (F.col("_cnt") - 1).cast("int"))
        .withColumn("current_old", F.col("_first"))
        .drop("_first", "_cnt")
    )
