"""End-to-end streaming AD+RCA job (reference MainJob, SURVEY.md §3.1).

Two chained streaming queries, mirroring the reference's
distributed-aggregation -> serial-detector shape:

1. **aggregate** (distributed): rate-limited source stream ->
   watermark -> groupBy(window(ts, size, slide), dim) long-form sums,
   with per-window totals riding along as dim_name='__total__' ->
   append mode -> foreachBatch committing ONE parquet file per
   micro-batch into `aggs/` (`streaming/sink.py`): the batch is
   collected with one `toArrow()` and written on the driver, and an
   empty batch commits its marker only. Commit atomicity matters:
   every finalized window's rows land in exactly one file, so the tail
   can treat files as ordered, complete units. (Production: an Iceberg
   table, whose snapshots give the same commit atomicity without the
   single-file funnel; the funnel here carries only per-window
   aggregates — a ~10^6x reduction from the input — not raw events.)

2. **detect** (serial tail): file-stream over `aggs/`
   (maxFilesPerTrigger=1, i.e. one upstream commit per trigger) ->
   foreachBatch on the driver: one `toArrow()` per batch, split by
   `tail_key`, each key's windows through its `StreamingTail`
   (`state.py::run_tail_batch`), the output split by `row_type` into
   `alerts/` + `rca/`, then a snapshot of the tails into
   `tail_state/` (`state.py::TailSnapshots`). The query itself is
   stateless: no state store, no shuffle and no Python worker; its
   checkpoint holds only the file-source and offset logs. This is the
   reference's chaining of the parallelism-1 tail with its sink, whose
   state is snapshotted in the same epoch as the sink's output
   (Carbone et al., VLDB 2017).

Both queries checkpoint independently; kill + restart resumes from the
WALs and the idempotent sinks dedupe replayed commits (tests:
tests/test_streaming.py::test_checkpoint_resume,
::test_replayed_batches_are_skipped). A replayed aggregate batch still
runs: its sink collects the batch before it skips the commit, because
a stateful batch commits its state store only when its plan executes,
and Spark fails the query when a batch leaves it uncommitted. A
replayed detect batch starts from the snapshot before it, so its
recomputed rows equal the committed ones, and it adopts its own
snapshot if that was written. The tail snapshot is written after the
`rca/` commit: a crash between the two replays the batch from the
previous snapshot.

**One state partition for the aggregate query.** Its post-shuffle
stage (state store, then aggregation) feeds one driver-side collect
per trigger, of a few thousand aggregate rows. A stateful query fixes
its state-store partition count from `spark.sql.shuffle.partitions` at
first start; at the session's nproc partitions, every trigger loaded
and committed nproc state-store versions, and that fixed cost
outweighed any parallelism over so few rows (state commits took
2.3-4.9x longer than at one partition). The query therefore starts
with `spark.sql.shuffle.partitions=1` (`_one_state_partition`); the
query clones the session at `start()`, so the session itself keeps its
value for batch work. The 1 is not an option: a sink that collects
each batch into one file, as the detect query's commit atomicity
needs, has no use for more. The map side (scan, extraction, partial
aggregation) keeps its parallelism across input splits. On restart
Spark restores the partition count from the checkpoint's offset log,
so a checkpoint first written at N partitions resumes at N.
Keyed tails (`key=...`) run their detectors one after another on the
driver; the batch replay `make_batch_tail(key_col=...)` is the
parallel form.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from .sink import write_batch_idempotent
from .state import TOTAL_DIM, TailConfig, TailSnapshots, run_tail_batch


@contextmanager
def _one_state_partition(spark: SparkSession):
    """Start a stateful query with one state-store partition (module
    docstring), then give the session back its own value. The session
    conf is shared: a query planned on it from another thread during
    the start would see the 1 too."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def long_form_window_aggs(
    records: DataFrame,
    cfg: EngineConfig,
    size_s: int = 300,
    slide_s: int | None = 60,
    watermark: str | None = "0 seconds",
    ts: str = "ts",
    value: str = "value",
    with_hierarchy: bool = False,
    key: str | None = None,
) -> DataFrame:
    """Streaming long-form per-(window, dim) sums + '__total__' rows in
    one aggregation (single shuffle). Works on batch frames too.

    with_hierarchy=True additionally carries the DATA-DEPENDENT
    child->parent value pairs (DimensionHierarchiesBuilder.scala:9-16:
    the parent value comes from the record's own parent field, not
    from the child value) as two extra columns (parent_name,
    parent_value) on each child dimension's rows — max(parent) per
    (window, child value), riding the SAME aggregation shuffle, so
    hierarchy resolution costs no extra stage. The tail rebuilds the
    per-window hierarchy map from these columns
    (streaming/state.py::rows_to_windows).

    key='<column>' partitions the whole pipeline into one independent
    sub-stream per key value (multi-key tails, VERDICT r2 #4): totals,
    breakdowns and downstream detector state are all computed PER KEY
    — the aggregation keys become (window, tail_key, dim) and the
    output carries `tail_key`. Still one shuffle."""
    dims = cfg.dimension_names
    n = len(dims) + 1
    parent_of = dict(cfg.hierarchy_pairs()) if with_hierarchy else {}

    def _stack_row(d: str) -> str:
        p = parent_of.get(d)
        pv = f"cast(`{p}` as string)" if p else "cast(null as string)"
        return f"'{d}', cast(`{d}` as string), {pv}"

    stack_parts = [_stack_row(d) for d in dims]
    stack_parts.append(f"'{TOTAL_DIM}', '{TOTAL_DIM}', cast(null as string)")
    stack_expr = (
        f"stack({n}, {', '.join(stack_parts)}) as (dim_name, dim_value, _pv)"
    )

    group_map = F.create_map(
        *[x for d in dims for x in (F.lit(d), F.lit(cfg.group(d)))],
        F.lit(TOTAL_DIM), F.lit(TOTAL_DIM),
    )
    level_map = F.create_map(
        *[x for d in dims for x in (F.lit(d), F.lit(cfg.level(d)))],
        F.lit(TOTAL_DIM), F.lit(0),
    )
    parent_name_map = (
        F.create_map(*[x for c, p in parent_of.items() for x in (F.lit(c), F.lit(p))])
        if parent_of
        else None
    )

    if slide_s is None or slide_s == size_s:
        w = F.window(F.col(ts), f"{size_s} seconds")
    else:
        w = F.window(F.col(ts), f"{size_s} seconds", f"{slide_s} seconds")

    source = records
    if records.isStreaming and watermark is not None:
        # watermark=None: the caller already set the watermark upstream
        # (e.g. ahead of a chained stateful dedup) — Spark forbids
        # redefining it after a stateful operator
        source = records.withWatermark(ts, watermark)

    sel = [F.col(ts), F.col(value).alias("_value"), F.expr(stack_expr)]
    if key is not None:
        sel.insert(0, F.col(key).cast("string").alias("tail_key"))
    long_form = source.select(*sel)
    aggs = [F.sum("_value").alias("dim_sum"), F.count(F.lit(1)).alias("dim_count")]
    if with_hierarchy:
        # deterministic conflict rule: max co-occurring parent value
        # (the hierarchical_contributors_cooc oracle's cpairs mirror it)
        aggs.append(F.max("_pv").alias("parent_value"))
    group_cols = [w.alias("w"), "dim_name", "dim_value"]
    if key is not None:
        group_cols.insert(1, "tail_key")
    grouped = long_form.groupBy(*group_cols).agg(*aggs)
    cols = [
        F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
        F.col("dim_name"),
        F.col("dim_value"),
        group_map[F.col("dim_name")].alias("dim_group"),
        level_map[F.col("dim_name")].alias("dim_level"),
        F.col("dim_sum"),
        F.col("dim_count"),
    ]
    if with_hierarchy:
        pn = (
            parent_name_map[F.col("dim_name")]
            if parent_name_map is not None
            else F.lit(None).cast("string")
        )
        cols.append(pn.alias("parent_name"))
        cols.append(F.col("parent_value"))
    if key is not None:
        cols.insert(0, F.col("tail_key"))
    return grouped.select(*cols)


@dataclass
class StreamingJob:
    work_dir: str
    cfg: EngineConfig
    tail: TailConfig
    size_s: int = 300
    slide_s: int | None = 60
    watermark: str = "0 seconds"
    # carry data-dependent child->parent pairs through the aggregation
    # (required when tail.hierarchy_from_data is set)
    with_hierarchy: bool = False
    # record column partitioning the pipeline into one independent
    # detector per key value (multi-key tails); None = the reference's
    # single keyBy(0) detector
    key: str | None = None
    # record column keying streaming first-occurrence dedup ahead of
    # the aggregation (e.g. 'url': a crawl re-fetch arriving within
    # the watermark span is dropped before it pollutes window totals).
    # Implemented as dropDuplicatesWithinWatermark chained in the SAME
    # query as the windowed aggregation (the watermark is defined once,
    # upstream of both stateful operators); state is bounded by one
    # watermark span of distinct keys
    dedup_col: str | None = None
    # SQL boolean expression applied to records BEFORE dedup/watermark/
    # aggregation, e.g. "value > 0" over record columns.
    # Pure map-side (stateless), so it rides the source scan with zero
    # extra stages and shrinks everything downstream (dedup state,
    # shuffle volume, window totals)
    pre_filter: str | None = None

    @property
    def aggs_dir(self) -> str:
        return os.path.join(self.work_dir, "aggs")

    @property
    def alerts_dir(self) -> str:
        return os.path.join(self.work_dir, "alerts")

    @property
    def rca_dir(self) -> str:
        return os.path.join(self.work_dir, "rca")

    @property
    def tail_state_dir(self) -> str:
        return os.path.join(self.work_dir, "tail_state")

    def _ckpt(self, name: str) -> str:
        return os.path.join(self.work_dir, "checkpoints", name)

    def start_aggregate_query(self, records_stream: DataFrame):
        src, wm = records_stream, self.watermark
        if self.pre_filter is not None:
            src = src.filter(self.pre_filter)
        if self.dedup_col is not None and records_stream.isStreaming:
            src = src.withWatermark("ts", wm).dropDuplicatesWithinWatermark(
                [self.dedup_col]
            )
            wm = None  # already defined upstream of the dedup operator
        aggs = long_form_window_aggs(
            src, self.cfg, self.size_s, self.slide_s, wm,
            with_hierarchy=self.with_hierarchy, key=self.key,
        )
        aggs_dir = self.aggs_dir

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            write_batch_idempotent(batch_df.toArrow(), batch_id, aggs_dir)

        with _one_state_partition(aggs.sparkSession):
            return (
                aggs.writeStream.outputMode("append")
                .foreachBatch(sink)
                .option("checkpointLocation", self._ckpt("aggregate"))
                .queryName("aggregate")
                .start()
            )

    def start_detect_query(self, spark: SparkSession):
        # detect normally starts CONCURRENTLY with the aggregate query
        # (alerts commit as aggs commit); its file source requires the
        # directory to exist even before the first upstream commit
        os.makedirs(self.aggs_dir, exist_ok=True)
        agg_schema = (
            "window_start_epoch long, dim_name string, dim_value string, "
            "dim_group string, dim_level int, dim_sum double, dim_count long"
        )
        if self.with_hierarchy:
            agg_schema += ", parent_name string, parent_value string"
        if self.key is not None:
            agg_schema = "tail_key string, " + agg_schema
        stream = (
            spark.readStream.schema(agg_schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(self.aggs_dir)
        )
        # on the driver, before the query starts: a snapshot of another
        # state version or tail config fails here
        snapshots = TailSnapshots(self.tail_state_dir, self.tail)
        config, keyed = self.tail, self.key is not None
        alerts_dir, rca_dir = self.alerts_dir, self.rca_dir

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            tails = snapshots.tails_before(batch_id)
            table = run_tail_batch(batch_df.toArrow(), tails, config, keyed)
            row_type = table["row_type"]
            rows = table.drop_columns(["row_type"])
            for kind, out_dir in (("alert", alerts_dir), ("rca", rca_dir)):
                write_batch_idempotent(
                    rows.filter(pc.equal(row_type, kind)), batch_id, out_dir
                )
            snapshots.commit(batch_id, tails)

        return (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", self._ckpt("detect"))
            .queryName("detect")
            .start()
        )
