"""End-to-end streaming AD+RCA job (reference MainJob, SURVEY.md §3.1).

Two chained streaming queries, mirroring the reference's
distributed-aggregation -> serial-detector shape:

1. **aggregate** (distributed map side, driver-side window state):
   rate-limited source stream -> foreachBatch. Each micro-batch runs
   one Spark job, `long_form_window_aggs` of the batch's rows: the
   per-(window, dim) partial sums, with per-window totals riding along
   as dim_name='__total__', and the batch's max event time. The sink
   folds them into the open windows on the driver
   (`state.py::fold_window_partials`): partial rows of windows that
   ended at or before the watermark from before the batch are late and
   dropped, the rest add into the open partials, the watermark
   advances to max event time - delay (Spark's `EventTimeWatermarkExec`
   rule), and every window that ends at or before the new watermark is
   committed as ONE parquet file into `aggs/` (`streaming/sink.py`; an
   empty emission commits its marker only). A window is therefore
   emitted in the batch that closes it, as the reference's window
   operator fires when the watermark passes the window's end; a Spark
   stateful aggregation would emit it one (no-data) trigger later,
   because it evicts with the previous batch's watermark. The
   watermark and the open partials are then snapshotted into
   `agg_state/` (`state.py::Snapshots`, stamped with the window size,
   slide, watermark delay, key, hierarchy flag and dimensions). The
   query itself keeps no state store and runs no no-data trigger,
   unless `dedup_col` chains Spark's `dropDuplicatesWithinWatermark`
   upstream. Commit atomicity matters: every finalized window's rows
   land in exactly one file, so the tail can treat files as ordered,
   complete units. (Production: an Iceberg table, whose snapshots give
   the same commit atomicity without the single-file funnel; the
   funnel here carries only per-window aggregates — a ~10^6x reduction
   from the input — not raw events.)

2. **detect** (serial tail): file-stream over `aggs/`
   (maxFilesPerTrigger=1, i.e. one upstream commit per trigger) ->
   foreachBatch on the driver: one `toArrow()` per batch, split by
   `tail_key`, each key's windows through its `StreamingTail`
   (`state.py::run_tail_batch`), the output split by `row_type` into
   `alerts/` + `rca/`, then a snapshot of the tails into
   `tail_state/` (`state.py::Snapshots`). The query itself is
   stateless: no state store, no shuffle and no Python worker; its
   checkpoint holds only the file-source and offset logs. This is the
   reference's chaining of the parallelism-1 tail with its sink, whose
   state is snapshotted in the same epoch as the sink's output
   (Carbone et al., VLDB 2017).

Both queries checkpoint independently; kill + restart resumes from the
WALs and the idempotent sinks dedupe replayed commits (tests:
tests/test_streaming.py::test_checkpoint_resume,
::test_replayed_batches_are_skipped). A replayed batch starts from the
snapshot before it, so its recomputed rows equal the committed ones. A
replayed aggregate batch whose snapshot exists has committed `aggs/`
already: it adopts that snapshot and runs no Spark job. A snapshot is
written after its batch's commits: a crash between the two replays the
batch from the previous snapshot.

`start_aggregate_query` refuses, on the driver, a work directory whose
aggregate checkpoint holds a Spark state store of the windowed
aggregation (open windows that this query would silently ignore), or
an `agg_state/` snapshot of another stamp or version.
Keyed tails (`key=...`) run their detectors one after another on the
driver; the batch replay `make_batch_tail(key_col=...)` is the
parallel form.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from .sink import write_batch_idempotent
from .state import TOTAL_DIM, Snapshots, TailConfig, fold_window_partials, run_tail_batch

# Spark's interval units, as milliseconds (a month counts 31 days, as in
# the delay of Spark's EventTimeWatermark)
_UNIT_MS = {
    "microsecond": 0.001, "millisecond": 1, "second": 1000, "minute": 60_000,
    "hour": 3_600_000, "day": 86_400_000, "week": 7 * 86_400_000,
    "month": 31 * 86_400_000, "year": 12 * 31 * 86_400_000,
}
# replayed aggregate batches hand the idempotent sink no rows: its
# marker exists, so it skips the batch before it reads them
_NO_ROWS = pa.table({})


def watermark_delay_ms(watermark: str) -> int:
    """The delay of a `withWatermark` interval string ("10 minutes",
    "300 seconds", "1 hour 30 minutes", "interval 2 minutes") in
    milliseconds; ValueError on anything else."""
    parts = watermark.lower().split()
    if parts[:1] == ["interval"]:
        parts = parts[1:]
    total = 0.0
    for amount, unit in zip(parts[::2], parts[1::2]):
        unit = unit.removesuffix("s")
        if unit not in _UNIT_MS or not re.fullmatch(r"\d+(\.\d+)?", amount):
            break
        total += float(amount) * _UNIT_MS[unit]
    else:
        if parts and len(parts) % 2 == 0:
            return int(total)
    raise ValueError(f"watermark {watermark!r} is not an interval like '10 minutes'")


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


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
    *,
    with_max_ts: bool = False,
) -> DataFrame:
    """Long-form per-(window, dim) sums + '__total__' rows in one
    aggregation (single shuffle), built from one SQL statement (one
    analysis). Works on batch and streaming frames.

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
    output carries `tail_key`. Still one shuffle.

    with_max_ts=True appends `max_ts`, the latest event time of each
    row's group in microseconds: the aggregate sink's watermark comes
    from it (state.py::fold_window_partials)."""
    dims = cfg.dimension_names
    parent_of = dict(cfg.hierarchy_pairs()) if with_hierarchy else {}
    total = _sql_str(TOTAL_DIM)

    def stack_row(d: str) -> str:
        p = parent_of.get(d)
        pv = f"cast(`{p}` as string)" if p else "cast(null as string)"
        return f"{_sql_str(d)}, cast(`{d}` as string), {pv}"

    def name_map(pairs) -> str:
        return "map(" + ", ".join(f"{_sql_str(k)}, {v}" for k, v in pairs) + ")"

    stack = ", ".join([*map(stack_row, dims), f"{total}, {total}, cast(null as string)"])
    group_map = name_map([*((d, _sql_str(cfg.group(d))) for d in dims), (TOTAL_DIM, total)])
    level_map = name_map([*((d, cfg.level(d)) for d in dims), (TOTAL_DIM, 0)])
    if parent_of:
        parent_name = name_map((c, _sql_str(p)) for c, p in parent_of.items()) + "[dim_name]"
    else:
        parent_name = "cast(null as string)"
    if slide_s is None or slide_s == size_s:
        window = f"window(`{ts}`, '{size_s} seconds')"
    else:
        window = f"window(`{ts}`, '{size_s} seconds', '{slide_s} seconds')"

    key_in = f"cast(`{key}` as string) AS tail_key, " if key is not None else ""
    key_out = "tail_key, " if key is not None else ""
    aggs = ["sum(_value) AS dim_sum", "count(1) AS dim_count"]
    cols = [
        f"{key_out}unix_timestamp(w.start) AS window_start_epoch",
        "dim_name", "dim_value",
        f"{group_map}[dim_name] AS dim_group",
        f"{level_map}[dim_name] AS dim_level",
        "dim_sum", "dim_count",
    ]
    if with_hierarchy:
        # deterministic conflict rule: max co-occurring parent value
        # (the hierarchical_contributors_cooc oracle's cpairs mirror it)
        aggs.append("max(_pv) AS parent_value")
        cols += [f"{parent_name} AS parent_name", "parent_value"]
    if with_max_ts:
        aggs.append(f"unix_micros(max(`{ts}`)) AS max_ts")
        cols.append("max_ts")
    query = (
        f"SELECT {', '.join(cols)} FROM ("
        f"SELECT {window} AS w, {key_out}dim_name, dim_value, {', '.join(aggs)} "
        f"FROM (SELECT `{ts}`, `{value}` AS _value, {key_in}"
        f"stack({len(dims) + 1}, {stack}) AS (dim_name, dim_value, _pv) FROM {{src}}) "
        f"GROUP BY w, {key_out}dim_name, dim_value)"
    )

    source = records
    if records.isStreaming and watermark is not None:
        # watermark=None: the caller already set the watermark upstream
        # (e.g. ahead of a chained stateful dedup) — Spark forbids
        # redefining it after a stateful operator
        source = records.withWatermark(ts, watermark)
    return source.sparkSession.sql(query, src=source)


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
    # Implemented as withWatermark + dropDuplicatesWithinWatermark in
    # the aggregate query, ahead of its sink; its state store is bounded
    # by one watermark span of distinct keys. The sink's own watermark
    # comes from the rows it folds
    dedup_col: str | None = None
    # SQL boolean expression applied to records BEFORE dedup/watermark/
    # aggregation, e.g. "value > 0" over record columns.
    # Pure map-side (stateless), so it rides the source scan with zero
    # extra stages and shrinks everything downstream (dedup state,
    # shuffle volume, window totals)
    pre_filter: str | None = None

    def __post_init__(self) -> None:
        # a bad watermark fails where the job is built
        self.delay_ms = watermark_delay_ms(self.watermark)

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
    def agg_state_dir(self) -> str:
        return os.path.join(self.work_dir, "agg_state")

    @property
    def tail_state_dir(self) -> str:
        return os.path.join(self.work_dir, "tail_state")

    def _ckpt(self, name: str) -> str:
        return os.path.join(self.work_dir, "checkpoints", name)

    def _window_stamp(self) -> dict:
        """What the open window partials in `agg_state/` depend on."""
        cfg, parent_of = self.cfg, dict(self.cfg.hierarchy_pairs())
        return {
            "size_s": self.size_s, "slide_s": self.slide_s,
            "watermark_ms": self.delay_ms, "key": self.key,
            "with_hierarchy": self.with_hierarchy,
            "dimensions": tuple(
                (d, cfg.group(d), cfg.level(d), parent_of.get(d))
                for d in cfg.dimension_names
            ),
        }

    def start_aggregate_query(self, records_stream: DataFrame):
        # a checkpoint of the stateful windowed aggregation keeps its
        # open windows in a Spark state store this query never reads;
        # with dedup_col, operator 0 is the dedup's own store
        state = os.path.join(self._ckpt("aggregate"), "state")
        own = {"0"} if self.dedup_col is not None else set()
        if os.path.isdir(state) and set(os.listdir(state)) - own:
            raise RuntimeError(
                f"{state} holds the state store of a stateful window "
                "aggregation, whose open windows this job keeps in "
                f"{self.agg_state_dir}. Start the job in a new work directory."
            )
        # on the driver, before the query starts: a snapshot of another
        # version or window spec fails here
        snapshots = Snapshots(self.agg_state_dir, self._window_stamp(), lambda: (0, None))
        src = records_stream
        if self.pre_filter is not None:
            src = src.filter(self.pre_filter)
        # the dedup's state store commits only when the batch's plan
        # executes, and Spark fails a batch that leaves it uncommitted:
        # with it, a replayed batch runs its job even when it has a
        # snapshot (and recomputes the snapshot's state)
        stateful = self.dedup_col is not None and records_stream.isStreaming
        if stateful:
            src = src.withWatermark("ts", self.watermark).dropDuplicatesWithinWatermark(
                [self.dedup_col]
            )
        cfg, size_s, slide_s, delay_ms = self.cfg, self.size_s, self.slide_s, self.delay_ms
        with_hierarchy, key, aggs_dir = self.with_hierarchy, self.key, self.aggs_dir

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            state = snapshots.before(batch_id)
            if batch_id in snapshots and not stateful:
                emitted = _NO_ROWS
            else:
                partials = long_form_window_aggs(
                    batch_df, cfg, size_s, slide_s, None,
                    with_hierarchy=with_hierarchy, key=key, with_max_ts=True,
                ).toArrow()
                emitted, state = fold_window_partials(state, partials, size_s, delay_ms)
            write_batch_idempotent(emitted, batch_id, aggs_dir)
            snapshots.commit(batch_id, state)

        return (
            src.writeStream.outputMode("append")
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
        snapshots = Snapshots(self.tail_state_dir, self.tail, dict)
        config, keyed = self.tail, self.key is not None
        alerts_dir, rca_dir = self.alerts_dir, self.rca_dir

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            tails = snapshots.before(batch_id)
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
