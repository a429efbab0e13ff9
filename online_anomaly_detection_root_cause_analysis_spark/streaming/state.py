"""The serial streaming tail: offset baseline + detector + RCA as one
state machine, run on the driver by the detect query's sink.

The reference chains countWindowAll -> OffsetBaselineAggregator ->
(threshold filter | EWFeatureTransform -> EWAppxPercentileAuxiliary)
-> RCA, all at parallelism 1 (SURVEY.md §3.1 step 4). Here the whole
single-key tail is FUSED into one `StreamingTail`: it consumes
finalized per-window aggregate rows (the distributed heavy lifting
happens upstream), maintains the count-window deque (W4), the
MacroBase scorer/classifier/summarizer or the threshold rule, and
emits alert + RCA rows. The detect sink (`job.py`) hands each batch
to `run_tail_batch`, one tail per key, without a Python worker or a
state store.

State is the pickled {tail key: StreamingTail} dict, snapshotted
after every detect batch into `tail_state/` (`Snapshots`) —
versioned via PICKLE_VERSION for checkpoint-compatible evolution
(SURVEY.md §7.3) and stamped with the pickled TailConfig, both
checked on the driver before the query starts. The aggregate sink
keeps its open windows the same way (`fold_window_partials`, snapshots
in `agg_state/`). The reference's
un-checkpointed warm-up fields bug (EWFeatureTransform.scala:31-32) is
fixed by construction: everything lives in the pickle.

Input contract: rows (window_start_epoch, dim_name, dim_value,
dim_group, dim_level, dim_sum, dim_count); per-window totals ride
along as dim_name == '__total__'. Every window's rows arrive within
one micro-batch (commit-atomic upstream, see job.py), in any order.
"""

from __future__ import annotations

import math
import os
import pickle
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..algorithms.ewfeature import EWFeatureSpec, EWFeatureTransform
from ..algorithms.ewma import EWMAZScore
from ..algorithms.ewpercentile import EWAppxPercentileAuxiliary
from ..algorithms.models import (
    AggregatedRecordsWBaseline,
    AnomalyEvent,
    Dimension,
    DimensionSummary,
)
from ..algorithms.stats import (
    hierarchical_contributor_summaries,
    simple_contributor_summaries,
)
from ..algorithms.summarizer import (
    ExponentiallyDecayingEmergingItemsets,
    SummarizerSpec,
)

TOTAL_DIM = "__total__"
PICKLE_VERSION = 1
_MODES = ("threshold", "macrobase", "zscore", "hstrees")
_RCA_MODES = ("simple", "hierarchical", "macrobase")


@dataclass
class TailConfig:
    # detection method and RCA method are INDEPENDENT config axes in
    # the reference (application.conf anomaly_detection.method ×
    # root_cause_analysis.method; MainJob.scala:25-110) — any of the
    # 2 × 3 combinations is valid. rca_mode=None resolves to the
    # reference defaults: simple for threshold, macrobase for
    # macrobase detection. mode="zscore" is the engine's own EWMA
    # z-score detector (north_star), outside the reference's set.
    # mode="hstrees" is the engine's isolation-forest-style streaming
    # detector (north_star), outside the reference's set: seeded
    # Half-Space Trees scoring window totals normalized into the
    # [hs_lo, hs_hi) workspace (algorithms/hstrees.py)
    mode: str = "threshold"  # threshold | macrobase | zscore | hstrees
    rca_mode: str | None = None  # simple | hierarchical | macrobase
    baseline_n: int = 10
    min_value: float = float("-inf")
    max_value: float = float("inf")
    summary_size: int = 5
    detector_spec: EWFeatureSpec | None = None
    summarizer_spec: SummarizerSpec | None = None
    ewma_alpha: float = 0.1
    ewma_z_threshold: float = 3.0
    # Half-Space Trees (mode="hstrees"): fixed workspace bounds (the
    # paper's known-normalization assumption — at scale these come
    # from a historical profile, never from the future of the stream),
    # ensemble shape, reference-block size, mass threshold, seed
    hs_lo: float = 0.0
    hs_hi: float = 1.0
    hs_trees: int = 8
    hs_depth: int = 6
    hs_window: int = 32
    hs_threshold: float = 8.0
    hs_seed: int = 5
    # hierarchy for rca_mode="hierarchical": child dim name -> parent
    # dim name, and a PICKLABLE module-level fn (child_name,
    # child_value) -> parent_value. The reference builds the child ->
    # parent Dimension map from each record's own values
    # (DimensionHierarchiesBuilder.scala:9-16); in the tail the parent
    # value must be derivable from the child value, which holds for
    # every configured hierarchy (url_host -> url_domain, bucket ->
    # band, ...).
    parent_of: dict[str, str] | None = None
    parent_value_fn: Any = None
    # hierarchy_from_data=True resolves each child's parent VALUE from
    # the per-window co-occurrence pairs carried on the aggregate rows
    # (long_form_window_aggs(with_hierarchy=True)) instead of deriving
    # it from the child value — the reference's actual semantics when
    # the parent is an independent record field
    # (DimensionHierarchiesBuilder.scala:9-16). Window-scoped: children
    # absent from the anomalous window have no pair and fall back to
    # the ratio-1 rule, as the hierarchical_contributors_cooc oracle
    # does.
    hierarchy_from_data: bool = False

    def __post_init__(self) -> None:
        # fail where the job is built, not in a Python worker at the
        # first window
        if self.mode not in _MODES:
            raise ValueError(f"unknown mode {self.mode!r}; expected one of {_MODES}")
        if self.rca_mode is not None and self.rca_mode not in _RCA_MODES:
            raise ValueError(
                f"unknown rca_mode {self.rca_mode!r}; expected one of {_RCA_MODES}"
            )
        if self.mode == "macrobase" and self.detector_spec is None:
            raise ValueError("mode='macrobase' needs a detector_spec")
        if self.resolved_rca_mode == "macrobase" and self.summarizer_spec is None:
            raise ValueError("MacroBase RCA needs a summarizer_spec")

    @property
    def resolved_rca_mode(self) -> str:
        """rca_mode, or the reference pairing when it is None."""
        return self.rca_mode or ("macrobase" if self.mode == "macrobase" else "simple")


# the tail's output columns and their Spark SQL types: the DDL string
# of `tail_output_schema` and the Arrow schema of the detect sink's
# tables both come from this one list
_OUT_FIELDS = [
    ("row_type", "string"), ("seq", "long"), ("window_start_epoch", "long"),
    ("current", "double"), ("baseline", "double"),
    ("records_in_baseline_offset", "int"), ("is_outlier", "boolean"),
    ("score", "double"), ("support", "double"), ("num_records", "double"),
    ("ratio_to_inliers", "double"), ("n_dims", "int"), ("summary_id", "long"),
    ("dim_group", "string"), ("dim_level", "int"),
    ("dim_name", "string"), ("dim_value", "string"), ("cost", "double"),
    ("current_value", "double"), ("baseline_value", "double"),
    ("value_change_pct", "double"), ("contribution_change_pct", "double"),
    ("contribution_to_overall_change_pct", "double"), ("rank", "int"),
]
_OUT_COLUMNS = [name for name, _ in _OUT_FIELDS]
_ARROW_TYPES = {
    "string": pa.string(), "long": pa.int64(), "int": pa.int32(),
    "double": pa.float64(), "boolean": pa.bool_(),
}


def _out_fields(with_key: bool) -> list[tuple[str, str]]:
    return [("tail_key", "string"), *_OUT_FIELDS] if with_key else _OUT_FIELDS


def tail_output_schema(with_key: bool = False) -> str:
    return ", ".join(f"{name} {kind}" for name, kind in _out_fields(with_key))


def tail_output_arrow_schema(with_key: bool = False) -> pa.Schema:
    return pa.schema(
        [(name, _ARROW_TYPES[kind]) for name, kind in _out_fields(with_key)]
    )


def _empty_row() -> dict[str, Any]:
    return {c: None for c in _OUT_COLUMNS}


def _null_nan(x: float) -> float | None:
    # a zero-denominator percentage is NaN in algorithms/stats.py; the
    # rca rows carry it as NULL, like the DuckDB oracles
    return None if math.isnan(x) else x


def _summary_row(
    seq: int, window_start: int, rec: AggregatedRecordsWBaseline,
    s: DimensionSummary, rank: int, n_dims: int,
) -> dict[str, Any]:
    """One contributor of a simple/hierarchical finder as an rca row;
    `rank` is its 1-based position in the finder's (-cost, name,
    value) order."""
    row = _empty_row()
    row.update(
        row_type="rca", seq=seq, window_start_epoch=window_start,
        current=rec.current,
        baseline=None if math.isnan(rec.baseline) else rec.baseline,
        n_dims=n_dims,
        dim_group=s.dimension.group, dim_level=s.dimension.level,
        dim_name=s.dimension.name, dim_value=s.dimension.value,
        cost=s.cost, current_value=s.current_value,
        baseline_value=s.baseline_value,
        value_change_pct=_null_nan(s.value_change_percentage),
        contribution_change_pct=_null_nan(s.contribution_change_percentage),
        contribution_to_overall_change_pct=_null_nan(
            s.contribution_to_overall_change_percentage
        ),
        rank=rank,
    )
    return row


@dataclass
class StreamingTail:
    """Picklable tail state machine; `process_window` is the only
    entry point and is deterministic in (config, window sequence)."""

    config: TailConfig
    deque: list[tuple[int, float, int, dict]] = field(default_factory=list)
    seq: int = 0
    n_summaries: int = 0
    scorer: EWFeatureTransform | None = None
    classifier: EWAppxPercentileAuxiliary | None = None
    summarizer: ExponentiallyDecayingEmergingItemsets | None = None
    ewma: EWMAZScore | None = None
    hstrees: Any = None

    def __post_init__(self) -> None:
        self.rca = self.config.resolved_rca_mode
        self.window_hierarchy: dict = {}
        if self.config.mode == "macrobase" and self.scorer is None:
            self.scorer = EWFeatureTransform(self.config.detector_spec)
            self.classifier = EWAppxPercentileAuxiliary(self.config.detector_spec)
        if self.config.mode == "zscore" and self.ewma is None:
            self.ewma = EWMAZScore(
                alpha=self.config.ewma_alpha,
                z_threshold=self.config.ewma_z_threshold,
            )
        if self.config.mode == "hstrees" and self.hstrees is None:
            from ..algorithms.hstrees import HalfSpaceTrees

            self.hstrees = HalfSpaceTrees(
                n_trees=self.config.hs_trees,
                depth=self.config.hs_depth,
                window=self.config.hs_window,
                threshold=self.config.hs_threshold,
                seed=self.config.hs_seed,
            )
        if self.rca == "macrobase" and self.summarizer is None:
            self.summarizer = ExponentiallyDecayingEmergingItemsets.from_spec(
                self.config.summarizer_spec
            )

    # -- offset baseline over the deque (OffsetBaselineAggregator.scala) --
    def _baseline(self) -> tuple[float, dict, int]:
        rest = self.deque[:-1]
        if not rest:
            return math.nan, {}, 0
        baseline = sum(w[1] for w in rest) / len(rest)
        bd: dict = {}
        for _, _, _, breakdown in rest:
            for dim, v in breakdown.items():
                bd[dim] = bd.get(dim, 0.0) + v
        bd = {dim: v / len(rest) for dim, v in bd.items()}
        return baseline, bd, len(rest)

    def process_window(
        self, window_start: int, current: float, records: int, breakdown: dict,
        hierarchy: dict | None = None,
    ) -> list[dict[str, Any]]:
        self.window_hierarchy = hierarchy or {}
        self.seq += 1
        self.deque.append((window_start, current, records, breakdown))
        if len(self.deque) > self.config.baseline_n:
            self.deque.pop(0)
        baseline, baseline_bd, offset = self._baseline()

        record = AggregatedRecordsWBaseline(
            current=current,
            baseline=baseline,
            current_dimensions_breakdown=breakdown,
            baseline_dimensions_breakdown=baseline_bd,
            dimensions_hierarchy={},
            records_in_baseline_offset=offset,
        )

        if self.config.mode == "threshold":
            return self._threshold(window_start, record)
        if self.config.mode == "zscore":
            return self._zscore(window_start, record)
        if self.config.mode == "hstrees":
            return self._hstrees(window_start, record)
        return self._macrobase(window_start, record)

    def _alert_row(
        self, window_start: int, rec: AggregatedRecordsWBaseline,
        is_outlier: bool, score: float | None,
    ) -> dict[str, Any]:
        row = _empty_row()
        row.update(
            row_type="alert", seq=self.seq, window_start_epoch=window_start,
            current=rec.current,
            baseline=None if math.isnan(rec.baseline) else rec.baseline,
            records_in_baseline_offset=rec.records_in_baseline_offset,
            is_outlier=is_outlier, score=score,
        )
        return row

    def _rca_rows_simple(
        self, window_start: int, rec: AggregatedRecordsWBaseline
    ) -> list[dict[str, Any]]:
        summaries = simple_contributor_summaries(
            rec.current_dimensions_breakdown,
            rec.baseline_dimensions_breakdown,
            rec.current,
            0.0 if math.isnan(rec.baseline) else rec.baseline,
            self.config.summary_size,
        )
        return [
            _summary_row(self.seq, window_start, rec, s, rank, len(summaries))
            for rank, s in enumerate(summaries, 1)
        ]

    def _hierarchy(self, dims) -> dict[Dimension, Dimension]:
        """Child -> parent Dimension map (twin of
        DimensionHierarchiesBuilder.scala:9-16 — root parents omitted,
        level-1 parents resolve to the window totals). Data-dependent
        mode uses the current window's co-occurrence pairs; otherwise
        the parent value is derived from the child value via the
        configured picklable fn."""
        cfg = self.config
        if cfg.hierarchy_from_data:
            return self.window_hierarchy
        if not cfg.parent_of:
            return {}
        out: dict[Dimension, Dimension] = {}
        for d in dims:
            pname = cfg.parent_of.get(d.name)
            if pname is None:
                continue
            pval = cfg.parent_value_fn(d.name, d.value)
            out[d] = Dimension(pname, pval, d.group, d.level - 1)
        return out

    def _rca_rows_hierarchical(
        self, window_start: int, rec: AggregatedRecordsWBaseline
    ) -> list[dict[str, Any]]:
        """One RCAResult per dimension group (keyByDimensionGroup,
        HierarchicalContributorsFinder.scala:150-177), flattened to
        long-form rows; `rank` restarts at 1 in each group."""
        rows: list[dict[str, Any]] = []
        groups = sorted(
            {d.group for d in rec.current_dimensions_breakdown}
            | {d.group for d in rec.baseline_dimensions_breakdown}
        )
        baseline_total = 0.0 if math.isnan(rec.baseline) else rec.baseline
        hierarchy = self._hierarchy(
            set(rec.current_dimensions_breakdown) | set(rec.baseline_dimensions_breakdown)
        )
        for group in groups:
            cur = {
                d: v for d, v in rec.current_dimensions_breakdown.items()
                if d.group == group
            }
            base = {
                d: v for d, v in rec.baseline_dimensions_breakdown.items()
                if d.group == group
            }
            hier = {c: p for c, p in hierarchy.items() if c.group == group}
            summaries = hierarchical_contributor_summaries(
                cur, base, rec.current, baseline_total, hier,
                self.config.summary_size,
            )
            rows.extend(
                _summary_row(self.seq, window_start, rec, s, rank, len(summaries))
                for rank, s in enumerate(summaries, 1)
            )
        return rows

    def _summarizer_rows(
        self, window_start: int, event: AnomalyEvent
    ) -> list[dict[str, Any]]:
        """Feed one AnomalyEvent to the MacroBase summarizer; flatten
        any emitted RCAResult(s) to long-form rows."""
        out: list[dict[str, Any]] = []
        for result in self.summarizer.process(event):
            self.n_summaries += 1
            for d in result.dimension_summaries:
                row = _empty_row()
                row.update(
                    row_type="rca", seq=self.seq,
                    window_start_epoch=window_start,
                    support=result.support,
                    num_records=result.num_records,
                    ratio_to_inliers=result.ratio_to_inliers
                    if not math.isinf(result.ratio_to_inliers)
                    else None,
                    n_dims=len(result.dimension_summaries),
                    summary_id=self.n_summaries,
                    dim_name=d.dimension.name,
                    dim_value=d.dimension.value,
                )
                out.append(row)
        return out

    def _rca_rows(
        self, window_start: int, rec: AggregatedRecordsWBaseline,
        is_outlier: bool = True,
    ) -> list[dict[str, Any]]:
        """RCA-method dispatch (MainJob.scala:86-110). The contributor
        finders run on EVERY AnomalyEvent the detector emits — the
        reference maps the stream without an isOutlier filter."""
        if self.rca == "macrobase":
            event = AnomalyEvent(
                anomaly_id=str(self.seq), detected_at=self.seq,
                epoch=window_start, record=rec, is_outlier=is_outlier,
            )
            return self._summarizer_rows(window_start, event)
        if self.rca == "hierarchical":
            return self._rca_rows_hierarchical(window_start, rec)
        return self._rca_rows_simple(window_start, rec)

    def _threshold(
        self, window_start: int, rec: AggregatedRecordsWBaseline
    ) -> list[dict[str, Any]]:
        out: list[dict[str, Any]] = []
        if rec.current < self.config.min_value or rec.current > self.config.max_value:
            out.append(self._alert_row(window_start, rec, True, None))
            out.extend(self._rca_rows(window_start, rec))
        return out

    def _zscore(
        self, window_start: int, rec: AggregatedRecordsWBaseline
    ) -> list[dict[str, Any]]:
        """EWMA z-score detection (algorithms/ewma.py). Alert rows use
        `baseline` for the pre-update EWMA mean and `score` for the
        z-score; RCA dispatch as configured (default simple)."""
        is_outlier, z, mean_prev = self.ewma.update(rec.current)
        if not is_outlier:
            return []
        row = _empty_row()
        row.update(
            row_type="alert", seq=self.seq, window_start_epoch=window_start,
            current=rec.current, baseline=mean_prev,
            records_in_baseline_offset=rec.records_in_baseline_offset,
            is_outlier=True, score=z,
        )
        return [row] + self._rca_rows(window_start, rec)

    def _hstrees(
        self, window_start: int, rec: AggregatedRecordsWBaseline
    ) -> list[dict[str, Any]]:
        """Isolation-forest-style detection (algorithms/hstrees.py):
        the window total is normalized into the configured workspace,
        scored against the previous reference block's leaf masses, and
        emitted with its score once a reference block exists (the
        same emit-all-scored-windows shape as the MacroBase alert
        gate). RCA dispatch runs on outliers."""
        cfg = self.config
        span = cfg.hs_hi - cfg.hs_lo
        x = (rec.current - cfg.hs_lo) / span if span > 0 else 0.0
        x = min(max(x, 0.0), 1.0)
        score, is_outlier = self.hstrees.update(x)
        if score is None:
            return []
        out = [self._alert_row(window_start, rec, is_outlier, score)]
        if is_outlier:
            out.extend(self._rca_rows(window_start, rec, True))
        return out

    def _macrobase(
        self, window_start: int, rec: AggregatedRecordsWBaseline
    ) -> list[dict[str, Any]]:
        out: list[dict[str, Any]] = []
        for r1, score in self.scorer.process(rec, rec.current):
            for r2, is_outlier in self.classifier.process(r1, score):
                out.append(self._alert_row(window_start, r2, is_outlier, score))
                out.extend(self._rca_rows(window_start, r2, is_outlier))
        return out


def rows_to_windows(
    pdf: pd.DataFrame,
) -> Iterator[tuple[int, float, int, dict, dict]]:
    """Group long-form aggregate rows into (window_start, current,
    records, breakdown, hierarchy) tuples, ascending by window.
    Vectorized (numpy slicing over one sort) — pandas groupby
    per-group overhead dominates at 10^5 windows.

    `hierarchy` (child Dimension -> parent Dimension) is rebuilt from
    the optional parent_name/parent_value columns
    (long_form_window_aggs(with_hierarchy=True)); empty when absent.
    The parent Dimension carries the child's group and level-1, same
    construction as the config-derived path.

    Rows WITHIN a window are ordered by (dim_name, dim_value), not by
    upstream arrival order (r5): Spark gives no ordering guarantee on
    the rows of a batch or an applyInPandas group, and the MacroBase
    summarizer's
    AMC/encoder insertion order (hence the FP-trees' count-tie
    ordering) follows breakdown insertion order — without this sort
    the tail's output could vary with partitioning at count ties."""
    import numpy as np

    if len(pdf) == 0:
        return
    pdf = pdf.sort_values(
        ["window_start_epoch", "dim_name", "dim_value"], kind="mergesort"
    )
    ws_arr = pdf["window_start_epoch"].to_numpy()
    names = pdf["dim_name"].to_numpy()
    values = pdf["dim_value"].to_numpy()
    groups = pdf["dim_group"].to_numpy()
    levels = pdf["dim_level"].to_numpy()
    sums = pdf["dim_sum"].to_numpy()
    counts = pdf["dim_count"].to_numpy()
    has_hier = "parent_name" in pdf.columns
    if has_hier:
        pnames = pdf["parent_name"].to_numpy()
        pvalues = pdf["parent_value"].to_numpy()

    boundaries = np.flatnonzero(np.diff(ws_arr)) + 1
    starts = np.concatenate([[0], boundaries])
    ends = np.concatenate([boundaries, [len(ws_arr)]])
    for s, e in zip(starts, ends):
        current = None
        breakdown: dict = {}
        hierarchy: dict = {}
        for i in range(s, e):
            if names[i] == TOTAL_DIM:
                current = float(sums[i])
                records = int(counts[i])
            else:
                dim = Dimension(names[i], values[i], groups[i], int(levels[i]))
                breakdown[dim] = float(sums[i])
                if (
                    has_hier
                    and isinstance(pnames[i], str)
                    and pnames[i]
                    and isinstance(pvalues[i], str)
                ):
                    # both name AND value must be real strings: an all-NULL
                    # parent column would otherwise put NaN inside a
                    # Dimension key; NULL-parent rows fall through to the
                    # explicit ratio-1 rule instead (ADVICE r3).
                    hierarchy[dim] = Dimension(
                        pnames[i], pvalues[i], dim.group, dim.level - 1
                    )
        if current is None:
            continue
        yield int(ws_arr[s]), current, records, breakdown, hierarchy


def _typed_frame(rows: list[dict[str, Any]]) -> pd.DataFrame:
    if rows:
        return pd.DataFrame(rows, columns=_OUT_COLUMNS)
    return tail_output_arrow_schema().empty_table().to_pandas()


def make_batch_tail(aggs_df, config: TailConfig, key_col: str | None = None):
    """Batch replay of the streaming tail — the same StreamingTail code
    path via applyInPandas (no state store). Used as the deterministic
    oracle for the streaming job and as the batch-mode MacroBase query.

    key_col=None reproduces the reference's keyBy(0) single detector.
    key_col='<column>' runs ONE INDEPENDENT detector per key value in
    the same query (VERDICT r2 #4 — the natural generalization of the
    reference's constant key): each key gets its own deque/baseline/
    detector state, the groups execute in parallel across cores, and
    the output carries the key as `tail_key`. Semantically identical
    to running N separate single-key tails on the key-filtered
    sub-streams (parity-tested)."""
    from pyspark.sql import functions as F

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        tail = StreamingTail(config)
        out: list[dict[str, Any]] = []
        for ws, current, records, breakdown, hierarchy in rows_to_windows(pdf):
            out.extend(
                tail.process_window(ws, current, records, breakdown, hierarchy)
            )
        return _typed_frame(out)

    if key_col is None:
        return (
            aggs_df.withColumn("_k", F.lit(0))
            .groupBy("_k")
            .applyInPandas(lambda _key, pdf: fn(pdf), tail_output_schema())
        )

    def keyed_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        frame = fn(pdf)
        frame.insert(0, "tail_key", str(key[0]))
        return frame

    return aggs_df.groupBy(key_col).applyInPandas(
        keyed_fn, tail_output_schema(with_key=True)
    )


def _key_parts(table: pa.Table, with_key: bool) -> Iterator[tuple[Any, pa.Table]]:
    """(tail key, its rows) in key order; one part with key None when
    the job has no key."""
    if not with_key:
        yield None, table
        return
    col = table["tail_key"]
    keys = sorted(pc.unique(col).to_pylist(), key=lambda k: (k is not None, k))
    for key in keys:
        mask = pc.is_null(col) if key is None else pc.equal(col, key)
        yield key, table.filter(mask)


def run_tail_batch(
    table: pa.Table, tails: dict, config: TailConfig, with_key: bool = False
) -> pa.Table:
    """One detect batch on the driver: each key's aggregate rows go
    through `rows_to_windows` and that key's tail (a new StreamingTail
    for a key first seen here), and the rows every tail emits come back
    as one table of `tail_output_arrow_schema(with_key)`. `tails` (tail
    key -> StreamingTail, key None without a job key) is advanced in
    place.

    A window's rows may sit in different record batches of `table`, in
    any order: `rows_to_windows` sorts each key's rows as a whole."""
    rows: list[dict[str, Any]] = []
    for key, part in _key_parts(table, with_key):
        if part.num_rows == 0:
            continue
        tail = tails.get(key)
        if tail is None:
            tail = tails[key] = StreamingTail(config)
        for ws, current, records, breakdown, hierarchy in rows_to_windows(
            part.to_pandas()
        ):
            emitted = tail.process_window(ws, current, records, breakdown, hierarchy)
            rows.extend({"tail_key": key, **r} if with_key else r for r in emitted)
    schema = tail_output_arrow_schema(with_key)
    if not rows:
        return schema.empty_table()
    # through pandas, as Spark converts a pandas UDF's output: a NaN
    # in a float column becomes NULL
    frame = pd.DataFrame(rows, columns=schema.names)
    table = pa.Table.from_pandas(frame, schema, preserve_index=False)
    return table.replace_schema_metadata()


class Snapshots:
    """A sink's driver-side state, kept next to its commits: after a
    batch's outputs are committed, one file `state-<batch>` in
    `state_dir` holds (PICKLE_VERSION, pickled stamp, pickled state).
    The stamp names what the state was built for (the detect sink's
    TailConfig, the aggregate sink's window spec); the state is any
    picklable value. The last two snapshots are kept, in memory as
    bytes and on disk.

    Batch b starts from a fresh unpickled copy of the newest snapshot
    before b (`initial()` when there is none), so a batch that fails
    never advances the committed state. A replayed batch whose
    snapshot exists (`batch_id in snapshots`) has committed its
    outputs already and adopts that snapshot.

    Loading checks every kept snapshot on the driver: another
    PICKLE_VERSION, or a pickled stamp that differs from `stamp`,
    raises RuntimeError before the query starts."""

    KEEP = 2

    def __init__(self, state_dir: str, stamp: Any, initial: Callable[[], Any]):
        self.state_dir = state_dir
        self.stamp = stamp
        self.initial = initial
        # compared pickled: a functools.partial parent_value_fn equals
        # only itself, so `==` would fail every equal config that has one
        self.stamp_blob = pickle.dumps(stamp)
        self.blobs: dict[int, bytes] = {}
        names = os.listdir(state_dir) if os.path.isdir(state_dir) else []
        for name in sorted(n for n in names if n.startswith("state-")):
            self.blobs[int(name.removeprefix("state-"))] = self._load(name)

    def _load(self, name: str) -> bytes:
        path = os.path.join(self.state_dir, name)
        with open(path, "rb") as f:
            version, stamp_blob, state_blob = pickle.load(f)
        if version != PICKLE_VERSION:
            raise RuntimeError(
                f"state {path} has version {version}; this engine reads "
                f"version {PICKLE_VERSION}. Start the job in a new work directory."
            )
        if stamp_blob != self.stamp_blob:
            raise RuntimeError(
                f"state {path} was built with {pickle.loads(stamp_blob)}; "
                f"this query runs {self.stamp}. Start the job in a new work "
                "directory."
            )
        return state_blob

    def __contains__(self, batch_id: int) -> bool:
        return batch_id in self.blobs

    def before(self, batch_id: int) -> Any:
        """A fresh copy of the state as the newest snapshot before
        `batch_id` left it; `initial()` when there is none."""
        older = [b for b in self.blobs if b < batch_id]
        return pickle.loads(self.blobs[max(older)]) if older else self.initial()

    def commit(self, batch_id: int, state: Any) -> None:
        """Snapshot `state` as the state after `batch_id` (temp file,
        then rename), unless that snapshot exists; keep the last two."""
        if batch_id in self.blobs:
            return
        blob = pickle.dumps(state)
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = os.path.join(self.state_dir, f"_tmp_state-{batch_id:010d}")
        with open(tmp, "wb") as f:
            pickle.dump((PICKLE_VERSION, self.stamp_blob, blob), f)
        os.replace(tmp, os.path.join(self.state_dir, f"state-{batch_id:010d}"))
        self.blobs[batch_id] = blob
        for old in sorted(self.blobs)[: -self.KEEP]:
            del self.blobs[old]
            os.remove(os.path.join(self.state_dir, f"state-{old:010d}"))


# the key columns of a window partial row (those present in the batch)
# and how its value columns merge across batches
_PARTIAL_KEYS = (
    "tail_key", "window_start_epoch", "dim_name", "dim_value", "dim_group",
    "dim_level", "parent_name",
)
_PARTIAL_MERGE = (("dim_sum", "sum"), ("dim_count", "sum"), ("parent_value", "max"))


def fold_window_partials(
    state: tuple[int, pa.Table | None], partials: pa.Table, size_s: int, delay_ms: int
) -> tuple[pa.Table, tuple[int, pa.Table | None]]:
    """One aggregate batch on the driver, Spark's append-mode windowed
    aggregation applied to the batch's per-(window, dim) partial sums.

    `state` is (watermark ms, open partials or None); `partials` is
    `long_form_window_aggs(..., with_max_ts=True)` of the batch. Rows
    of windows that ended at or before the watermark from before this
    batch are late and dropped; the rest fold into the open partials
    (sums and counts add, parent_value takes the max). The watermark
    advances to max(watermark, max event time ms - delay_ms), and
    stays put on an empty batch. Returns (the windows that end at or
    before the new watermark, the new state)."""
    watermark, open_ = state
    max_us = pc.max(partials["max_ts"]).as_py()
    partials = partials.drop_columns(["max_ts"])
    schema = partials.schema

    def ends_ms(table: pa.Table) -> pa.Array:
        return pc.multiply(pc.add(table["window_start_epoch"], size_s), 1000)

    live = partials.filter(pc.greater(ends_ms(partials), watermark))
    if open_ is not None and open_.num_rows:
        keys = [c for c in _PARTIAL_KEYS if c in schema.names]
        merge = [(c, how) for c, how in _PARTIAL_MERGE if c in schema.names]
        grouped = pa.concat_tables([open_, live]).group_by(keys, use_threads=False)
        folded = grouped.aggregate(merge)
        names = {f"{c}_{how}": c for c, how in merge}
        live = folded.rename_columns([names.get(c, c) for c in folded.column_names])
        live = live.select(schema.names).cast(schema)
    if max_us is not None:
        watermark = max(watermark, max_us // 1000 - delay_ms)
    done = pc.less_equal(ends_ms(live), watermark)
    return live.filter(done), (watermark, live.filter(pc.invert(done)))
