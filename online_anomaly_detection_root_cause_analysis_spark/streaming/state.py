"""The serial streaming tail: offset baseline + detector + RCA as one
stateful operator.

The reference chains countWindowAll -> OffsetBaselineAggregator ->
(threshold filter | EWFeatureTransform -> EWAppxPercentileAuxiliary)
-> RCA, all at parallelism 1 (SURVEY.md §3.1 step 4). Here the whole
single-key tail is FUSED into one `applyInPandasWithState` operator:
it consumes finalized per-window aggregate rows (the distributed
heavy lifting happens upstream), maintains the count-window deque
(W4), the MacroBase scorer/classifier/summarizer or the threshold
rule, and emits alert + RCA rows. Fusing avoids Spark's multiple-
stateful-operator chaining restrictions and keeps exactly one tiny
state blob.

State is a pickled `StreamingTail` in a single BINARY state column —
versioned via PICKLE_VERSION for checkpoint-compatible evolution
(SURVEY.md §7.3). The reference's un-checkpointed warm-up fields bug
(EWFeatureTransform.scala:31-32) is fixed by construction: everything
lives in the pickle.

Input contract: rows (window_start_epoch, dim_name, dim_value,
dim_group, dim_level, dim_sum, dim_count); per-window totals ride
along as dim_name == '__total__'. Every window's rows arrive within
one micro-batch (commit-atomic upstream, see job.py), in any order.
"""

from __future__ import annotations

import math
import pickle
from dataclasses import dataclass, field
from typing import Any, Iterator

import pandas as pd

from ..algorithms.ewfeature import EWFeatureSpec, EWFeatureTransform
from ..algorithms.ewma import EWMAZScore
from ..algorithms.ewpercentile import EWAppxPercentileAuxiliary
from ..algorithms.models import AggregatedRecordsWBaseline, AnomalyEvent, Dimension
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
    # the ratio-1 rule, matching the batch column form's
    # parent_pairs join.
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


def tail_output_schema(with_key: bool = False) -> str:
    base = (
        "row_type string, seq long, window_start_epoch long, current double, "
        "baseline double, records_in_baseline_offset int, is_outlier boolean, "
        "score double, support double, num_records double, "
        "ratio_to_inliers double, n_dims int, summary_id long, "
        "dim_group string, dim_level int, "
        "dim_name string, dim_value string, cost double, "
        "current_value double, baseline_value double"
    )
    return f"tail_key string, {base}" if with_key else base


_OUT_COLUMNS = [
    "row_type", "seq", "window_start_epoch", "current", "baseline",
    "records_in_baseline_offset", "is_outlier", "score", "support",
    "num_records", "ratio_to_inliers", "n_dims", "summary_id",
    "dim_group", "dim_level",
    "dim_name", "dim_value", "cost", "current_value", "baseline_value",
]


def _empty_row() -> dict[str, Any]:
    return {c: None for c in _OUT_COLUMNS}


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
        rows = []
        summaries = simple_contributor_summaries(
            rec.current_dimensions_breakdown,
            rec.baseline_dimensions_breakdown,
            rec.current,
            0.0 if math.isnan(rec.baseline) else rec.baseline,
            self.config.summary_size,
        )
        for s in summaries:
            row = _empty_row()
            row.update(
                row_type="rca", seq=self.seq, window_start_epoch=window_start,
                current=rec.current,
                baseline=None if math.isnan(rec.baseline) else rec.baseline,
                n_dims=len(summaries),
                dim_group=s.dimension.group, dim_level=s.dimension.level,
                dim_name=s.dimension.name, dim_value=s.dimension.value,
                cost=s.cost, current_value=s.current_value,
                baseline_value=s.baseline_value,
            )
            rows.append(row)
        return rows

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
        long-form rows."""
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
            for s in summaries:
                row = _empty_row()
                row.update(
                    row_type="rca", seq=self.seq, window_start_epoch=window_start,
                    current=rec.current,
                    baseline=None if math.isnan(rec.baseline) else rec.baseline,
                    n_dims=len(summaries),
                    dim_group=group, dim_level=s.dimension.level,
                    dim_name=s.dimension.name, dim_value=s.dimension.value,
                    cost=s.cost, current_value=s.current_value,
                    baseline_value=s.baseline_value,
                )
                rows.append(row)
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
    the rows applyInPandas receives, and the MacroBase summarizer's
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


_OUT_DTYPES = {
    "row_type": "object", "seq": "int64", "window_start_epoch": "int64",
    "current": "float64", "baseline": "float64",
    "records_in_baseline_offset": "int32", "is_outlier": "object",
    "score": "float64", "support": "float64", "num_records": "float64",
    "ratio_to_inliers": "float64", "n_dims": "float64", "summary_id": "float64",
    "dim_group": "object", "dim_level": "float64",
    "dim_name": "object", "dim_value": "object", "cost": "float64",
    "current_value": "float64", "baseline_value": "float64",
}


def _typed_frame(rows: list[dict[str, Any]]) -> pd.DataFrame:
    if rows:
        return pd.DataFrame(rows, columns=_OUT_COLUMNS)
    return pd.DataFrame({c: pd.Series(dtype=t) for c, t in _OUT_DTYPES.items()})


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


def make_tail_fn(config: TailConfig, with_key: bool = False):
    """Builds the applyInPandasWithState function. State schema:
    (version int, blob binary). Each grouping key gets its own pickled
    StreamingTail in the state store — with_key=True emits the key as
    `tail_key` so N independent detectors (multi-key tails, VERDICT
    r2 #4) share one streaming query."""

    def fn(key, pdf_iter, state) -> Iterator[pd.DataFrame]:
        if state.exists:
            version, blob = state.get
            if version != PICKLE_VERSION:
                raise RuntimeError(
                    f"tail state for key {key!r} has version {version}; this "
                    f"engine reads version {PICKLE_VERSION}. Restart the detect "
                    "query from a new checkpoint."
                )
            tail = pickle.loads(bytes(blob))
        else:
            tail = StreamingTail(config)
        out_rows: list[dict[str, Any]] = []
        # one rows_to_windows over the whole group: Spark hands it over
        # in Arrow batches of maxRecordsPerBatch rows, unsorted across
        # batches, so a per-batch sort would feed windows out of order
        # and cut a window split across two batches in two
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            for ws, current, records, breakdown, hierarchy in rows_to_windows(pdf):
                out_rows.extend(
                    tail.process_window(ws, current, records, breakdown, hierarchy)
                )
        state.update((PICKLE_VERSION, pickle.dumps(tail)))
        if out_rows:
            frame = _typed_frame(out_rows)
            if with_key:
                frame.insert(0, "tail_key", str(key[0]))
            yield frame

    return fn
