"""ThirdEye contributor stats + simple/hierarchical costs: the engine's
one implementation of the simple and hierarchical contributor finders.
The streaming tail (streaming/state.py::StreamingTail) runs them on
its per-window breakdowns, in the streaming job and in every batch
RCA query (make_batch_tail); the DuckDB oracles check them there.

NaN policy: the reference's zero-denominator stats are Double.NaN,
which poisons the cost and then fails its `cost > 0` filter; the same
happens here, and the tail emits a surviving row's NaN percentages as
NULL, as the oracles do.

Ports: Stats.scala:8-75, SimpleContributorsCost.scala:14-22,
SimpleContributorsFinder.scala:44-76,
HierarchicalContributorsFinder.scala:14-199,
HierarchicalContributorsCost.scala:3-111.
"""

from __future__ import annotations

import math

from .models import Dimension, DimensionSummary

MIN_CONTRIBUTION_OF_INTEREST_PCT = 3.0

_LONG_MAX = 9223372036854775807
_LONG_MIN = -9223372036854775808


def _jscale(x: float, scale: float) -> float:
    """Java Math.round(x*scale)/scale on doubles, totally: NaN/Inf
    propagate (existing documented NULL/NaN policy), and huge FINITE
    x saturates at Long.MAX/MIN like Math.round does — Python's
    math.floor would otherwise raise OverflowError on x*scale
    overflowing to inf (found by fuzz: a denormal denominator in ctoc
    makes the quotient ~1e307, finite, but *1e4 is inf)."""
    if math.isnan(x) or math.isinf(x):
        return x
    y = x * scale + 0.5
    if math.isinf(y):
        return (_LONG_MAX if y > 0 else _LONG_MIN) / scale
    f = math.floor(y)
    if f > _LONG_MAX:
        return _LONG_MAX / scale
    if f < _LONG_MIN:
        return _LONG_MIN / scale
    return f / scale


def _jround4(x: float) -> float:
    # Java Math.round(x*1e4)/1e4 (Stats.scala:72-74)
    return _jscale(x, 10000.0)


def _q6(x: float) -> float:
    """6dp input quantization, floor(x*1e6+0.5)/1e6 as in the DuckDB
    oracles: every cost/ratio input is quantized the same way on both
    sides, or near-zero cost signs flip between the engine and the
    oracle."""
    return _jscale(x, 1000000.0)


def value_change_percentage(baseline: float, current: float) -> float:
    if baseline != 0.0:
        return _jround4((current - baseline) / baseline * 100.0)
    return math.nan


def contribution_change_percentage(
    baseline: float, current: float, baseline_total: float, current_total: float
) -> float:
    if current_total != 0.0 and baseline_total != 0.0:
        return _jround4((current / current_total - baseline / baseline_total) * 100.0)
    return math.nan


# Java Math.round saturation on ±Infinity: Long.MaxValue/1e4 and
# Long.MinValue/1e4 — the FINITE ctoc the reference emits when
# current_total == baseline_total (both nonzero) divides by zero.
CTOC_SATURATION_POS = 9223372036854775807 / 1e4
CTOC_SATURATION_NEG = -9223372036854775808 / 1e4


def contribution_to_overall_change_percentage(
    baseline: float,
    current: float,
    baseline_total: float,
    current_total: float,
    strict_parity: bool = False,
) -> float:
    # DEFAULT behavior is a DELIBERATE DEVIATION (ADVICE r2, kept
    # visible via COVERAGE.md): when current_total == baseline_total
    # (both nonzero) the reference divides by zero giving ±Infinity,
    # and its roundUp (Math.round of ±Inf) collapses to
    # Long.MaxValue/10000 — a huge FINITE ctoc, so the reference EMITS
    # that summary with a dominating cost. That output is degenerate
    # garbage (an artifact of Math.round saturation), so by default
    # this port returns NaN and the row is dropped by the cost > 0
    # filter (module docstring, NaN policy).
    #
    # strict_parity=True replicates the reference bit-for-bit instead
    # (ADVICE r3): ±Inf -> the Long.Max/Min saturation constants, and
    # 0/0 -> Math.round(NaN) == 0 -> 0.0 ctoc (then cost 0, dropped).
    if baseline_total != 0.0 and current_total != baseline_total:
        return _jround4(
            (current - baseline) / abs(current_total - baseline_total) * 100.0
        )
    if strict_parity and baseline_total != 0.0:
        if current > baseline:
            return CTOC_SATURATION_POS
        if current < baseline:
            return CTOC_SATURATION_NEG
        return 0.0
    return math.nan


def simple_cost(vcp: float, ccp: float, ctoc: float) -> float:
    if abs(ctoc) < MIN_CONTRIBUTION_OF_INTEREST_PCT:
        return 0.0
    return abs(ctoc) + abs(ccp)


def simple_contributor_summaries(
    current_breakdown: dict[Dimension, float],
    baseline_breakdown: dict[Dimension, float],
    current_total: float,
    baseline_total: float,
    summary_size: int = 5,
) -> list[DimensionSummary]:
    """SimpleContributorsFinder.computeSummaries: keyset union with
    zero-fill, cost>0 filter, cost-desc sort, take k."""
    current_total = _q6(current_total)
    baseline_total = _q6(baseline_total)
    out: list[DimensionSummary] = []
    for dim in set(current_breakdown) | set(baseline_breakdown):
        cv = _q6(current_breakdown.get(dim, 0.0))
        bv = _q6(baseline_breakdown.get(dim, 0.0))
        vcp = value_change_percentage(bv, cv)
        ccp = contribution_change_percentage(bv, cv, baseline_total, current_total)
        ctoc = contribution_to_overall_change_percentage(
            bv, cv, baseline_total, current_total
        )
        cost = simple_cost(vcp, ccp, ctoc)
        out.append(DimensionSummary(dim, cv, bv, cost, vcp, ccp, ctoc))
    out = [s for s in out if s.cost > 0]
    out.sort(key=lambda s: (-s.cost, s.dimension.name, s.dimension.value))
    return out[:summary_size]


# ------------------------------------- hierarchical (balanced) cost


def _sdiv(a: float, b: float) -> float:
    """Scala/IEEE Double division: x/0 -> ±Inf, 0/0 -> NaN (Python
    raises instead)."""
    if b == 0.0:
        if a == 0.0:
            return math.nan
        return math.inf if a > 0 else -math.inf
    return a / b


def _slog(x: float) -> float:
    """Scala Math.log: log(0) = -Inf, log(<0) = NaN."""
    if math.isnan(x) or x < 0.0:
        return math.nan
    if x == 0.0:
        return -math.inf
    return math.log(x)


def compute_change_ratio(baseline: float, current: float) -> float:
    """HierarchicalContributorsCost.computeChangeRatio (:103-110)."""
    if baseline != 0.0:
        return current / baseline
    return math.nan


def compute_contribution(
    baseline_size: float, current_size: float,
    baseline_total: float, current_total: float,
) -> float:
    """HierarchicalContributorsCost.computeContribution (:83-101):
    epsilon-floored node contribution."""
    contribution = _sdiv(baseline_size + current_size, baseline_total + current_total)
    if abs(0.0 - contribution) < 1e-5:
        return 0.0
    return contribution


def hierarchical_cost(
    baseline_value: float, current_value: float,
    parent_ratio: float, contribution: float,
) -> float:
    """HierarchicalContributorsCost.compute (:6-77): balanced cost with
    the one-sided ln(2-r) variants for empty baseline/current."""
    r = 1.0 if (parent_ratio == 0.0 or math.isnan(parent_ratio)) else parent_ratio
    if baseline_value != 0.0 and current_value != 0.0:
        expected_baseline = r * baseline_value
        return (current_value - expected_baseline) * _slog(
            (_sdiv(current_value, expected_baseline) - 1.0) * contribution + 1.0
        )
    if baseline_value == 0.0:
        return current_value * _slog(2.0 - r if r > 1.0 else r)
    return -baseline_value * _slog(2.0 - r if r < 1.0 else r)


def _topk_by_cost(summaries: list[DimensionSummary], k: int) -> list[DimensionSummary]:
    return sorted(
        summaries, key=lambda s: (-s.cost, s.dimension.name, s.dimension.value)
    )[:k]


def dimension_importance(
    summaries: list[DimensionSummary], topk: int
) -> list[DimensionSummary]:
    """HierarchicalContributorsFinder.dimensionImportance (:184-198):
    per-level top-k from deepest level up, folded into a running
    top-k. Tie order made deterministic by (name, value) — the
    reference's Scala-HashMap iteration order is not."""
    by_level: dict[int, list[DimensionSummary]] = {}
    for s in summaries:
        by_level.setdefault(s.dimension.level, []).append(s)
    acc: list[DimensionSummary] = []
    for level in sorted(by_level, reverse=True):
        acc = _topk_by_cost(acc + _topk_by_cost(by_level[level], topk), topk)
    return acc


def hierarchical_contributor_summaries(
    current_breakdown: dict[Dimension, float],
    baseline_breakdown: dict[Dimension, float],
    current_total: float,
    baseline_total: float,
    hierarchy: dict[Dimension, Dimension],
    summary_size: int = 5,
) -> list[DimensionSummary]:
    """HierarchicalContributorsFinder.computeSummaries (:52-117) for
    ONE dimension group (the caller splits by group, mirroring
    keyByDimensionGroup :150-177): keyset union zero-filled, balanced
    cost vs the parent ratio (level-1 parents = the window totals,
    getParentValue :119-147), cost>0 filter, per-level importance
    roll-up, final cost-desc sort."""
    current_total = _q6(current_total)
    baseline_total = _q6(baseline_total)
    out: list[DimensionSummary] = []
    for dim in set(current_breakdown) | set(baseline_breakdown):
        cv = _q6(current_breakdown.get(dim, 0.0))
        bv = _q6(baseline_breakdown.get(dim, 0.0))
        vcp = value_change_percentage(bv, cv)
        ccp = contribution_change_percentage(bv, cv, baseline_total, current_total)
        ctoc = contribution_to_overall_change_percentage(
            bv, cv, baseline_total, current_total
        )
        if abs(ctoc) < MIN_CONTRIBUTION_OF_INTEREST_PCT:
            cost = 0.0
        else:
            if dim.level == 1:
                p_cur, p_base = current_total, baseline_total
            else:
                parent = hierarchy.get(dim)
                p_cur = _q6(current_breakdown.get(parent, 0.0) if parent else 0.0)
                p_base = _q6(baseline_breakdown.get(parent, 0.0) if parent else 0.0)
            parent_ratio = compute_change_ratio(p_base, p_cur)
            contribution = compute_contribution(bv, cv, baseline_total, current_total)
            cost = hierarchical_cost(bv, cv, parent_ratio, contribution)
        out.append(DimensionSummary(dim, cv, bv, cost, vcp, ccp, ctoc))
    out = [s for s in out if s.cost > 0]
    final = dimension_importance(out, summary_size)
    return sorted(
        final, key=lambda s: (-s.cost, s.dimension.name, s.dimension.value)
    )
