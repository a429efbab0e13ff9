"""Windowed aggregation, baselines, detectors and RCA contributor
finders. The text-curation operators (`dedup`, `textstats`) are not
re-exported: import them by module, so the AD/RCA path never loads
them."""

from .windows import (
    dimension_breakdown,
    session_window_agg,
    sliding_window_totals,
    tumbling_window_totals,
)
from .baseline import breakdown_with_baseline, with_offset_baseline
from .threshold import threshold_alerts
from .contributors import simple_contributors, hierarchical_contributors

__all__ = [
    "breakdown_with_baseline",
    "dimension_breakdown",
    "hierarchical_contributors",
    "session_window_agg",
    "simple_contributors",
    "sliding_window_totals",
    "threshold_alerts",
    "tumbling_window_totals",
    "with_offset_baseline",
]
