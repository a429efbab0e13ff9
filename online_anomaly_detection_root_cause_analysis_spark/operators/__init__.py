"""Windowed aggregation and baselines for the batch queries. Threshold
detection and RCA run only in the streaming tail
(streaming/state.py::StreamingTail). The text-curation operators
(`dedup`, `textstats`) are not re-exported: import them by module, so
the AD/RCA path never loads them."""

from .windows import (
    dimension_breakdown,
    session_window_agg,
    sliding_window_totals,
    tumbling_window_totals,
)
from .baseline import with_offset_baseline

__all__ = [
    "dimension_breakdown",
    "session_window_agg",
    "sliding_window_totals",
    "tumbling_window_totals",
    "with_offset_baseline",
]
