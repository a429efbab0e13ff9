"""Batch-only text-curation operators (`dedup`, `textstats`). They are
not re-exported: import them by module, so the AD/RCA path never loads
them. Window aggregation, baselines, threshold detection and RCA run
only on the streaming engine's operators
(streaming/job.py::long_form_window_aggs, streaming/state.py::StreamingTail)."""
