"""Workload definitions and the tail configurations they run.

Every workload runs the same two-query `StreamingJob` (aggregate +
detect) over `sources.pages` data; they differ in event-time density,
extraction, key, detector and trigger size. Sizes are fixed here, not
derived from the run length, so a seed always gives the same input.

Every single-key aggregate commit stays under 10,000 rows: the detect
query hands a group's rows to the tail in Arrow batches of that size,
and on HEAD a trigger over more rows reaches the detector out of window
order (README.md, open bug 3).
"""

from __future__ import annotations

import argparse

WINDOW_S = 300
SLIDE_S = 60

WORKLOADS: dict[str, dict] = {
    # ~2.7k pages per 300 s window, 30k pages (~55 windows, ~5k aggregate
    # rows) per trigger, 4 data triggers: source, html->text extraction
    # and the aggregation state store carry the work; the tail is nearly
    # idle
    "backfill_dense": dict(
        live=False, n_pages=120_500, n_files=16, warmup_pages=500, ts_scale=0.02, out_of_order=0.0,
        extract=True, key=None, tail="macrobase", watermark_s=0,
        max_files_per_trigger=4,
    ),
    # the generator's natural 1-10 s stride: ~55 pages per window and
    # ~110 windows per trigger, so the serial single-key detect query is
    # the critical path; `text` is read as materialized (no extraction)
    "backfill_sparse": dict(
        live=False, n_pages=2_500, n_files=8, warmup_pages=100, ts_scale=1.0, out_of_order=0.0,
        extract=False, key=None, tail="macrobase", watermark_s=0,
        max_files_per_trigger=4,
    ),
    # open loop: one file per interval, 2 % out-of-order pages, 300 s
    # watermark, one detector per language, one source file per trigger.
    # Each file costs the detect query two triggers (its data batch and
    # the no-data batch that evicts), ~4 s on HEAD, so 6 s leaves headroom
    "live_keyed": dict(
        live=True, n_pages=1_200, n_files=3, warmup_pages=100, interval_s=6.0, ts_scale=1.0,
        out_of_order=0.02, extract=False, key="lang", tail="zscore",
        watermark_s=300, max_files_per_trigger=1,
    ),
}


def tail_config(name: str):
    """The `TailConfig` a workload's detect query runs.

    backfill: MacroBase detector with the `scripts/multikey_bench.py`
    spec and simple RCA. live: the production CLI's own config for
    `--detector zscore --rca hierarchical`
    (`jobs/run_streaming.py::build_tail`)."""
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
    )

    if name == "macrobase":
        return TailConfig(
            mode="macrobase",
            rca_mode="simple",
            detector_spec=EWFeatureSpec(
                warmup_count=100, sample_size=1000, decay_period=100,
                decay_rate=0.01, training_period=100, percentile=0.95,
            ),
        )
    from jobs.run_streaming import build_tail

    return build_tail(
        argparse.Namespace(
            detector="zscore", rca="hierarchical", ewma_alpha=0.1, ewma_z=3.0,
            baseline_n=10, summary_size=5, hierarchy_from_data=False,
            min=float("-inf"), max=float("inf"),
        )
    )
