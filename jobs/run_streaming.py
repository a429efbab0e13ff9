"""Production streaming job entry point (reference jobs/MainJob.scala).

Submit:
    spark-submit --py-files engine.zip jobs/run_streaming.py \
        --input /data/pages --work /data/ad_rca \
        --detector threshold --min 0 --max 50000 \
        --window 300 --slide 60 --watermark "10 minutes"

On a real cluster the source/sinks are Iceberg tables (swap
read_pages_stream / the foreachBatch sink for format("iceberg") —
jars not present in this sandbox image). Package the engine with:
    cd /root/repo && zip -r engine.zip online_anomaly_detection_root_cause_analysis_spark
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
    EWFeatureSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.algorithms.summarizer import (
    SummarizerSpec,
)
from online_anomaly_detection_root_cause_analysis_spark.config import (
    web_pages_config,
    web_pages_parent_value,
)
from online_anomaly_detection_root_cause_analysis_spark.session import get_spark
from online_anomaly_detection_root_cause_analysis_spark.sources.pages import (
    read_pages_stream,
)
from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
    build_page_records,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.job import StreamingJob
from online_anomaly_detection_root_cause_analysis_spark.streaming.listener import (
    LineageMetricsListener,
)
from online_anomaly_detection_root_cause_analysis_spark.streaming.state import TailConfig


def build_tail(args: argparse.Namespace) -> TailConfig:
    """Detection method x RCA method are independent axes, exactly as
    in the reference (MainJob.scala:25-110): --detector
    threshold|macrobase crossed with --rca simple|hierarchical|
    macrobase (default: the reference pairings — simple for
    threshold, macrobase summarizer for macrobase)."""
    cfg = web_pages_config()
    hier = args.rca == "hierarchical"
    # MainJob.scala:95-108 default summarizer hyper-parameters
    summarizer_spec = SummarizerSpec(
        summary_update_period=20, decay_rate=0.03,
        outlier_item_summary_size=1000, inlier_item_summary_size=1000,
        min_oi_ratio=1, min_support=0.01,
        attributes=[d.name for d in cfg.dimensions],
        attribute_combinations=True, summary_generation_period=99,
    )
    common = dict(
        rca_mode=args.rca,
        baseline_n=args.baseline_n,
        summary_size=args.summary_size,
        summarizer_spec=summarizer_spec,
        parent_of=dict(cfg.hierarchy_pairs()) if hier else None,
        # --hierarchy-from-data resolves parent VALUES from each
        # window's co-occurrence pairs (carried on the aggregate rows)
        # instead of deriving them from the child value — required when
        # the parent is an independent record field
        hierarchy_from_data=hier and args.hierarchy_from_data,
        parent_value_fn=(
            web_pages_parent_value if hier and not args.hierarchy_from_data else None
        ),
    )
    if args.detector == "threshold":
        return TailConfig(
            mode="threshold", min_value=args.min, max_value=args.max, **common
        )
    if args.detector == "zscore":
        return TailConfig(
            mode="zscore",
            ewma_alpha=args.ewma_alpha,
            ewma_z_threshold=args.ewma_z,
            **common,
        )
    if args.detector == "hstrees":
        # isolation-forest-style Half-Space Trees; workspace bounds
        # come from a historical profile of the metric (never from the
        # future of the stream)
        return TailConfig(
            mode="hstrees",
            hs_lo=args.hs_lo,
            hs_hi=args.hs_hi,
            hs_window=args.hs_window,
            hs_threshold=args.hs_threshold,
            **common,
        )
    # MainJob.scala:35-47 default MacroBase detector hyper-parameters
    return TailConfig(
        mode="macrobase",
        detector_spec=EWFeatureSpec(
            warmup_count=100, sample_size=1000, decay_period=10,
            decay_rate=0.01, training_period=10, percentile=0.9,
        ),
        **common,
    )


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument(
        "--detector",
        choices=["threshold", "macrobase", "zscore", "hstrees"],
        default="threshold",
    )
    ap.add_argument("--ewma-alpha", type=float, default=0.1)
    ap.add_argument("--ewma-z", type=float, default=3.0)
    ap.add_argument("--hs-lo", type=float, default=0.0)
    ap.add_argument("--hs-hi", type=float, default=1.0,
                    help="hstrees workspace upper bound (historical profile)")
    ap.add_argument("--hs-window", type=int, default=32)
    ap.add_argument("--hs-threshold", type=float, default=8.0)
    ap.add_argument(
        "--rca", choices=["simple", "hierarchical", "macrobase"], default=None,
        help="RCA method; default = the reference pairing for the detector",
    )
    ap.add_argument("--min", type=float, default=float("-inf"))
    ap.add_argument("--max", type=float, default=float("inf"))
    ap.add_argument("--window", type=int, default=300)
    ap.add_argument("--slide", type=int, default=60)
    ap.add_argument("--watermark", default="0 seconds")
    ap.add_argument("--baseline-n", type=int, default=10)
    ap.add_argument("--summary-size", type=int, default=5)
    ap.add_argument(
        "--max-files-per-trigger", type=int, default=4,
        help="source trigger size: larger = throughput mode, 1 = "
        "latency mode (p95 commit latency ~ trigger cadence; see "
        "BENCH/BASELINE.md)",
    )
    ap.add_argument(
        "--key", default=None,
        help="record column partitioning the job into one independent "
        "detector per key value (multi-key tails); omit for the "
        "reference's single keyBy(0) detector",
    )
    ap.add_argument(
        "--dedup-col", default=None,
        help="record column keying streaming first-occurrence dedup "
        "ahead of the aggregation (e.g. url: crawl re-fetches within "
        "the watermark span are dropped); state bounded by one "
        "watermark span",
    )
    ap.add_argument(
        "--pre-filter", default=None,
        help="SQL boolean expression over record columns applied "
        "BEFORE dedup/watermark/aggregation (the streaming quality "
        "gate, e.g. \"value > 0\"); stateless map-side filter",
    )
    ap.add_argument(
        "--hierarchy-from-data", action="store_true",
        help="resolve hierarchical-RCA parent values from per-window "
        "co-occurrence (parent = independent record field) instead of "
        "deriving them from the child value",
    )
    return ap.parse_args(argv)


def main() -> None:
    args = parse_args()
    spark = get_spark(app_name="online-ad-rca")
    spark.streams.addListener(
        LineageMetricsListener(os.path.join(args.work, "metrics.jsonl"))
    )
    cfg = web_pages_config()
    job = StreamingJob(
        work_dir=args.work, cfg=cfg, tail=build_tail(args),
        size_s=args.window, slide_s=args.slide, watermark=args.watermark,
        with_hierarchy=args.hierarchy_from_data, key=args.key,
        dedup_col=args.dedup_col,
        pre_filter=args.pre_filter,
    )
    pages = read_pages_stream(spark, args.input, args.max_files_per_trigger)
    stream = build_page_records(pages, cfg)
    q1 = job.start_aggregate_query(stream)
    q2 = job.start_detect_query(spark)
    print(
        f"aggregate={q1.id} detect={q2.id}; "
        f"alerts -> {job.alerts_dir}, rca -> {job.rca_dir}"
    )
    spark.streams.awaitAnyTermination()


if __name__ == "__main__":
    main()
