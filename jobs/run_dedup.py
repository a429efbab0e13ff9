"""Offline fuzzy-dedup job: verify near-dup candidates and cluster.

The batch half of the two-job dedup topology the streaming candidates
query feeds (see StreamingJob.start_lsh_candidates_query): verify
near-duplicate pairs with exact n-gram Jaccard, cluster the verified
pair graph into components, and write the per-document keep-list
(cluster representative = min doc id).

Submit:
    spark-submit --py-files engine.zip jobs/run_dedup.py \
        --input /data/docs --out /data/dedup \
        [--candidates /data/ad_rca/near_dup_candidates] \
        [--clusterer auto|propagation|star]

CLUSTERER SELECTION RULE (r6 VERDICT #8, measured trade-off):

- `propagation` (min-label, near_dup_clusters): one join+agg per
  round, O(graph DIAMETER) rounds. Near-dup components produced by
  CONTENT similarity are shallow — duplicates of one document all
  link through shared shingles, so diameters are single digits — and
  propagation wins on constant factors (measured: fewer stages per
  round than star's alternating rewrites).
- `star` (alternating large/small-star, near_dup_clusters_star):
  O(log n) rounds regardless of shape. Wins when the graph may be
  CHAINED — e.g. candidate tables accumulated across many snapshots
  (A~B from dump 1, B~C from dump 2, ... can chain arbitrarily), or
  edges derived from transitive id joins rather than direct content
  verification (measured 4.5x faster on a diameter-64 chain).

- `auto` (default): picks by PROVENANCE, which this job knows —
  fresh single-corpus content verification (no --candidates, or a
  single-run candidate table) -> propagation; a pre-accumulated
  --candidates table -> star, because cross-run accumulation is
  exactly how chains form. The rule is also written in COVERAGE.md.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (  # noqa: E402
    near_dup_clusters,
    near_dup_clusters_star,
    near_duplicates,
    verify_candidate_pairs,
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument(
        "--candidates", default=None,
        help="pre-computed candidate pair table (doc_a, doc_b[, ...]) — "
        "e.g. the streaming query's near_dup_candidates dir; when "
        "omitted, candidates are generated in-job by MinHash LSH",
    )
    ap.add_argument(
        "--clusterer", choices=["auto", "propagation", "star"], default="auto",
        help="component algorithm; 'auto' applies the provenance rule "
        "documented in this file's docstring and COVERAGE.md",
    )
    ap.add_argument("--threshold", type=float, default=0.3)
    ap.add_argument("--ngram", type=int, default=3)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--num-hashes", type=int, default=64)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("near-dup-cluster").getOrCreate()
    docs = spark.read.parquet(args.input).select("doc_id", "text")

    if args.candidates is None:
        pairs = near_duplicates(
            docs,
            n=args.ngram,
            threshold=args.threshold,
            num_hashes=args.num_hashes,
            bands=args.bands,
        )
    else:
        # the streaming candidates dir is a Spark file-sink table: the
        # read lists committed files from its `_spark_metadata` log
        cands = (
            spark.read.schema("doc_a long, doc_b long")
            .parquet(args.candidates)
            .distinct()
        )
        pairs = verify_candidate_pairs(
            docs, cands, n=args.ngram, threshold=args.threshold
        )

    clusterer = args.clusterer
    if clusterer == "auto":
        # provenance rule: accumulated candidate tables can chain
        # across runs -> star; fresh content verification -> shallow
        # components -> propagation
        clusterer = "star" if args.candidates is not None else "propagation"
    cluster_fn = (
        near_dup_clusters_star if clusterer == "star" else near_dup_clusters
    )
    clusters = cluster_fn(pairs.select("doc_a", "doc_b"), all_docs=docs)

    clusters_dir = os.path.join(args.out, "clusters")
    keep_dir = os.path.join(args.out, "keep")
    clusters.write.mode("overwrite").parquet(clusters_dir)
    # derive keep-list and summary counts from the WRITTEN table —
    # re-using `clusters` here would re-execute the whole iterative
    # clustering job once per action (r7 ADVICE)
    written = spark.read.parquet(clusters_dir)
    written.filter(F.col("doc_id") == F.col("cluster_rep")).select(
        "doc_id"
    ).write.mode("overwrite").parquet(keep_dir)
    n_docs = written.count()
    n_kept = spark.read.parquet(keep_dir).count()
    print(
        f"clusterer={clusterer} docs={n_docs} kept={n_kept} "
        f"dropped={n_docs - n_kept} -> {clusters_dir}, {keep_dir}"
    )


if __name__ == "__main__":
    main()
