"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship threshold-AD + simple-RCA pipeline on
/root/testdata/sf0.001. `queries()` exposes each implemented operator
from SURVEY.md §2 as (spark, sf_dir) -> DataFrame over the driver
tables; `oracle_sql()` gives the DuckDB-equivalent SQL the correctness
gate compares against (timestamps normalized to epoch BIGINT, float
aggregates rounded to 4 decimals on both sides).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from online_anomaly_detection_root_cause_analysis_spark.config import (
    DimensionSpec,
    EngineConfig,
    events_config,
)
from online_anomaly_detection_root_cause_analysis_spark.operators.contributors import (
    hierarchical_contributors,
)
from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
    MERSENNE_P,
    _minhash_params,
    exact_duplicates,
    minhash_lsh_pairs,
    near_duplicates,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from online_anomaly_detection_root_cause_analysis_spark.functions.text import (
    LANG_MARKERS,
)
from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
    document_fingerprints,
    document_language_id,
    document_text_stats,
)
from online_anomaly_detection_root_cause_analysis_spark.operators.baseline import (
    breakdown_with_baseline,
    with_offset_baseline,
    with_offset_baseline_old,
)
from online_anomaly_detection_root_cause_analysis_spark.operators.contributors import (
    simple_contributors,
    summary_report,
)
from online_anomaly_detection_root_cause_analysis_spark.operators.windows import (
    dimension_breakdown,
    session_window_agg,
    simple_window_records,
    sliding_window_totals,
    tumbling_window_totals,
)
from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
    build_event_records,
)

SIZE_S = 300
SLIDE_S = 60
BASELINE_N = 10
SUMMARY_SIZE = 5


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return build_event_records(df, events_config())


def _epoch(col: str = "window_start"):
    return F.unix_timestamp(col)


def _r4(col) -> object:
    """Half-up rounding at 4dp via floor(x*1e4+0.5) — bit-identical to
    the same expression in DuckDB given identical input doubles
    (engine round() builtins disagree on repr-boundary doubles)."""
    return F.floor(F.col(col) * 10000.0 + 0.5) / 10000.0


def _q6_aggs(aggs: DataFrame) -> DataFrame:
    """Quantize long-form window sums to 6dp before they enter a
    stateful recursion (EWMA / MacroBase tails): the tail's arithmetic
    is bit-replayed by the DuckDB oracle, so its INPUTS must already
    be bit-identical across engines — raw Spark and DuckDB sums can
    differ by a ulp."""
    return aggs.withColumn(
        "dim_sum", F.floor(F.col("dim_sum") * 1000000.0 + 0.5) / 1000000.0
    )


# ---------------------------------------------------------------- queries

def q_tumbling_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    totals = tumbling_window_totals(_events(spark, sf_dir), SIZE_S)
    return totals.select(
        _epoch().alias("window_start_epoch"),
        _r4("current").alias("current"),
        "records_aggregated",
    )


def q_sliding_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    totals = sliding_window_totals(_events(spark, sf_dir), SIZE_S, SLIDE_S)
    return totals.select(
        _epoch().alias("window_start_epoch"),
        _r4("current").alias("current"),
        "records_aggregated",
    )


def q_offset_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    totals = sliding_window_totals(_events(spark, sf_dir), SIZE_S, SLIDE_S)
    wb = with_offset_baseline(totals, BASELINE_N)
    return wb.select(
        _epoch().alias("window_start_epoch"),
        F.col("window_idx").cast("long").alias("window_idx"),
        _r4("current").alias("current"),
        _r4("baseline").alias("baseline"),
        "records_in_baseline_offset",
    )


def _alerts_df(spark: SparkSession, sf_dir: str):
    records = _events(spark, sf_dir)
    totals = sliding_window_totals(records, SIZE_S, SLIDE_S)
    wb = with_offset_baseline(totals, BASELINE_N)
    # data-relative thresholds (2x / 0.2x the mean window total) so the
    # same query is meaningful at every scale factor
    avg_current = totals.agg(F.avg("current").alias("_avg"))
    wb2 = wb.crossJoin(F.broadcast(avg_current))
    alerts = wb2.filter(
        (F.col("current") > 2 * F.col("_avg")) | (F.col("current") < 0.2 * F.col("_avg"))
    ).drop("_avg")
    return records, totals, wb, alerts


def q_threshold_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, _, alerts = _alerts_df(spark, sf_dir)
    return alerts.select(
        _epoch().alias("window_start_epoch"),
        _r4("current").alias("current"),
        _r4("baseline").alias("baseline"),
        "records_in_baseline_offset",
    )


def q_dimension_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    bd = dimension_breakdown(
        _events(spark, sf_dir), events_config(), SIZE_S, SLIDE_S
    )
    return bd.select(
        _epoch().alias("window_start_epoch"),
        "dim_name",
        "dim_value",
        _r4("dim_sum").alias("dim_sum"),
        "dim_count",
    )


def q_dimension_breakdown_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (salted) aggregation variant — identical result set,
    skew-resistant plan (north_rule skew handling)."""
    bd = dimension_breakdown(
        _events(spark, sf_dir), events_config(), SIZE_S, SLIDE_S, salt_buckets=8
    )
    return bd.select(
        _epoch().alias("window_start_epoch"),
        "dim_name",
        "dim_value",
        _r4("dim_sum").alias("dim_sum"),
        "dim_count",
    )


def q_simple_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    records, totals, wb, alerts_raw = _alerts_df(spark, sf_dir)
    # deterministic anomaly id = the window epoch
    alerts = alerts_raw.withColumn("anomaly_id", _epoch().cast("string"))
    bd = dimension_breakdown(records, events_config(), SIZE_S, SLIDE_S)
    bdw = breakdown_with_baseline(bd, wb, BASELINE_N, targets=alerts)
    rca = simple_contributors(alerts, bdw, SUMMARY_SIZE)
    return rca.select(
        _epoch().alias("window_start_epoch"),
        "dim_name",
        "dim_value",
        _r4("current_value").alias("current_value"),
        _r4("baseline_value").alias("baseline_value"),
        _r4("cost").alias("cost"),
        "value_change_pct",
        "contribution_change_pct",
        "contribution_to_overall_change_pct",
        F.col("rank").cast("long").alias("rank"),
    )


def q_offset_baseline_old(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 OffsetBaselineAggregatorOld (deprecated in the reference;
    rebuilt r4 for inventory completeness): current anchored on the
    FIRST window of each sliding count buffer, baseline = mean of the
    rest (forward-looking)."""
    totals = sliding_window_totals(_events(spark, sf_dir), SIZE_S, SLIDE_S)
    wb = with_offset_baseline_old(totals, BASELINE_N)
    return wb.select(
        _epoch().alias("window_start_epoch"),
        F.col("window_idx").cast("long").alias("window_idx"),
        _r4("current_old").alias("current_old"),
        _r4("baseline").alias("baseline"),
        "records_in_baseline_offset",
    )


def q_window_sum_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 SumAggregatorSimple (deprecated in the reference; rebuilt
    r4): tumbling sum + first-record epoch + lineage count (the raw
    carried-records array stays behind carry_records=True — an
    anti-scale pattern, see operator docstring)."""
    s = simple_window_records(_events(spark, sf_dir), SIZE_S)
    return s.select(
        _epoch().alias("window_start_epoch"),
        _r4("current").alias("current"),
        "start_timestamp",
        "n_records",
    )


def q_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 SummaryReport (empty stub in the reference pointing at
    ThirdEye's cube SummaryResponse; rebuilt r4): per-anomaly rollup of
    the ranked simple-contributor rows into one report row."""
    return summary_report(q_simple_contributors(spark, sf_dir)).select(
        "window_start_epoch",
        "n_contributors",
        "report",
        _r4("total_cost").alias("total_cost"),
        _r4("max_cost").alias("max_cost"),
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = session_window_agg(df, key="user_id", gap_s=1800, ts="ts", value="value")
    return s.select(
        "user_id",
        F.unix_timestamp("session_start").alias("session_start_epoch"),
        _r4("current").alias("current"),
        "records_aggregated",
    )




# ---------------------------------------------- training-data pipeline ops

def _doc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus planted duplicates, derived identically in the
    DuckDB oracle: every doc_id%20==0 gets an exact copy at
    id+1_000_000; every doc_id%10==0 gets a near-copy (last 5 tokens
    dropped) at id+2_000_000."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


_DOC_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(t[1:greatest(len(t)-5, 1)], ' ')
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
  WHERE doc_id % 10 = 0
"""


def q_exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_doc_corpus(spark, sf_dir))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = ngram_jaccard_pairs(_doc_corpus(spark, sf_dir), n=3, threshold=0.3)
    return p.select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        (F.floor(F.col("jaccard") * 10000.0 + 0.5) / 10000.0).alias("jaccard"),
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_hash='sha' makes every stage (token hash, rolling shingle
    hash, 64 universal-hash mins, banding, est_jaccard) recomputable in
    DuckDB — full hash-gate; pytest covers the xxhash64 fast path."""
    p = minhash_lsh_pairs(
        _doc_corpus(spark, sf_dir), n=3, num_hashes=64, bands=16, token_hash="sha"
    )
    return p.select(
        "doc_a", "doc_b",
        (F.floor(F.col("est_jaccard") * 10000.0 + 0.5) / 10000.0).alias("est_jaccard"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = simhash_pairs(_doc_corpus(spark, sf_dir), max_hamming=3, token_hash="sha")
    return p.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def q_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-candidates -> exact-verify composition; oracle = the same
    exact corpus-wide pair set (near_duplicates must find all of it)."""
    p = near_duplicates(_doc_corpus(spark, sf_dir), n=3, threshold=0.3, bands=32)
    return p.select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        (F.floor(F.col("jaccard") * 10000.0 + 0.5) / 10000.0).alias("jaccard"),
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup CLUSTERING: connected components over the verified
    near-dup pair graph via iterative min-label propagation (one
    vertex join + one aggregation per round, O(diameter) rounds — the
    step that picks one representative per transitive dup cluster).
    Oracle: DuckDB recursive reachability CTE computing min reachable
    id per vertex, singletons from the corpus complement."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        near_dup_clusters,
    )

    corpus = _doc_corpus(spark, sf_dir)
    pairs = near_duplicates(corpus, n=3, threshold=0.3, bands=32)
    return near_dup_clusters(pairs, all_docs=corpus)


def q_near_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash gate for the large-star/small-star clusterer ITSELF
    (operators/dedup.py::near_dup_clusters_star), decoupled from the
    LSH pair pipeline (which near_dup_clusters already gates
    end-to-end): a deterministic synthetic graph built from existing
    doc_ids — 4-node chains (d, d+1 for d%10 in 0..2, emitted
    big-first) and 3-spoke hubs (hub = d - d%20 for d%20 >= 17,
    emitted small-first, so both edge orientations occur) — clustered
    to min-id representatives with singletons from the corpus
    complement. Oracle: the same recursive reachability CTE as
    near_dup_clusters over the same synthetic edges."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        near_dup_clusters_star,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    a, b = docs.alias("a"), docs.alias("b")
    chain = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") + 1)
        & (F.col("a.doc_id") % 10).isin(0, 1, 2),
    ).select(F.col("b.doc_id").alias("doc_a"), F.col("a.doc_id").alias("doc_b"))
    hub = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id") - (F.col("a.doc_id") % 20))
        & ((F.col("a.doc_id") % 20) >= 17),
    ).select(F.col("b.doc_id").alias("doc_a"), F.col("a.doc_id").alias("doc_b"))
    return near_dup_clusters_star(chain.unionByName(hub), all_docs=docs)


def q_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup at a real operating point:
    OLD corpus = even doc_ids, NEW batch = odd doc_ids PLUS planted
    near-copies of old docs (every old %20 == 0, last 5 tokens
    dropped, id+4,000,000 — must match OLD) and of smaller new docs
    (every %15 == 1 odd doc, id+5,000,000 — must match NEW). Oracle:
    exact corpus-wide n-gram Jaccard over old ∪ new restricted to
    (new, old) and (new, smaller-new) pairs — the LSH candidate stage
    must find every exact match at this operating point, the same
    recall contract near_duplicates is held to
    (operators/dedup.py::incremental_near_dups)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        incremental_near_dups,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new_base = docs.filter(F.col("doc_id") % 2 == 1)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    trunc = F.concat_ws(
        " ", F.slice(toks, 1, F.greatest(F.size(toks) - 5, F.lit(1)))
    )
    near_old = old.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"), trunc.alias("text")
    )
    near_new = new_base.filter(F.col("doc_id") % 15 == 1).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), trunc.alias("text")
    )
    new = new_base.unionByName(near_old).unionByName(near_new)
    return incremental_near_dups(old, new, n=3, threshold=0.3, bands=32)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return document_text_stats(docs)


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return document_language_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return document_fingerprints(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate 2-/3-gram fractions (Gopher /
    RefinedWeb repetition-removal signals) — JVM higher-order-function
    n-grams, one explode + one (doc, n, gram) shuffle with map-side
    partial counts (operators/textstats.py::document_repetition_ratios)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        document_repetition_ratios,
    )

    return document_repetition_ratios(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate (word-count bounds, mean
    word length bounds, distinct-stopword minimum) — pure map-side JVM
    column math, no shuffle
    (operators/textstats.py::gopher_quality_filter)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        gopher_quality_filter,
    )

    return gopher_quality_filter(spark.read.parquet(f"{sf_dir}/documents.parquet"))


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1, "es": 0.75}


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation composition — the FULL production pipeline
    a webtext user actually runs (r5 VERDICT #8):

      quality -> decontaminate -> line_dedup -> PII-redact ->
      exact dedup -> stratified sample

    Stage notes. The corpus is planted with the line_dedup query's
    boilerplate (%4) AND the pii query's identifiers (%5) so every
    stage does real work. Decontamination drops any doc sharing an
    8-gram with the planted benchmark (every %25 doc — eval docs
    self-hit and leave the training set, which is the intended
    semantics). Redaction runs BEFORE dedup on purpose: per-copy
    identifiers (emails, ids) are exactly what defeats content-level
    exact dedup, and redacting first normalizes them away, so
    boilerplate-stripped near-copies that differ only in planted PII
    collapse to one representative. The dedup key is redacted_sha
    (sha256 of the redacted text — already computed by redact_pii).
    All map-side stages stay map-side; the shuffles are the line-df
    count, the gram rollup, the redacted-sha window, and the final
    doc_id joins — no Python anywhere (BatchEvalPython-free,
    plan-asserted in tests/test_plans.py).

    PLAN SHAPE (r6): the map-side stages (quality, PII, sample) are
    INLINE column expressions — `gopher_rule_cols` /
    `redacted_text_col` / `sample_keep_cols`, the same expressions
    the standalone operators wrap — not semi-joins of each operator's
    output back against its own input. The join form doubled the
    upstream subtree per stage: the composed plan hit 84 parquet
    scans / 613 nodes, and Catalyst ANALYSIS (not execution) became
    the cost at sf0.1 — the analyzer disease near_dup_clusters hit at
    run time, here at plan time. Only the two genuinely relational
    stages (decontaminate's gram rollup, line_dedup's df count) keep
    their joins. One materialization boundary: the decontaminated
    corpus is persist()-ed (consumed 3x downstream) and registered
    with the module's `cleanup()` hook, which the bench/sweep
    harnesses call between queries — closing the r6 ADVICE cache
    leak without eager localCheckpoint (whose full-width out-of-plan
    materialization measured +4.8 s at sf0.1). Hash unchanged."""
    from pyspark.sql import Window as W

    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        decontaminate,
        gopher_rule_cols,
        line_dedup_text,
        redacted_text_col,
        sample_keep_cols,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # plant: line structure (+boilerplate for %4) then a PII suffix
    l1 = F.substring(F.col("text"), 1, 60)
    l2 = F.substring(F.col("text"), 61, 1000000)
    nl = F.lit("\n")
    boiler = F.lit("subscribe to our newsletter today")
    lines = F.when(
        F.col("doc_id") % 4 == 0, F.concat(l1, nl, boiler, nl, l2)
    ).otherwise(F.concat(l1, nl, l2))
    branch = F.col("doc_id") % 5
    pii_suffix = (
        F.when(
            branch == 0,
            F.concat(
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com pls"),
            ),
        )
        .when(
            branch == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        )
        .when(
            branch == 2,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                (F.floor(F.col("doc_id") / 7) % 256).cast("string"),
                F.lit(" seen"),
            ),
        )
        .when(
            branch == 3,
            F.concat(
                F.lit(" card 4"),
                F.lpad((F.col("doc_id") % 100000000).cast("string"), 14, "0"),
                (F.col("doc_id") % 10).cast("string"),
                F.lit(" ok"),
            ),
        )
        .otherwise(F.lit(""))
    )
    planted = docs.select(
        "doc_id", "lang", F.concat(lines, pii_suffix).alias("text")
    )
    # 1. quality gate — inline map-side filter, zero joins
    q = planted.filter(gopher_rule_cols(F.col("text"))["passes"])
    # 2. benchmark decontamination (broadcast gram probe — the gram
    # rollup is genuinely relational, the one place q appears twice)
    bench = planted.filter(F.col("doc_id") % 25 == 0).select("text")
    dec = q.join(
        decontaminate(q, bench, n=8)
        .filter(~F.col("contaminated"))
        .select("doc_id"),
        "doc_id",
        "left_semi",
    ).persist()
    _LIVE_CACHES.append(dec)
    # consumed 3x by line_dedup (lines x2 + base); the local analogue
    # of the intermediate table a production pipeline writes between
    # jobs — without the boundary the quality+decontaminate subtree
    # (scan, gram explode, broadcast probe, rollup) re-runs three
    # times inside one action. persist + the `cleanup()` harness hook
    # (bench.py/correctness_sweep.py call it between queries): the r6
    # ADVICE leak fix WITHOUT eager localCheckpoint, whose full-width
    # out-of-plan materialization measured +4.8 s at sf0.1 (r7)
    # 3. line-level dedup (df over the surviving corpus)
    ld = dec.select("doc_id", "lang").join(
        line_dedup_text(dec, max_df=3), "doc_id"
    )
    # 4. PII redaction — inline projection (map-side). The redacted
    # text is pre-projected ONCE (r9): sha2 and length both reference
    # it, and leaving the regexp_replace chain inline evaluated the
    # whole chain twice per row (multi-referenced via a plain
    # attribute, the optimizer keeps the projection)
    red = ld.select(
        "doc_id", "lang", redacted_text_col(F.col("clean_text")).alias("_rt")
    ).select(
        "doc_id",
        "lang",
        F.sha2(F.col("_rt"), 256).alias("redacted_sha"),
        F.length(F.col("_rt")).cast("long").alias("redacted_len"),
    )
    # 5. exact dedup on the REDACTED text, min-doc_id representative
    kept = (
        red.withColumn("_mn", F.min("doc_id").over(W.partitionBy("redacted_sha")))
        .filter(F.col("doc_id") == F.col("_mn"))
        .select("doc_id", "lang", "redacted_sha", "redacted_len")
    )
    # 6. deterministic stratified sample — inline filter
    bucket, keep_below = sample_keep_cols(_SAMPLE_RATES, default_rate=0.1)
    return kept.select(
        "doc_id",
        "lang",
        bucket.alias("sample_bucket"),
        keep_below.alias("keep_below"),
        "redacted_sha",
        "redacted_len",
    ).filter(F.col("sample_bucket") < F.col("keep_below"))


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a corpus with PLANTED identifiers of all
    four classes (the fixture text carries none): doc_id%5==0 gets an
    email appended, %5==1 a phone-shaped number, %5==2 an IPv4
    address, %5==3 a 16-digit card-shaped number whose LAST digit is
    doc_id%10 — so Luhn validity varies naturally across docs (~10%
    valid) and the operator's checksum math, not the plant, decides
    n_cards_valid — and %5==4 stays clean. The oracle replants
    identically from doc_id and re-runs the same RE2-safe patterns +
    Luhn replay (operators/textstats.py::redact_pii)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        redact_pii,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    branch = F.col("doc_id") % 5
    planted = docs.select(
        "doc_id",
        F.when(
            branch == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com pls"),
            ),
        )
        .when(
            branch == 1,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        )
        .when(
            branch == 2,
            F.concat(
                F.col("text"),
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                (F.floor(F.col("doc_id") / 7) % 256).cast("string"),
                F.lit(" seen"),
            ),
        )
        .when(
            branch == 3,
            F.concat(
                F.col("text"),
                F.lit(" card 4"),
                F.lpad((F.col("doc_id") % 100000000).cast("string"), 14, "0"),
                (F.col("doc_id") % 10).cast("string"),
                F.lit(" ok"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return redact_pii(planted)


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-100 — explode -> map-side partial count ->
    one word shuffle -> TakeOrdered(k) with deterministic (count desc,
    word asc) ties (operators/textstats.py::corpus_vocabulary)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        corpus_vocabulary,
    )

    return corpus_vocabulary(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), top_k=100
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible hash-based per-language sampling (the data-mixing
    stage): membership = sha60('doc-<id>') mod 10000 < rate[lang] *
    10000 — idempotent under task retries, zero shuffle; zh exercises
    the default-rate branch
    (operators/textstats.py::deterministic_stratified_sample)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        deterministic_stratified_sample,
    )

    return deterministic_stratified_sample(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        rates=_SAMPLE_RATES,
        default_rate=0.1,
    )


_BLOCKED_HOSTS = [f"src{i}.example.com" for i in range(5)]


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host blocklist gate over the planted urls (same planting as
    url_host_stats): hosts src0-src4 are excluded via a broadcast
    LEFT ANTI join — map-side, no page-table shuffle (plan-asserted)
    (operators/textstats.py::blocklist_filter)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        blocklist_filter,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scheme = F.when(F.col("doc_id") % 5 == 0, F.lit("HTTPS://")).otherwise(
        F.lit("https://")
    )
    www = F.when(F.col("doc_id") % 7 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    pages = docs.select(
        "doc_id",
        F.concat(
            scheme, www, F.col("source"), F.lit(".Example.COM/articles/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    blocklist = spark.createDataFrame([(h,) for h in _BLOCKED_HOSTS], ["host"])
    return blocklist_filter(pages, blocklist)


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event_type value percentiles (p50/p95/p99) — the
    distribution profile detector thresholds are calibrated from;
    F.percentile == percentile_cont == DuckDB quantile_cont, quantized
    to 6dp (operators/windows.py::grouped_percentiles)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.windows import (
        grouped_percentiles,
    )

    return grouped_percentiles(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: first 16 BPE merge rules learned from the
    corpus (distinct-word vocab + frequencies, one pair-count shuffle
    per round, single-row argmax collect, map-side replace). 16 rounds
    (r5 VERDICT #5) puts the gate past the toy regime: merged symbols
    re-enter the pair statistics and later rules merge PRIOR MERGE
    PRODUCTS (asserted in tests/test_dedup_similarity.py — the
    interesting BPE case a 5-merge run never reaches). Oracle:
    the same 16 rounds UNROLLED as DuckDB CTEs — identical char split,
    weighted pair counts, (count desc, left, right) tiebreak, and
    byte-identical single-pass replace semantics (probed: both engines
    resume scanning after each replacement)
    (operators/textstats.py::bpe_merges)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        bpe_merges,
    )

    return bpe_merges(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_merges=16
    )


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: run the 16 induced merge rules over the corpus
    and report per-doc (n_words, n_tokens) — the fertility statistic
    that budgets training FLOPs. Rules apply once to the distinct-word
    vocab (bounded map pass), counts join back on the word key. Oracle:
    the induction CTE chain carried one column wider (word kept through
    every round) + the same explode/join/agg
    (operators/textstats.py::bpe_tokenize)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        bpe_tokenize,
    )

    return bpe_tokenize(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_merges=16
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: global token-stream offsets
    via a distributed two-level prefix sum (parallel per-shard window
    cumsums + an n_shards-row offset table broadcast back — the only
    single-task window is shards-sized), then per-doc chunk span math
    in codegen. Oracle: one global SQL window cumsum — semantics
    identical regardless of sharding
    (operators/textstats.py::sequence_packing)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        sequence_packing,
    )

    return sequence_packing(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), ctx_len=64
    )


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language power-of-two context-length histogram with
    cumulative token share — the pretraining context-window planning
    rollup; integer-bits buckets, BIGINT running sums, one division
    (operators/textstats.py::length_histogram)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        length_histogram,
    )

    return length_histogram(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal (KenLM-style, one order above
    unigram_surprisal): per-bigram bits = floor_log2(prefix count) -
    floor_log2(bigram count), MLE P(w2|w1) over the corpus's own
    bigram table; expression-side bigram construction, exact integer
    bits end to end (operators/textstats.py::bigram_surprisal)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        bigram_surprisal,
    )

    return bigram_surprisal(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier (CCNet/LLaMA
    model-based gate): per-word integer weights via the hashing trick
    (sha60 mod 2001 - 1000), doc logit_sum = exact BIGINT sum, keep =
    logit_sum >= 0 — integer-exact end to end, no transcendentals
    (operators/textstats.py::linear_quality_score)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        linear_quality_score,
    )

    return linear_quality_score(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (T=0.5) language mixture reweighting
    (mBERT/XLM-R sampling): per-lang token mass -> q ~ p^(1/T) and
    the q/p sampling-rate multiplier; one partial-agg groupBy, then
    windows over the languages-sized result only. T=0.5 (1/T integer)
    takes the ENGINE-PORTABLE exact path — q from BIGINT n_tokens^2
    sums and a single IEEE division, no libm pow on either side, so
    the 1e-6 floor rounding can never sit on a cross-engine ulp
    boundary (r6 ADVICE; operators/textstats.py::mixture_weights)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        mixture_weights,
    )

    return mixture_weights(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), temperature=0.5
    )


def q_mixture_weights_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting at T=1.0 (k=1): the identity operating
    point — q == p and sample_weight == 1.0 for every language. Gates
    the r7 ADVICE fix (the old exact path returned n_tokens instead
    of 1.0 at k=1 because its weight numerator hardcoded the k=2
    formula n*s1/sk; now n^(k-1)*s1/sk)
    (operators/textstats.py::mixture_weights)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        mixture_weights,
    )

    return mixture_weights(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), temperature=1.0
    )


def q_mixture_weights_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting at T=1/3 (k=3): a k>2 exact-integer point —
    q ~ n_tokens^3 from BIGINT window sums, sample_weight =
    n_tokens^2*s1/s3 (the r7 ADVICE k>=3 case, off by n^(k-2) before
    the fix). BIGINT bound holds through sf1 (n^3 ~ 1.4e18 < 2^63);
    T=0.25 (k=4) would overflow int64 at sf0.1 so it lives in the
    unit test's small fixture only
    (operators/textstats.py::mixture_weights)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        mixture_weights,
    )

    return mixture_weights(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        temperature=1.0 / 3.0,
    )


def q_top_words_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language heavy-hitter words, top-10 with deterministic
    (count desc, word asc) ties; the rank filter compiles to
    WindowGroupLimit (per-partition top-k pruned BEFORE the window
    shuffle — plan-asserted)
    (operators/textstats.py::top_words_per_key)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        top_words_per_key,
    )

    return top_words_per_key(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), key_col="lang", k=10
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate removal over PLANTED multi-line docs
    (the fixture text is single-line): each doc is split into two
    content lines, and doc_id % 4 == 0 docs get a shared boilerplate
    line INSERTED BETWEEN them — so the gate checks df counting (the
    boilerplate's df is ~N/4, content lines stay unique except exact-
    dup docs at df 2 <= max_df), deletion, and order-preserving
    reassembly (survivors must rejoin as line1\\nline2)
    (operators/textstats.py::line_dedup)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        line_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    l1 = F.substring(F.col("text"), 1, 60)
    l2 = F.substring(F.col("text"), 61, 1000000)
    nl = F.lit("\n")
    boiler = F.lit("subscribe to our newsletter today")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(l1, nl, boiler, nl, l2),
        )
        .otherwise(F.concat(l1, nl, l2))
        .alias("text"),
    )
    return line_dedup(planted, max_df=3)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-duplication audit (suffix-array-dedup family) over a
    corpus with PLANTED mid-document duplication: doc_id % 7 == 0 docs
    get a shared 12-token quote spliced in after token 10 (cross-doc
    duplicated span INSIDE otherwise-unique documents — the case
    document- and line-level dedup both miss), and doc_id % 13 == 0
    docs get their own first 10 tokens appended at the end (within-doc
    repetition, which min_count counts too). Gates gram counting, the
    >= min_count filter, and the gaps-and-islands interval union: the
    spliced quote makes runs of overlapping k=8 windows that must
    merge into ONE maximal span without double-counting
    (operators/textstats.py::duplicate_spans)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        duplicate_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    quote = F.lit("the quick brown fox jumps over the lazy dog again and again")
    head10 = F.concat_ws(" ", F.slice(toks, 1, 10))
    tail = F.concat_ws(" ", F.slice(toks, 11, F.greatest(n - 10, F.lit(0))))
    planted = docs.select(
        "doc_id",
        F.when((F.col("doc_id") % 7 == 0) & (n >= 11), F.concat_ws(" ", head10, quote, tail))
        .when((F.col("doc_id") % 13 == 0) & (n >= 11), F.concat_ws(" ", F.trim(F.col("text")), head10))
        .otherwise(F.trim(F.col("text")))
        .alias("text"),
    )
    return duplicate_spans(planted, k=8, min_count=2)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling at a real operating point: raw pool
    = the English documents, target domain = the German documents;
    hashed-unigram generative models at 256 buckets, top-50 selection.
    Gates the bucket hashing, Laplace-smoothed integer-bits
    log-ratio, the n_words*const normalizer, and the deterministic
    (weight desc, doc_id asc) cut
    (operators/textstats.py::dsir_select)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        dsir_select,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_select(
        docs.filter(F.col("lang") == "en"),
        docs.filter(F.col("lang") == "de"),
        n_buckets=256,
        k=50,
    )


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) dataset-card rollup: doc/token/char counts,
    mean + exact p50/p95 char-length distribution, and within-slice
    exact-duplicate document counts (planted: every doc_id % 25 == 0
    doc gets a byte-exact twin at id+3_000_000 in the SAME slice, so
    the dup column is nonzero and slice-local counting is gated)
    (operators/textstats.py::dataset_card)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        dataset_card,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    twins = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text", "lang", "source"
    )
    return dataset_card(docs.unionByName(twins))


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export sharding over the documents table at 16
    shards: gates the shard hash, the within-shard order keys, and
    the order-insensitive XOR membership checksum
    (operators/textstats.py::shard_manifest)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        shard_manifest,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_manifest(docs, n_shards=16)


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-BENCHMARK-doc leakage report (inverse of decontamination —
    the view the eval owner reads): the %25 planted benchmark set
    against the whole corpus; every bench doc self-leaks via exact
    duplicates only when a true copy exists, so the gate sees full
    leaks, partial leaks, and clean items
    (operators/textstats.py::contamination_report)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        contamination_report,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    benchmark = docs.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    return contamination_report(docs, benchmark, n=8)


def q_perplexity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-bucketed mixing: per-language surprisal
    terciles (exact integer-bits LM score, deterministic
    row_number bucketing) sampled at (0.9, 0.5, 0.1)
    (operators/textstats.py::perplexity_bucketed_sample)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        perplexity_bucketed_sample,
    )

    return perplexity_bucketed_sample(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring via self-trained unigram LM,
    in exact integer bits (floor-log2 via length(bin(x))-1 — no float
    transcendentals, so the DuckDB oracle replays it bit-for-bit):
    explode -> vocab shuffle -> word-key scoring join -> doc_id rollup
    (operators/textstats.py::unigram_surprisal)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        unigram_surprisal,
    )

    return unigram_surprisal(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 §C-style eval-overlap removal):
    the PLANTED benchmark set is every doc_id % 25 == 0 document, so
    the gate sees self-hits, exact-duplicate hits, and clean docs. The
    benchmark side is tiny -> explicit broadcast; corpus probe is a
    map-side broadcast join on exploded 8-grams, one doc_id shuffle
    for the rollup (operators/textstats.py::decontaminate)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        decontaminate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    benchmark = docs.filter(F.col("doc_id") % 25 == 0).select("text")
    return decontaminate(docs, benchmark, n=8)


def q_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-host rollup over PLANTED urls (the
    fixture table carries none): scheme case, a www. prefix, and
    tracking query strings vary deterministically with doc_id so the
    gate exercises every canonicalization branch. One host shuffle
    with algebraic (map-side partial) aggregates
    (operators/textstats.py::url_host_stats)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        url_host_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scheme = F.when(F.col("doc_id") % 5 == 0, F.lit("HTTPS://")).otherwise(
        F.lit("https://")
    )
    www = F.when(F.col("doc_id") % 7 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    query = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("?utm_source=feed&ref="), F.col("doc_id").cast("string")),
    ).otherwise(F.lit(""))
    pages = docs.select(
        "doc_id",
        F.concat(
            scheme, www, F.col("source"), F.lit(".Example.COM/articles/"),
            F.col("doc_id").cast("string"), query,
        ).alias("url"),
    )
    return url_host_stats(pages)


def _query_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_embedding_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = brute_force_topk(emb, _query_vectors(spark, sf_dir), k=10)
    return out.select(
        "query_id", "vec_id",
        (F.floor(F.col("cosine") * 10000.0 + 0.5) / 10000.0).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN driven at a recall-saturating operating point (16 tables x
    5 bits, 5-bucket multiprobe): the candidate union provably covers
    every true top-10 neighbor at the driver scales, so the exact
    brute-force SQL is a valid oracle for the WHOLE LSH path
    (bucketing, multiprobe, dedup, scoring, ranking). Production dials
    probes/tables down; that recall knob is gated separately in
    tests/test_dedup_similarity.py."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = lsh_topk(emb, _query_vectors(spark, sf_dir), k=10, bits=5, tables=16, multiprobe=5)
    return out.select(
        "query_id", "vec_id",
        (F.floor(F.col("cosine") * 10000.0 + 0.5) / 10000.0).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (r4; the task's second scale path next to LSH) driven
    at the EXHAUSTIVE-probe operating point (nprobe == n_centroids):
    the union of all probed cells is the corpus iff the k-means cell
    assignment PARTITIONS it — a vector dropped or double-assigned by
    the quantizer/routing breaks the brute-force hash, so the oracle
    gates the whole IVF machinery (deterministic sampled k-means
    training, cell assignment, probe routing, candidate scoring,
    ranking). It deliberately does NOT gate partial-probe recall: this
    synthetic corpus is isotropic (uniform random vectors — true
    neighbors spread across cells; measured recall 0.5/0.74 at
    nprobe 4/8 of 16), so no non-degenerate probe count saturates
    recall the way the planted-structure corpora do for LSH. The ANN
    behavior — candidate-set reduction ~ nprobe/n_centroids and the
    monotone recall knob — is gated in
    tests/test_dedup_similarity.py::test_ivf_*."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_topk(
        emb, _query_vectors(spark, sf_dir), k=10, n_centroids=16, nprobe=16
    )
    return out.select(
        "query_id", "vec_id",
        (F.floor(F.col("cosine") * 10000.0 + 0.5) / 10000.0).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings plus planted duplicates, derived identically in the
    DuckDB oracle: every vec_id%20==0 gets an exact copy at +1_000_000;
    every vec_id%10==0 gets a near-copy at +2_000_000 with
    v'[i] = v[i] + 0.15*v[(i mod 64)+1] (cosine ~0.99 regardless of
    the base vector — the perturbation is a small rotated admixture)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    exact = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    idx = F.sequence(F.lit(1), F.lit(64))
    vd = F.col("embedding")
    near_vec = F.transform(
        idx,
        lambda i: F.element_at(vd, i.cast("int"))
        + F.lit(0.15) * F.element_at(vd, ((i % 64) + 1).cast("int")),
    )
    near = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), near_vec.alias("embedding")
    )
    return emb.unionByName(exact).unionByName(near)


_EMB_CORPUS_SQL = """
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 20 = 0
  UNION ALL
  SELECT vec_id + 2000000,
         list_transform(generate_series(1, 64), i -> v[i] + 0.15*v[(i % 64) + 1])
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
  WHERE vec_id % 10 = 0
"""


def q_embedding_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the last dedup modality from
    the task list): LSH bucket blocking -> exact cosine verify; oracle
    = the exact corpus-wide pair set (O(n^2) is fine at oracle scale,
    never run by the engine). Coverage of the true pair set at this
    operating point is deterministic and pytest-asserted, like
    near_duplicates."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    p = embedding_near_duplicates(
        _emb_corpus(spark, sf_dir), threshold=0.9, bits=8, tables=8
    )
    return p.select(
        "vec_a", "vec_b",
        (F.floor(F.col("cosine") * 10000.0 + 0.5) / 10000.0).alias("cosine"),
    )


_EMB_NEAR_DUP_SQL = f"""
WITH corpus AS ({_EMB_CORPUS_SQL}),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_cosine_similarity(a.v, b.v) AS cosine
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, floor(cosine*10000 + 0.5)/10000 AS cosine
FROM pairs WHERE cosine >= 0.9
"""


# ------------------------------------------- hierarchical RCA over events

def hier_events_config() -> EngineConfig:
    return EngineConfig(
        timestamp_field="ts",
        value_field="value",
        dimensions=[
            DimensionSpec("event_type", group="type"),
            DimensionSpec("user_band", group="user"),
            DimensionSpec("user_bucket", group="user", parent="user_band"),
        ],
    )


def q_hierarchical_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    records = df.select(
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
        F.col("event_type"),
        (F.col("user_id") % 5).cast("string").alias("user_band"),
        (F.col("user_id") % 10).cast("string").alias("user_bucket"),
    )
    cfg = hier_events_config()
    totals = sliding_window_totals(records, SIZE_S, SLIDE_S)
    wb = with_offset_baseline(totals, BASELINE_N)
    avg_current = totals.agg(F.avg("current").alias("_avg"))
    alerts = (
        wb.crossJoin(F.broadcast(avg_current))
        .filter(
            (F.col("current") > 2 * F.col("_avg"))
            | (F.col("current") < 0.2 * F.col("_avg"))
        )
        .drop("_avg")
        .withColumn("anomaly_id", _epoch().cast("string"))
    )
    bd = dimension_breakdown(records, cfg, SIZE_S, SLIDE_S)
    bdw = breakdown_with_baseline(bd, wb, BASELINE_N, targets=alerts)
    rca = hierarchical_contributors(
        alerts,
        bdw,
        parent_of={"user_bucket": "user_band"},
        parent_value_exprs={
            "user_bucket": (F.col("dim_value").cast("int") % 5).cast("string")
        },
        summary_size=SUMMARY_SIZE,
    )
    return rca.select(
        _epoch().alias("window_start_epoch"),
        "dimension_group",
        "dim_name",
        "dim_value",
        F.col("dim_level").cast("long").alias("dim_level"),
        _r4("current_value").alias("current_value"),
        _r4("baseline_value").alias("baseline_value"),
        _r4("cost").alias("cost"),
        "value_change_pct",
        "contribution_change_pct",
        "contribution_to_overall_change_pct",
        F.col("rank").cast("long").alias("rank"),
    )


# ------------------- hierarchical RCA with a DATA-DEPENDENT hierarchy

def hier_cooc_events_config() -> EngineConfig:
    return EngineConfig(
        timestamp_field="ts",
        value_field="value",
        dimensions=[
            DimensionSpec("event_type", group="type"),
            DimensionSpec("user_seg", group="user"),
            DimensionSpec("user_bucket", group="user", parent="user_seg"),
        ],
    )


def q_hierarchical_contributors_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical RCA where the parent dimension is an INDEPENDENT
    record field (VERDICT r2 #2) — the reference's actual semantics
    (DimensionHierarchiesBuilder.scala:9-16; in its TPC-DS config
    ca_city's parent ca_county is a separate field,
    application.conf:12-31). Here user_bucket = user_id % 10 has parent
    user_seg = 'vip' if user_id % 97 == 0 else 'std': NOT derivable
    from the bucket value, and varying per (window, bucket) under the
    deterministic max-conflict rule (a bucket is 'vip' in exactly the
    windows where a vip user hit it). Parent values are resolved by the
    per-window co-occurrence join (hierarchy_cooccurrence)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.windows import (
        hierarchy_cooccurrence,
    )

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    records = df.select(
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
        F.col("event_type"),
        F.when(F.col("user_id") % 97 == 0, F.lit("vip"))
        .otherwise(F.lit("std"))
        .alias("user_seg"),
        (F.col("user_id") % 10).cast("string").alias("user_bucket"),
    )
    cfg = hier_cooc_events_config()
    totals = sliding_window_totals(records, SIZE_S, SLIDE_S)
    wb = with_offset_baseline(totals, BASELINE_N)
    avg_current = totals.agg(F.avg("current").alias("_avg"))
    alerts = (
        wb.crossJoin(F.broadcast(avg_current))
        .filter(
            (F.col("current") > 2 * F.col("_avg"))
            | (F.col("current") < 0.2 * F.col("_avg"))
        )
        .drop("_avg")
        .withColumn("anomaly_id", _epoch().cast("string"))
    )
    bd = dimension_breakdown(records, cfg, SIZE_S, SLIDE_S)
    bdw = breakdown_with_baseline(bd, wb, BASELINE_N, targets=alerts)
    pairs = hierarchy_cooccurrence(records, cfg, SIZE_S, SLIDE_S)
    rca = hierarchical_contributors(
        alerts,
        bdw,
        parent_of={"user_bucket": "user_seg"},
        parent_pairs=pairs,
        summary_size=SUMMARY_SIZE,
    )
    return rca.select(
        _epoch().alias("window_start_epoch"),
        "dimension_group",
        "dim_name",
        "dim_value",
        F.col("dim_level").cast("long").alias("dim_level"),
        _r4("current_value").alias("current_value"),
        _r4("baseline_value").alias("baseline_value"),
        _r4("cost").alias("cost"),
        "value_change_pct",
        "contribution_change_pct",
        "contribution_to_overall_change_pct",
        F.col("rank").cast("long").alias("rank"),
    )


# ------------------------------------------------ EWMA z-score detector

def q_zscore_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA z-score detection (north_star: streaming z-score/EWMA in
    the state store) over tumbling window totals, replayed through the
    same StreamingTail code path the streaming job runs. The 6dp
    per-step quantization of mean/var (algorithms/ewma.py) is what
    makes the DuckDB recursive-CTE oracle reproduce the sequence
    bit-for-bit."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    records = _events(spark, sf_dir)
    # 1800s tumbling windows: the oracle replays the EWMA recursion as
    # a recursive CTE whose working-table join is quadratic in window
    # count — the coarser grid keeps the oracle seconds-fast while
    # still exercising hundreds of update steps at sf0.01.
    # The window totals are quantized to 6dp BEFORE entering the
    # recursion (ADVICE r2): a ulp-level Spark-vs-DuckDB summation
    # difference in the raw total could otherwise flip a quantization
    # boundary or the alert decision; the oracle quantizes sum(value)
    # identically.
    aggs = _q6_aggs(long_form_window_aggs(records, events_config(), 1800, None))
    tail = TailConfig(mode="zscore", ewma_alpha=0.1, ewma_z_threshold=2.0)
    out = make_batch_tail(aggs, tail)
    return out.filter(F.col("row_type") == "alert").select(
        "window_start_epoch",
        _r4("current").alias("current"),
        _r4("baseline").alias("ewma_mean"),
        F.col("score").alias("z"),
    )


def _zscore_oracle_sql(alpha: float = 0.1, z_threshold: float = 2.0) -> str:
    """Recursive-CTE twin of EWMAZScore.update over the tumbling
    totals: identical update expressions, identical 6dp floor
    quantization each step, multiplication-form outlier test."""
    a = repr(alpha)
    zz = f"({z_threshold!r} * {z_threshold!r})"
    return f"""
WITH RECURSIVE tot AS (
  -- window totals quantized to 6dp before entering the recursion, the
  -- same discipline as mean/var (engine twin: _q6_aggs)
  SELECT ws, current, row_number() OVER (ORDER BY ws) AS idx FROM (
    SELECT CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS ws,
           floor(sum(value)*1000000 + 0.5)/1000000 AS current
    FROM events GROUP BY 1
  )
),
r AS (
  SELECT idx, ws, current,
         CAST(NULL AS DOUBLE) AS mean_prev, CAST(NULL AS DOUBLE) AS var_prev,
         floor(current*1000000 + 0.5)/1000000 AS mean, CAST(0.0 AS DOUBLE) AS var
  FROM tot WHERE idx = 1
  UNION ALL
  SELECT t.idx, t.ws, t.current, r.mean, r.var,
         floor(({a}*t.current + (1.0 - {a})*r.mean)*1000000 + 0.5)/1000000,
         floor(((1.0 - {a})*(r.var + {a}*(t.current - r.mean)*(t.current - r.mean)))*1000000 + 0.5)/1000000
  FROM tot t JOIN r ON t.idx = r.idx + 1
)
SELECT ws AS window_start_epoch,
       floor(current*10000 + 0.5)/10000 AS current,
       floor(mean_prev*10000 + 0.5)/10000 AS ewma_mean,
       floor((current - mean_prev)/sqrt(var_prev)*10000 + 0.5)/10000 AS z
FROM r
WHERE var_prev > 0
  AND (current - mean_prev)*(current - mean_prev) > {zz}*var_prev
"""


def q_zscore_alerts_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key tails (VERDICT r2 #4): one INDEPENDENT EWMA z-score
    detector per event_type, all running in ONE applyInPandas query —
    the generalization of the reference's keyBy(0) constant key. Each
    key has its own window totals, deque and EWMA state; the groups
    execute in parallel across cores (the first real >1-core use of
    the post-aggregation stage). Oracle: the zscore recursive CTE
    partitioned by key. Parity with N separate single-key runs is
    additionally pytest-gated (tests/test_streaming.py)."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    records = _events(spark, sf_dir)
    aggs = _q6_aggs(
        long_form_window_aggs(records, events_config(), 1800, None, key="event_type")
    )
    tail = TailConfig(mode="zscore", ewma_alpha=0.1, ewma_z_threshold=2.0)
    out = make_batch_tail(aggs, tail, key_col="tail_key")
    return out.filter(F.col("row_type") == "alert").select(
        F.col("tail_key").alias("event_type"),
        "window_start_epoch",
        _r4("current").alias("current"),
        _r4("baseline").alias("ewma_mean"),
        F.col("score").alias("z"),
    )


def _zscore_by_key_oracle_sql(alpha: float = 0.1, z_threshold: float = 2.0) -> str:
    """Keyed twin of _zscore_oracle_sql: the recursion advances every
    key's chain in lockstep (set-based recursive CTE), joined on
    (key, idx)."""
    a = repr(alpha)
    zz = f"({z_threshold!r} * {z_threshold!r})"
    return f"""
WITH RECURSIVE tot AS (
  SELECT k, ws, current, row_number() OVER (PARTITION BY k ORDER BY ws) AS idx FROM (
    SELECT event_type AS k, CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS ws,
           floor(sum(value)*1000000 + 0.5)/1000000 AS current
    FROM events GROUP BY 1, 2
  )
),
r AS (
  SELECT k, idx, ws, current,
         CAST(NULL AS DOUBLE) AS mean_prev, CAST(NULL AS DOUBLE) AS var_prev,
         floor(current*1000000 + 0.5)/1000000 AS mean, CAST(0.0 AS DOUBLE) AS var
  FROM tot WHERE idx = 1
  UNION ALL
  SELECT t.k, t.idx, t.ws, t.current, r.mean, r.var,
         floor(({a}*t.current + (1.0 - {a})*r.mean)*1000000 + 0.5)/1000000,
         floor(((1.0 - {a})*(r.var + {a}*(t.current - r.mean)*(t.current - r.mean)))*1000000 + 0.5)/1000000
  FROM tot t JOIN r ON t.k = r.k AND t.idx = r.idx + 1
)
SELECT k AS event_type, ws AS window_start_epoch,
       floor(current*10000 + 0.5)/10000 AS current,
       floor(mean_prev*10000 + 0.5)/10000 AS ewma_mean,
       floor((current - mean_prev)/sqrt(var_prev)*10000 + 0.5)/10000 AS z
FROM r
WHERE var_prev > 0
  AND (current - mean_prev)*(current - mean_prev) > {zz}*var_prev
"""


# --------------------------------------------- macrobase over event windows

def q_macrobase_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MacroBase chain (EWFeature scorer -> percentile classifier
    -> ExponentiallyDecayingEmergingItemsets) at the COMBINED
    operating point (r6 VERDICT #2) that exercises every summarizer
    code path AT ONCE while staying exactly SQL-replayable, closing
    the registry's last rows-only row:

    - UNDER-CAPACITY RESERVOIR detector (sample_size >= stream,
      detector decay 0): the ADR reservoir is the exact input prefix,
      no RNG draws (AChao.scala:19-35 insert path), so the MAD scorer
      + frozen percentile threshold replay bit-exactly;
    - NONZERO SUMMARIZER DECAY (decay_rate=0.5, period 250): every
      AMC and FP-tree count is an exact dyadic sum — contribution of
      tuple t at emission T is 0.5^(T//250 - t//250), replayed with
      integer shifts (see the decayed block comment);
    - MULTIATTR TRANSACTIONS + PAIR EMISSION (two attributes,
      attribute_combinations=True, dominant-value-per-attr input):
      2-item transactions drive insert_transaction_false_negative,
      FP-growth pair mining, equal-count subset dedup, and the inlier
      getCounts lookup — whose per-path int() truncation
      (StreamingFPTree.scala:98-127 `pathHead.count.toInt`) now BITES
      under fractional decayed counts and is replayed as floor();
    - INTERESTING-ITEM REFRESH ON THE PERIOD (not per tuple): a pair
      is captured at tuple t iff both items' first outlier occurrence
      precedes the last tree rebuild, fot < 250*(t//250) — tuples
      before the first refresh (t < 250) capture no pairs, exactly
      the reference's cold-start behavior.

    The reference's default 20000-sample config keeps the reservoir
    OVER capacity, where admission draws from the JVM's
    java.util.Random stream (AChao.scala:19-35) — unreproducible
    outside the JVM by design (SURVEY.md §7.4.6; proof in
    COVERAGE.md). This combined point covers every non-RNG code path
    of the full chain in one configuration with a value-hash gate."""
    return q_macrobase_summaries_pairs(
        spark,
        sf_dir,
        summary_update_period=_MBS_DECAY_PERIOD - 1,
        decay_rate=0.5,
        round_records=True,
    )

# MacroBase detector at the decay-free operating point (VERDICT r2 #1):
# with sample_size >= stream length and decay_rate 0 the ADR reservoir
# degenerates to the full input prefix (the under-capacity insert path
# never draws from the RNG, reservoir.py:42-43), so the MAD scorer's
# training set at any tuple is an exact prefix of the window-total
# sequence and the percentile threshold an exact sorted-score index.
# The whole detector chain is then a deterministic function of the
# (6dp-quantized) window totals, bit-replayable in DuckDB with list
# aggregates — the same discipline as the zscore recursive-CTE oracle.
_MB_WARMUP = 4          # first train touches >= 2 values (MAD needs n >= 2)
_MB_TRAINING_PERIOD = 1  # retrain every 2nd tuple (period+1 modulus)
_MB_PERCENTILE = 0.9


def q_macrobase_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MacroBase scorer + percentile classifier over 1800s tumbling
    window totals, replayed through the same StreamingTail path as the
    streaming job, at the decay-free operating point above. Emission
    semantics under the gate (all reference quirks kept):

    - scorer (EWFeatureTransform.scala:57-105): trains BEFORE insert in
      steady state, AFTER insert during warm-up, every 2nd tuple; so
      the score of window t uses MAD over totals[1..k(t)] with
      k(t) = max(warmup-1, t-1 if t even else t-2);
    - classifier (EWAppxPercentileAuxiliary.scala:49-100): threshold
      freezes at warm-up end = sorted first-(warmup-1) scores at index
      int(percentile * (warmup-1)); the warm-up flush flags buffered
      records against the CURRENT tuple's score (quirk :91-94), so the
      first `warmup` rows all carry window warmup's epoch and score."""
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    records = _events(spark, sf_dir)
    aggs = _q6_aggs(long_form_window_aggs(records, events_config(), 1800, None))
    tail = TailConfig(
        mode="macrobase",
        rca_mode="simple",
        detector_spec=EWFeatureSpec(
            warmup_count=_MB_WARMUP,
            sample_size=1_000_000,       # >= any window count at bench SFs
            decay_period=1_000_000_000,  # never decays
            decay_rate=0.0,              # and decay would be a no-op anyway
            training_period=_MB_TRAINING_PERIOD,
            percentile=_MB_PERCENTILE,
        ),
    )
    out = make_batch_tail(aggs, tail)
    return out.filter(F.col("row_type") == "alert").select(
        "window_start_epoch",
        _r4("current").alias("current"),
        _r4("baseline").alias("baseline"),
        "records_in_baseline_offset",
        "is_outlier",
        _r4("score").alias("score"),
    )


def _macrobase_alerts_oracle_sql(
    warmup: int = _MB_WARMUP, percentile: float = _MB_PERCENTILE
) -> str:
    """DuckDB bit-replay of q_macrobase_alerts: list aggregates rebuild
    each tuple's MAD training prefix (sort / even-odd median / sorted
    residuals / trimmed-mean fallback, exactly MAD.scala:28-66 = the
    port in algorithms/mad.py), the frozen threshold is a sorted-score
    index, and the warm-up flush quirk is a cross join of the first
    `warmup` records with window `warmup`'s (epoch, score)."""
    w1 = warmup - 1                      # reservoir size at threshold freeze
    thr_idx1 = int(percentile * w1) + 1  # int() truncation, then 1-based
    # MAD median expressions over a sorted list `L` of length nn
    # (0-based n//2-1, n//2 -> 1-based n//2, n//2+1)
    med = (
        "CASE WHEN {n} % 2 = 0 THEN ({L}[{n}//2] + {L}[{n}//2 + 1])/2.0 "
        "ELSE {L}[{n}//2 + 1] END"
    )
    med_v = med.format(L="sl", n="n")
    med_r = med.format(L="res", n="n")
    return f"""
WITH tot AS (
  -- window totals quantized to 6dp before entering the chain (engine
  -- twin: _q6_aggs) so both engines feed identical doubles to the MAD
  SELECT CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS ws,
         floor(sum(value)*1000000 + 0.5)/1000000 AS v
  FROM events GROUP BY 1
),
ti AS (
  SELECT ws, v, row_number() OVER (ORDER BY ws) AS idx,
         avg(v) OVER (ORDER BY ws ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING) AS baseline,
         count(v) OVER (ORDER BY ws ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING) AS rbo
  FROM tot
),
-- k(t): size of the MAD training prefix in effect when window t is
-- scored (steady state trains BEFORE insert on even tuples;
-- everything up to t=warmup is scored by the train-at-flush on the
-- first warmup-1 totals)
k AS (
  SELECT idx AS t,
         greatest({w1}, CASE WHEN idx % 2 = 0 THEN idx - 1 ELSE idx - 2 END) AS kk
  FROM ti
),
train AS (
  SELECT k.t, list(b.v ORDER BY b.idx) AS l
  FROM k JOIN ti b ON b.idx <= k.kk
  GROUP BY k.t
),
srt AS (SELECT t, list_sort(l) AS sl, len(l) AS n FROM train),
meds AS (SELECT t, n, sl, {med_v} AS med FROM srt),
resid AS (
  SELECT t, n, med,
         list_sort(list_transform(sl, x -> abs(x - med))) AS res
  FROM meds
),
mads AS (
  SELECT t, med,
    CASE WHEN ({med_r}) = 0
         THEN list_sum(res[CAST(floor(n*0.05) AS INT) + 1 : CAST(floor(n*0.95) AS INT)])
              / (CAST(floor(n*0.95) AS INT) - CAST(floor(n*0.05) AS INT))
         ELSE ({med_r})
    END AS mad
  FROM resid
),
sc AS (
  SELECT ti.idx AS t, ti.ws, ti.v, ti.baseline, ti.rbo,
         abs(ti.v - m.med)/m.mad AS s
  FROM ti JOIN mads m ON m.t = ti.idx
),
th AS (
  SELECT list_sort(list(s ORDER BY t))[{thr_idx1}] AS thr
  FROM sc WHERE t <= {w1}
),
emit AS (
  -- warm-up flush quirk: the first `warmup` rows are emitted at
  -- window `warmup`, all flagged/scored with ITS score
  SELECT w.ws AS window_start_epoch, r.v AS current, r.baseline, r.rbo,
         f.s AS score
  FROM sc r,
       (SELECT ws FROM sc WHERE t = {warmup}) w,
       (SELECT s FROM sc WHERE t = {warmup}) f
  WHERE r.t <= {warmup}
  UNION ALL
  SELECT ws, v, baseline, rbo, s FROM sc WHERE t > {warmup}
)
SELECT window_start_epoch,
       floor(current*10000 + 0.5)/10000 AS current,
       floor(baseline*10000 + 0.5)/10000 AS baseline,
       CAST(rbo AS INT) AS records_in_baseline_offset,
       (score > th.thr) AS is_outlier,
       floor(score*10000 + 0.5)/10000 AS score
FROM emit, th
"""


def q_macrobase_alerts_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MacroBase detector (VERDICT r4 #2): one INDEPENDENT
    MAD-scorer + percentile-classifier per event_type, all in ONE
    applyInPandas query — the multi-key generalization of the
    reference's single-subtask keyBy(_=>0)
    (EWAppxPercentileOutlierClassifier.scala:42). Same decay-free
    operating point as q_macrobase_alerts (exact-prefix reservoir,
    frozen warm-up threshold, warm-up flush quirk), replayed PER KEY:
    every key carries its own reservoir, training cadence, threshold
    freeze, and flush. Oracle: the macrobase_alerts MAD-replay CTE
    chain partitioned by key (the same keyed lockstep discipline as
    _zscore_by_key_oracle_sql). The heavy MacroBase tail is the one
    whose keyed correctness matters at scale — BENCH/multikey.json
    measures exactly this tail at 8 keys."""
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    records = _events(spark, sf_dir)
    aggs = _q6_aggs(
        long_form_window_aggs(records, events_config(), 1800, None, key="event_type")
    )
    tail = TailConfig(
        mode="macrobase",
        rca_mode="simple",
        detector_spec=EWFeatureSpec(
            warmup_count=_MB_WARMUP,
            sample_size=1_000_000,
            decay_period=1_000_000_000,
            decay_rate=0.0,
            training_period=_MB_TRAINING_PERIOD,
            percentile=_MB_PERCENTILE,
        ),
    )
    out = make_batch_tail(aggs, tail, key_col="tail_key")
    return out.filter(F.col("row_type") == "alert").select(
        F.col("tail_key").alias("event_type"),
        "window_start_epoch",
        _r4("current").alias("current"),
        _r4("baseline").alias("baseline"),
        "records_in_baseline_offset",
        "is_outlier",
        _r4("score").alias("score"),
    )


def _macrobase_alerts_by_key_oracle_sql(
    warmup: int = _MB_WARMUP, percentile: float = _MB_PERCENTILE
) -> str:
    """Keyed twin of _macrobase_alerts_oracle_sql: every CTE carries
    the key, window functions partition by it, and the warm-up flush /
    frozen threshold resolve per key. A key with fewer than `warmup`
    windows emits nothing (its classifier never flushes) — the
    per-key flush join reproduces that by construction."""
    w1 = warmup - 1
    thr_idx1 = int(percentile * w1) + 1
    med = (
        "CASE WHEN {n} % 2 = 0 THEN ({L}[{n}//2] + {L}[{n}//2 + 1])/2.0 "
        "ELSE {L}[{n}//2 + 1] END"
    )
    med_v = med.format(L="sl", n="n")
    med_r = med.format(L="res", n="n")
    return f"""
WITH tot AS (
  SELECT event_type AS kx,
         CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS ws,
         floor(sum(value)*1000000 + 0.5)/1000000 AS v
  FROM events GROUP BY 1, 2
),
ti AS (
  SELECT kx, ws, v,
         row_number() OVER (PARTITION BY kx ORDER BY ws) AS idx,
         avg(v) OVER (PARTITION BY kx ORDER BY ws ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING) AS baseline,
         count(v) OVER (PARTITION BY kx ORDER BY ws ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING) AS rbo
  FROM tot
),
k AS (
  SELECT kx, idx AS t,
         greatest({w1}, CASE WHEN idx % 2 = 0 THEN idx - 1 ELSE idx - 2 END) AS kk
  FROM ti
),
train AS (
  SELECT k.kx, k.t, list(b.v ORDER BY b.idx) AS l
  FROM k JOIN ti b ON b.kx = k.kx AND b.idx <= k.kk
  GROUP BY k.kx, k.t
),
srt AS (SELECT kx, t, list_sort(l) AS sl, len(l) AS n FROM train),
meds AS (SELECT kx, t, n, sl, {med_v} AS med FROM srt),
resid AS (
  SELECT kx, t, n, med,
         list_sort(list_transform(sl, x -> abs(x - med))) AS res
  FROM meds
),
mads AS (
  SELECT kx, t, med,
    CASE WHEN ({med_r}) = 0
         THEN list_sum(res[CAST(floor(n*0.05) AS INT) + 1 : CAST(floor(n*0.95) AS INT)])
              / (CAST(floor(n*0.95) AS INT) - CAST(floor(n*0.05) AS INT))
         ELSE ({med_r})
    END AS mad
  FROM resid
),
sc AS (
  SELECT ti.kx, ti.idx AS t, ti.ws, ti.v, ti.baseline, ti.rbo,
         abs(ti.v - m.med)/m.mad AS s
  FROM ti JOIN mads m ON m.kx = ti.kx AND m.t = ti.idx
),
th AS (
  SELECT kx, list_sort(list(s ORDER BY t))[{thr_idx1}] AS thr
  FROM sc WHERE t <= {w1} GROUP BY kx
),
wf AS (SELECT kx, ws, s FROM sc WHERE t = {warmup}),
emit AS (
  SELECT r.kx, w.ws AS window_start_epoch, r.v AS current, r.baseline,
         r.rbo, w.s AS score
  FROM sc r JOIN wf w ON w.kx = r.kx
  WHERE r.t <= {warmup}
  UNION ALL
  SELECT kx, ws, v, baseline, rbo, s FROM sc WHERE t > {warmup}
)
SELECT e.kx AS event_type,
       e.window_start_epoch,
       floor(e.current*10000 + 0.5)/10000 AS current,
       floor(e.baseline*10000 + 0.5)/10000 AS baseline,
       CAST(e.rbo AS INT) AS records_in_baseline_offset,
       (e.score > th.thr) AS is_outlier,
       floor(e.score*10000 + 0.5)/10000 AS score
FROM emit e JOIN th ON th.kx = e.kx
"""


# MacroBase SUMMARIZER at a decay-free, single-attribute operating
# point (round 4 — closes the last `no_oracle` gap): with ONE
# configured attribute the summarizer's FP-growth machinery is
# provably inert (attribute_dimension == 1 short-circuits both
# _update_models and the pattern-tree inserts/reads,
# ExponentiallyDecayingEmergingItemsets.scala:223/260/330), so
# get_itemsets() == the single-item path only. With decay_rate 0 and
# summary sizes >= the distinct-value count, the AMC heavy-hitter
# sketches degenerate to EXACT presence counters (no eviction, no
# decay), making every emitted row a closed-form function of
# (which event_type values appear in each window) x (the detector's
# per-window outlier flag) — and that flag is the already-hash-gated
# decay-free MacroBase detector of q_macrobase_alerts. The DuckDB
# oracle replays ALL of it: the MAD/percentile detector CTE chain,
# then cumulative presence counts at each emission point and the
# RiskRatio.scala:17-83 corrected-risk-ratio formula verbatim
# (including the 0-unexposed-inlier NaN drop and the +inf -> NULL
# emission). min_support = 0.125 is an exact binary fraction so the
# support boundary is bit-stable across engines.
_MBS_GEN_PERIOD = 24       # emit every 25 tuples (first emission > warmup)
_MBS_MIN_SUPPORT = 0.125   # exact in binary: support cut bit-identical
_MBS_WINDOW_S = 1800
# percentile 0.5 (threshold = median of the first 3 scores, not the
# max) so every SF yields a healthy outlier/inlier mix and the risk
# ratios exercise both count sketches — 0.9 leaves sf0.001 with zero
# outlier windows and an empty (degenerate) gate
_MBS_PERCENTILE = 0.5


def events_config_single() -> EngineConfig:
    """events config restricted to the event_type dimension — makes
    attribute_dimension == 1 for the summarizer gate."""
    return EngineConfig(
        timestamp_field="ts",
        value_field="value",
        dimensions=[DimensionSpec("event_type", group="type")],
    )


def q_macrobase_summaries_single(
    spark: SparkSession,
    sf_dir: str,
    summary_update_period: int = 100,
    decay_rate: float = 0.0,
    round_records: bool = False,
) -> DataFrame:
    """Full MacroBase chain (EWFeature scorer -> percentile classifier
    -> ExponentiallyDecayingEmergingItemsets summarizer) through the
    REAL StreamingTail path, at the operating point where the
    summarizer's single-item emission is exactly SQL-replayable (see
    block comment above). Complements `macrobase_summaries` (full
    FP-growth config, rows-only) with a value-hash gate over the
    itemset counting + risk-ratio + support-threshold machinery.

    With `decay_rate=0.5` and `summary_update_period=249` this becomes
    the DECAYED gate (`macrobase_summaries_decayed`): lazy AMC decay is
    then EXACT dyadic arithmetic (decay_factor is a power of two; see
    the decayed block comment below), so the same oracle replays the
    full decay schedule."""
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.summarizer import (
        SummarizerSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
        build_typed_records,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    cfg = events_config_single()
    records = build_typed_records(
        spark.read.parquet(f"{sf_dir}/events.parquet"), cfg
    )
    aggs = _q6_aggs(long_form_window_aggs(records, cfg, _MBS_WINDOW_S, None))
    tail = TailConfig(
        mode="macrobase",
        rca_mode="macrobase",
        detector_spec=EWFeatureSpec(
            warmup_count=_MB_WARMUP,
            sample_size=1_000_000,
            decay_period=1_000_000_000,
            decay_rate=0.0,
            training_period=_MB_TRAINING_PERIOD,
            percentile=_MBS_PERCENTILE,
        ),
        summarizer_spec=SummarizerSpec(
            summary_update_period=summary_update_period,
            decay_rate=decay_rate,           # 0 -> _mark_period no-op
            outlier_item_summary_size=1000,  # >= distinct event_type values
            inlier_item_summary_size=1000,
            min_oi_ratio=0.0,
            min_support=_MBS_MIN_SUPPORT,
            attributes=["event_type"],
            attribute_combinations=True,     # dimension 1 -> singles only
            summary_generation_period=_MBS_GEN_PERIOD,
        ),
    )
    out = make_batch_tail(aggs, tail)
    num_records = (
        _r4("num_records").alias("num_records")
        if round_records  # decayed counts are fractional dyadics
        else F.col("num_records")
    )
    return out.filter(F.col("row_type") == "rca").select(
        "seq",
        "window_start_epoch",
        "dim_name",
        "dim_value",
        _r4("support").alias("support"),
        num_records,
        _r4("ratio_to_inliers").alias("ratio_to_inliers"),
    )


# MacroBase SUMMARIZER with NONZERO DECAY (round 6 — the last
# `no_oracle` machinery, the lazy-decay schedule itself, hash-gated):
# decay_rate = 0.5 makes every AmortizedMaintenanceCounter operation
# EXACT IEEE-754 arithmetic. `multiply_all_counts(1-d)` does
# decay_factor /= 0.5, so decay_factor is always a power of two
# (amc.py:33-42); `observe` adds count*decay_factor (exact dyadic);
# `get_counts`/`get_total_count` divide by the power-of-two factor
# (exact). The effective count of item i at emission tuple T is
# therefore EXACTLY sum over its observations t<T of
# 0.5^(floor(T/P) - floor(t/P)) with P = summary_update_period + 1 —
# a sum of dyadics with LSB 2^-K, K = floor(T_max/P). As long as
# K + log2(#observations) <= 53 every partial sum is representable,
# so the value is independent of accumulation order and the DuckDB
# oracle reproduces it bit-for-bit with integer-shift weights
# 1.0/(1 << (T//P - t//P)). P = 250 keeps K <= ~24 at the sf0.01
# gate (~5.9k windows, ~13 bits of observations -> ~37 bits total).
# Decay order inside process() (summarizer.py:103-121): the period
# decay at tuple u fires BEFORE u's event is marked and BEFORE an
# emission at u, so obs weight uses floor(t/P) AFTER t's own decay
# and an emission at T includes T's own decay — both captured by the
# floor expressions. The attribute config stays single-dimension, so
# the FP machinery remains provably inert and ONLY the decay
# schedule differs from `macrobase_summaries_single`.
_MBS_DECAY_PERIOD = 250  # summary_update_period = 249


def q_macrobase_summaries_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decayed-summarizer gate: identical chain to
    q_macrobase_summaries_single but with decay_rate=0.5 and a decay
    period of 250 tuples (see block comment above). num_records is
    fractional under decay, so it is 4dp-rounded like the other float
    columns (exact dyadics -> identical floor both engines)."""
    return q_macrobase_summaries_single(
        spark,
        sf_dir,
        summary_update_period=_MBS_DECAY_PERIOD - 1,
        decay_rate=0.5,
        round_records=True,
    )


# ------------------------- isolation-forest-style detector (north_star)
_HS_WINDOW = 32      # reference block size (windows)
_HS_THRESHOLD = 8.0  # previous-block leaf mass <= this -> outlier
_HS_TREES = 8
_HS_DEPTH = 6
_HS_SEED = 5


def q_hstrees_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-Space Trees (isolation-forest family, Tan et al. IJCAI'11)
    over 1800s tumbling window totals, through the REAL StreamingTail
    path (mode='hstrees'). The tree structure is a pure function of
    the seed (algorithms/hstrees.py::hs_tree_intervals — ONE source of
    truth shared with the oracle below), and scoring is previous-
    reference-block leaf mass, so given 6dp-quantized normalized
    totals the whole detector is bit-replayable: the oracle joins the
    same leaf-interval table and recomputes block masses with a
    grouped count. Totals are normalized into [0,1] by the global max
    (the workspace-bounds profile a production stream would configure
    from history; here the batch gate computes it in both engines
    identically)."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    cfg = events_config_single()
    records = build_typed_records_events_single(spark, sf_dir, cfg)
    aggs = _q6_aggs(long_form_window_aggs(records, cfg, _MBS_WINDOW_S, None))
    mx = aggs.filter(F.col("dim_name") == "__total__").agg(
        F.max("dim_sum").alias("_mx")
    )
    normed = (
        aggs.crossJoin(F.broadcast(mx))
        .withColumn(
            "dim_sum",
            F.floor(F.col("dim_sum") / F.col("_mx") * 1000000.0 + 0.5) / 1000000.0,
        )
        .drop("_mx")
    )
    tail = TailConfig(
        mode="hstrees",
        hs_lo=0.0,
        hs_hi=1.0,
        hs_trees=_HS_TREES,
        hs_depth=_HS_DEPTH,
        hs_window=_HS_WINDOW,
        hs_threshold=_HS_THRESHOLD,
        hs_seed=_HS_SEED,
    )
    out = make_batch_tail(normed, tail)
    return out.filter(F.col("row_type") == "alert").select(
        "seq",
        "window_start_epoch",
        _r4("current").alias("current"),
        _r4("score").alias("score"),
        "is_outlier",
    )


def q_hstrees_alerts_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed Half-Space-Trees detector (VERDICT r5 #6): one INDEPENDENT
    HS-trees instance per event_type in ONE applyInPandas query — the
    same keyed-tail plumbing as q_macrobase_alerts_by_key, completing
    the keyed gate set (zscore/MacroBase/HS-trees). Each key carries
    its own normalization bound (per-key max of the __total__ series —
    the per-key workspace profile a production stream would configure),
    its own block counter, and its own previous-block leaf masses; the
    tree structure (seeded, shared literals with the oracle) is
    identical across keys, as a production fleet would deploy it.
    Oracle: the hstrees CTE chain with every window function and block
    index partitioned by key. Keys with fewer than hs_window+1 windows
    emit nothing (their first reference block never completes)."""
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    cfg = events_config_single()
    records = build_typed_records_events_single(spark, sf_dir, cfg)
    aggs = _q6_aggs(
        long_form_window_aggs(records, cfg, _MBS_WINDOW_S, None, key="event_type")
    )
    mx = aggs.filter(F.col("dim_name") == "__total__").groupBy("tail_key").agg(
        F.max("dim_sum").alias("_mx")
    )
    normed = (
        aggs.join(F.broadcast(mx), "tail_key")
        .withColumn(
            "dim_sum",
            F.floor(F.col("dim_sum") / F.col("_mx") * 1000000.0 + 0.5) / 1000000.0,
        )
        .drop("_mx")
    )
    tail = TailConfig(
        mode="hstrees",
        hs_lo=0.0,
        hs_hi=1.0,
        hs_trees=_HS_TREES,
        hs_depth=_HS_DEPTH,
        hs_window=_HS_WINDOW,
        hs_threshold=_HS_THRESHOLD,
        hs_seed=_HS_SEED,
    )
    out = make_batch_tail(normed, tail, key_col="tail_key")
    return out.filter(F.col("row_type") == "alert").select(
        F.col("tail_key").alias("event_type"),
        "seq",
        "window_start_epoch",
        _r4("current").alias("current"),
        _r4("score").alias("score"),
        "is_outlier",
    )


def _hstrees_by_key_oracle_sql(
    window: int = _HS_WINDOW,
    threshold: float = _HS_THRESHOLD,
    n_trees: int = _HS_TREES,
    depth: int = _HS_DEPTH,
    seed: int = _HS_SEED,
) -> str:
    """Keyed twin of _hstrees_oracle_sql: per-key normalization bound,
    per-key window index / block index, per-key previous-block leaf
    masses. Same seeded leaf-interval VALUES table for every key."""
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.hstrees import (
        hs_tree_intervals,
    )

    rows = []
    for t, cuts in enumerate(hs_tree_intervals(n_trees, depth, seed)):
        bounds = [0.0] + cuts + [2.0]
        for leaf, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            rows.append(f"({t}, {lo!r}, {hi!r}, {leaf})")
    values = ",\n    ".join(rows)
    return f"""
WITH tot AS (
  SELECT event_type AS kx,
         CAST(floor(epoch(ts)/{_MBS_WINDOW_S})*{_MBS_WINDOW_S} AS BIGINT) AS ws,
         floor(sum(value)*1000000 + 0.5)/1000000 AS v
  FROM events GROUP BY 1, 2
),
mx AS (SELECT kx, max(v) AS m FROM tot GROUP BY kx),
ti AS (
  SELECT tot.kx, ws, row_number() OVER (PARTITION BY tot.kx ORDER BY ws) AS idx,
         floor(v/m*1000000 + 0.5)/1000000 AS x
  FROM tot JOIN mx ON mx.kx = tot.kx
),
leaves(tree, lo, hi, leaf) AS (
  VALUES
    {values}
),
pt AS (
  SELECT ti.kx, ti.idx, ti.ws, ti.x, l.tree, l.leaf
  FROM ti JOIN leaves l ON ti.x >= l.lo AND ti.x < l.hi
),
bc AS (
  SELECT kx, tree, leaf, (idx - 1) // {window} AS b, count(*) AS c
  FROM pt GROUP BY 1, 2, 3, 4
),
sc AS (
  SELECT p.kx, p.idx, p.ws, p.x,
         CAST(sum(coalesce(bc.c, 0)) AS DOUBLE) AS score
  FROM pt p
  LEFT JOIN bc ON bc.kx = p.kx AND bc.tree = p.tree AND bc.leaf = p.leaf
              AND bc.b = (p.idx - 1) // {window} - 1
  GROUP BY 1, 2, 3, 4
)
SELECT kx AS event_type, idx AS seq, ws AS window_start_epoch,
       floor(x*10000 + 0.5)/10000 AS current,
       floor(score*10000 + 0.5)/10000 AS score,
       score <= {threshold} AS is_outlier
FROM sc
WHERE (idx - 1) // {window} > 0
"""


def build_typed_records_events_single(spark, sf_dir, cfg):
    from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
        build_typed_records,
    )

    return build_typed_records(spark.read.parquet(f"{sf_dir}/events.parquet"), cfg)


def _hstrees_oracle_sql(
    window: int = _HS_WINDOW,
    threshold: float = _HS_THRESHOLD,
    n_trees: int = _HS_TREES,
    depth: int = _HS_DEPTH,
    seed: int = _HS_SEED,
) -> str:
    """DuckDB replay of q_hstrees_alerts: the seeded leaf intervals
    (same hs_tree_intervals call as the engine — identical literals)
    as a VALUES table, block masses as grouped counts, score = summed
    previous-block mass of the point's leaf per tree."""
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.hstrees import (
        hs_tree_intervals,
    )

    rows = []
    for t, cuts in enumerate(hs_tree_intervals(n_trees, depth, seed)):
        bounds = [0.0] + cuts + [2.0]  # last interval hi-open past x<=1
        for leaf, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            rows.append(f"({t}, {lo!r}, {hi!r}, {leaf})")
    values = ",\n    ".join(rows)
    return f"""
WITH tot AS (
  SELECT CAST(floor(epoch(ts)/{_MBS_WINDOW_S})*{_MBS_WINDOW_S} AS BIGINT) AS ws,
         floor(sum(value)*1000000 + 0.5)/1000000 AS v
  FROM events GROUP BY 1
),
mx AS (SELECT max(v) AS m FROM tot),
ti AS (
  SELECT ws, row_number() OVER (ORDER BY ws) AS idx,
         floor(v/m*1000000 + 0.5)/1000000 AS x
  FROM tot, mx
),
leaves(tree, lo, hi, leaf) AS (
  VALUES
    {values}
),
pt AS (
  SELECT ti.idx, ti.ws, ti.x, l.tree, l.leaf
  FROM ti JOIN leaves l ON ti.x >= l.lo AND ti.x < l.hi
),
bc AS (
  SELECT tree, leaf, (idx - 1) // {window} AS b, count(*) AS c
  FROM pt GROUP BY 1, 2, 3
),
sc AS (
  SELECT p.idx, p.ws, p.x,
         CAST(sum(coalesce(bc.c, 0)) AS DOUBLE) AS score
  FROM pt p
  LEFT JOIN bc ON bc.tree = p.tree AND bc.leaf = p.leaf
              AND bc.b = (p.idx - 1) // {window} - 1
  GROUP BY 1, 2, 3
)
SELECT idx AS seq, ws AS window_start_epoch,
       floor(x*10000 + 0.5)/10000 AS current,
       floor(score*10000 + 0.5)/10000 AS score,
       score <= {threshold} AS is_outlier
FROM sc
WHERE (idx - 1) // {window} > 0
"""


def q_macrobase_summaries_multiattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second summarizer gate (r4): TWO attributes with
    attribute_combinations=False. Every event now marks ALL its
    present dimension values in the AMC sketches (observe_all over
    event_type + user_bucket), the FP-trees RECEIVE transactions
    (insert_transaction_false_negative runs — the not-combinations
    branch, :260/:267) but get_itemsets() still short-circuits to the
    single-item path (:330), so the output stays a closed-form
    function of per-window attribute presence x the detector flag —
    same replay as the single-attribute gate with a two-dimension
    observation set and a 1/32 support cut (exact binary; with ~15
    values/window no dim can reach the single-attr 1/8 cut).
    Together the two gates cover both branches of the summarizer's
    combinations_enabled/attribute_dimension routing."""
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.summarizer import (
        SummarizerSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    records = _events(spark, sf_dir)
    aggs = _q6_aggs(
        long_form_window_aggs(records, events_config(), _MBS_WINDOW_S, None)
    )
    tail = TailConfig(
        mode="macrobase",
        rca_mode="macrobase",
        detector_spec=EWFeatureSpec(
            warmup_count=_MB_WARMUP,
            sample_size=1_000_000,
            decay_period=1_000_000_000,
            decay_rate=0.0,
            training_period=_MB_TRAINING_PERIOD,
            percentile=_MBS_PERCENTILE,
        ),
        summarizer_spec=SummarizerSpec(
            summary_update_period=100,
            decay_rate=0.0,
            outlier_item_summary_size=1000,
            inlier_item_summary_size=1000,
            min_oi_ratio=0.0,
            min_support=1 / 32,
            attributes=["event_type", "user_bucket"],
            attribute_combinations=False,
            summary_generation_period=_MBS_GEN_PERIOD,
        ),
    )
    out = make_batch_tail(aggs, tail)
    return out.filter(F.col("row_type") == "rca").select(
        "seq",
        "window_start_epoch",
        "dim_name",
        "dim_value",
        _r4("support").alias("support"),
        "num_records",
        _r4("ratio_to_inliers").alias("ratio_to_inliers"),
    )


def q_macrobase_summaries_pairs(
    spark: SparkSession,
    sf_dir: str,
    summary_update_period: int = 0,
    decay_rate: float = 0.0,
    round_records: bool = False,
) -> DataFrame:
    """Third summarizer gate (r5): the FP-growth PAIR-EMISSION branch —
    the last previously-ungated code path of
    ExponentiallyDecayingEmergingItemsets.scala:330-383 (multi-item
    itemset mining, equal-count subset dedup, inlier getCounts lookup,
    risk-ratio >= filter). Operating point that makes the FP-trees
    exactly SQL-replayable:

    - each window's breakdown is restricted to the DOMINANT value per
      attribute (row_number over quantized dim_sum desc, dim_value asc)
      so every summarizer transaction has exactly 2 items and mined
      itemsets have size <= 2 (no triples; the single-path x branching
      cross-product in mine_itemsets can't fire at depth 2);
    - the second attribute is user_parity (user_id % 2, TWO values) so
      the two attributes' item counts are STRATIFIED (~N/2 per parity
      vs ~N/5 per event type): a stored pair path's two items then
      never swap frequent-item order, which is the precondition for
      the tree's pair supports to equal plain pair counts. (With the
      10-value user_bucket, bucket/type count crossings leave stale
      paths that getSupport's up-walk misses — the reference design's
      own false-negative mechanism, StreamingFPTree.scala:98-127 —
      and the counts drift below the closed form.) Verified
      empirically at sf0.001/0.01: zero count diffs over 799 pair
      emissions; tie-order determinism guaranteed by rows_to_windows'
      (dim_name, dim_value) within-window sort;
    - summary_update_period=0: interesting-items rebuilt from the
      outlier AMC at EVERY tuple, so an item is in both FP-trees' maps
      at tuple t iff it occurred in some outlier tuple < t. Under
      insert_transaction_false_negative (filter_existing=True,
      StreamingFPTree.scala:272-301) a pair {a,b} is therefore counted
      in tuple t's tree iff t > first_outlier(a) and t >
      first_outlier(b) — a plain window-function predicate;
    - decay 0 + AMC sizes >= distinct items: all counts exact
      integers, int() truncation in getSupport lossless;
    - min_support=0: the interesting filter, the mining threshold
      int(root.count * s), and the single-item support cut all
      degenerate to 0, leaving the pair counting + risk-ratio + dedup
      machinery as the only behavior under test.

    Output is the long-form rca row per dimension summary (n_dims=2
    rows are the pair branch; n_dims=1 rows the single-item branch,
    re-gated here at min_support 0)."""
    from pyspark.sql import Window as W

    from online_anomaly_detection_root_cause_analysis_spark.algorithms.ewfeature import (
        EWFeatureSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.algorithms.summarizer import (
        SummarizerSpec,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.job import (
        long_form_window_aggs,
    )
    from online_anomaly_detection_root_cause_analysis_spark.streaming.state import (
        TailConfig,
        make_batch_tail,
    )

    from online_anomaly_detection_root_cause_analysis_spark.sources.records import (
        build_typed_records,
    )

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    derived = df.withColumn(
        "user_parity", (F.col("user_id") % 2).cast("string")
    )
    cfg = EngineConfig(
        timestamp_field="ts",
        value_field="value",
        dimensions=[
            DimensionSpec("event_type", group="type"),
            DimensionSpec("user_parity", group="user"),
        ],
    )
    records = build_typed_records(derived, cfg)
    aggs = _q6_aggs(long_form_window_aggs(records, cfg, _MBS_WINDOW_S, None))
    w = W.partitionBy("window_start_epoch", "dim_name").orderBy(
        F.desc("dim_sum"), F.asc("dim_value")
    )
    dominant_dims = (
        aggs.filter(F.col("dim_name") != "__total__")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    dominant = aggs.filter(F.col("dim_name") == "__total__").unionByName(
        dominant_dims
    )
    tail = TailConfig(
        mode="macrobase",
        rca_mode="macrobase",
        detector_spec=EWFeatureSpec(
            warmup_count=_MB_WARMUP,
            sample_size=1_000_000,
            decay_period=1_000_000_000,
            decay_rate=0.0,
            training_period=_MB_TRAINING_PERIOD,
            percentile=_MBS_PERCENTILE,
        ),
        summarizer_spec=SummarizerSpec(
            summary_update_period=summary_update_period,  # 0 -> per-tuple
            decay_rate=decay_rate,
            outlier_item_summary_size=1000,  # >= distinct (attr, value) items
            inlier_item_summary_size=1000,
            min_oi_ratio=0.0,
            min_support=0.0,
            attributes=["event_type", "user_parity"],
            attribute_combinations=True,     # dimension 2 -> pair mining LIVE
            summary_generation_period=_MBS_GEN_PERIOD,
        ),
    )
    out = make_batch_tail(dominant, tail)
    num_records = (
        _r4("num_records").alias("num_records")
        if round_records  # decayed counts are fractional dyadics
        else F.col("num_records")
    )
    return out.filter(F.col("row_type") == "rca").select(
        "seq",
        "window_start_epoch",
        "dim_name",
        "dim_value",
        _r4("support").alias("support"),
        num_records,
        _r4("ratio_to_inliers").alias("ratio_to_inliers"),
        F.col("n_dims").cast("long").alias("n_dims"),
    )


def _macrobase_summaries_single_oracle_sql(
    warmup: int = _MB_WARMUP,
    percentile: float = _MBS_PERCENTILE,
    gen_period: int = _MBS_GEN_PERIOD,
    min_support: float = _MBS_MIN_SUPPORT,
    multi_attr: bool = False,
    decay_period: int | None = None,
) -> str:
    """DuckDB replay of q_macrobase_summaries_single. Layers on top of
    the macrobase_alerts detector chain (same tot/ti/k/train/.../sc/th
    CTEs): per-window outlier flags (warm-up flush quirk: t <= warmup
    all flagged by window `warmup`'s score), then for each emission
    tuple T (T % (gen_period+1) == 0, snapshot BEFORE marking T, so
    counts cover windows 1..T-1) the exact AMC presence counts and the
    corrected risk ratio of RiskRatio.scala:17-83 — edge order kept:
    te==0/oc==0/tme==0 -> 0, uo==0 -> +inf (emitted, NULL ratio
    column), ui==0 -> NaN correction (row fails `> min_ratio`,
    dropped; modeled as NULL here, same surviving set).

    With `decay_period` set (= summary_update_period + 1, decay_rate
    0.5) each observation's contribution to an emission at tuple T is
    the EXACT dyadic 0.5^(T//P - t//P), built via integer shift so no
    libm pow is involved (see the decayed block comment above
    q_macrobase_summaries_decayed)."""
    w1 = warmup - 1
    thr_idx1 = int(percentile * w1) + 1
    period = gen_period + 1
    if decay_period is None:
        wexpr = "1.0"
        num_records_expr = "oc"
    else:
        wexpr = (
            "1.0 / CAST(1::BIGINT << "
            f"(em.T // {decay_period} - o.t // {decay_period}) AS DOUBLE)"
        )
        num_records_expr = "floor(oc*10000 + 0.5)/10000"
    med = (
        "CASE WHEN {n} % 2 = 0 THEN ({L}[{n}//2] + {L}[{n}//2 + 1])/2.0 "
        "ELSE {L}[{n}//2 + 1] END"
    )
    med_v = med.format(L="sl", n="n")
    med_r = med.format(L="res", n="n")
    one = (
        "SELECT DISTINCT CAST(floor(epoch(ts)/{w})*{w} AS BIGINT) AS ws, "
        "'{{d}}' AS dname, {{expr}} AS val FROM events"
    ).format(w=_MBS_WINDOW_S)
    obs_inner = one.format(d="event_type", expr="event_type")
    if multi_attr:
        obs_inner += " UNION " + one.format(
            d="user_bucket", expr="CAST(user_id % 10 AS VARCHAR)"
        )
    return f"""
WITH tot AS (
  SELECT CAST(floor(epoch(ts)/{_MBS_WINDOW_S})*{_MBS_WINDOW_S} AS BIGINT) AS ws,
         floor(sum(value)*1000000 + 0.5)/1000000 AS v
  FROM events GROUP BY 1
),
ti AS (
  SELECT ws, v, row_number() OVER (ORDER BY ws) AS idx FROM tot
),
k AS (
  SELECT idx AS t,
         greatest({w1}, CASE WHEN idx % 2 = 0 THEN idx - 1 ELSE idx - 2 END) AS kk
  FROM ti
),
train AS (
  SELECT k.t, list(b.v ORDER BY b.idx) AS l
  FROM k JOIN ti b ON b.idx <= k.kk
  GROUP BY k.t
),
srt AS (SELECT t, list_sort(l) AS sl, len(l) AS n FROM train),
meds AS (SELECT t, n, sl, {med_v} AS med FROM srt),
resid AS (
  SELECT t, n, med,
         list_sort(list_transform(sl, x -> abs(x - med))) AS res
  FROM meds
),
mads AS (
  SELECT t, med,
    CASE WHEN ({med_r}) = 0
         THEN list_sum(res[CAST(floor(n*0.05) AS INT) + 1 : CAST(floor(n*0.95) AS INT)])
              / (CAST(floor(n*0.95) AS INT) - CAST(floor(n*0.05) AS INT))
         ELSE ({med_r})
    END AS mad
  FROM resid
),
sc AS (
  SELECT ti.idx AS t, ti.ws, abs(ti.v - m.med)/m.mad AS s
  FROM ti JOIN mads m ON m.t = ti.idx
),
th AS (
  SELECT list_sort(list(s ORDER BY t))[{thr_idx1}] AS thr
  FROM sc WHERE t <= {w1}
),
flags AS (
  -- warm-up flush: windows 1..warmup are all classified against
  -- window `warmup`'s score; steady state against their own
  SELECT sc.t,
         CASE WHEN sc.t <= {warmup}
              THEN (SELECT s FROM sc WHERE t = {warmup}) > th.thr
              ELSE sc.s > th.thr END AS flag
  FROM sc, th
),
obs AS (
  -- one AMC observation per (window, attribute value present)
  SELECT ti.idx AS t, e.dname, e.val
  FROM ({obs_inner}) e
  JOIN ti ON ti.ws = e.ws
),
emits AS (SELECT idx AS T, ws FROM ti WHERE idx % {period} = 0),
cnt AS (
  SELECT em.T, em.ws, o.dname, o.val,
         CAST(sum(CASE WHEN f.flag THEN {wexpr} ELSE 0 END) AS DOUBLE) AS oc,
         CAST(sum(CASE WHEN f.flag THEN 0 ELSE {wexpr} END) AS DOUBLE) AS ic
  FROM emits em
  JOIN obs o ON o.t < em.T
  JOIN flags f ON f.t = o.t
  GROUP BY em.T, em.ws, o.dname, o.val
),
tots AS (SELECT T, sum(oc) AS tout, sum(ic) AS tin FROM cnt GROUP BY T),
rr AS (
  SELECT c.T, c.ws, c.dname, c.val, c.oc, c.ic, t.tout, t.tin,
         c.ic + c.oc AS te,
         t.tin + t.tout - (c.ic + c.oc) AS tme,
         t.tout - c.oc AS uo,
         t.tin - c.ic AS ui
  FROM cnt c JOIN tots t ON t.T = c.T
  WHERE c.oc >= t.tout * {min_support}
),
scored AS (
  SELECT T, ws, dname, val, oc, tout,
    CASE
      WHEN te = 0 OR oc = 0 OR tme = 0 THEN 0.0
      WHEN uo = 0 THEN CAST('inf' AS DOUBLE)
      ELSE (oc/te)/(uo/tme)
           - 2.0*sqrt((ic/oc)/te + (CASE WHEN ui = 0 THEN NULL ELSE 1.0 END)/tme)
    END AS cr
  FROM rr
)
SELECT T AS seq, ws AS window_start_epoch,
       dname AS dim_name, val AS dim_value,
       floor(oc/tout*10000 + 0.5)/10000 AS support,
       {num_records_expr} AS num_records,
       CASE WHEN isinf(cr) THEN NULL
            ELSE floor(cr*10000 + 0.5)/10000 END AS ratio_to_inliers
FROM scored
WHERE cr > 0.0
"""


def _macrobase_summaries_pairs_oracle_sql(
    warmup: int = _MB_WARMUP,
    percentile: float = _MBS_PERCENTILE,
    gen_period: int = _MBS_GEN_PERIOD,
    decay_period: int | None = None,
) -> str:
    """DuckDB replay of q_macrobase_summaries_pairs. Same detector
    prelude as the other MacroBase gates; then

    - doms: dominant (argmax by 6dp-quantized sum, dim_value asc
      tie-break) value per (window, attribute) — the engine-side
      row_number filter, replayed;
    - fo: each item's first outlier tuple. Under per-tuple interesting
      refresh a pair {a,b} in tuple t enters a tree iff both items'
      first outlier occurrence is < t (see the query docstring);
    - pcnt: outlier/inlier pair counts at each emission T over captured
      tuples < T, pairs present in the outlier tree only (oc >= 1 —
      mined itemsets come from the OUTLIER tree);
    - prr/pscored: RiskRatio.scala:17-83 corrected formula verbatim
      with the AMC totals (tout/tin are item-mark totals = 2x events);
      pairs use ratio >= min_ratio (the `>=` at :234 of summarizer.py /
      :365 of the reference), singles keep the strict `>`;
    - the pair row is exploded to its two (dim_name, dim_value)
      members, n_dims=2, same (support, num_records, ratio) on both.

    With `decay_period` P set (decay_rate 0.5 — the COMBINED
    macrobase_summaries gate) three things change, each mirroring the
    engine exactly:
    - every capture weight becomes the exact dyadic 0.5^(T//P - t//P)
      built with integer shifts (no libm pow), in the single-item AMC
      sums, the pair-tree sums, and the totals;
    - the interesting-items map is rebuilt only at refresh tuples
      (u % P == 0, before u marks), so pair capture at tuple t
      requires fot < P*(t//P) instead of fot < t — and NO pairs are
      captured before the first refresh (t < P), the reference's
      cold-start behavior;
    - the INLIER pair count is floor()-truncated: the engine reads it
      via StreamingFPTree.get_support, whose per-path
      `pathHead.count.toInt` (Scala :98-127) truncates the now-
      fractional decayed path count; with 2-item stratified
      transactions each pair is exactly one tree path, so the
      truncation is floor of the dyadic sum. Outlier pair counts come
      from mine_itemsets' node counts — NOT truncated.
    Exactness bound (same as the decayed gate): T_max//P + log2(#obs)
    <= 53 keeps every partial sum representable and order-free —
    holds at the sf0.001/0.01 gate scales; at sf0.1+ the engine still
    runs, but the cross-engine bit-match claim is scoped to the gate
    scales (documented in the decayed block comment)."""
    w1 = warmup - 1
    thr_idx1 = int(percentile * w1) + 1
    period = gen_period + 1
    if decay_period is None:
        w_cnt = "1"          # weight of one capture in the AMC sums
        w_pair = "1"         # weight of one capture in the tree sums
        fo1 = "f1.fot < pw.t"
        fo2 = "f2.fot < pw.t"
        ic_pair = "p.ic"
        num_records_expr = "oc"
    else:
        shift_cnt = f"(em.T // {decay_period} - o.t // {decay_period})"
        shift_pair = f"(em.T // {decay_period} - c.t // {decay_period})"
        w_cnt = f"1.0 / CAST(1::BIGINT << {shift_cnt} AS DOUBLE)"
        w_pair = f"1.0 / CAST(1::BIGINT << {shift_pair} AS DOUBLE)"
        fo1 = f"f1.fot < {decay_period} * (pw.t // {decay_period})"
        fo2 = f"f2.fot < {decay_period} * (pw.t // {decay_period})"
        ic_pair = "floor(p.ic)"
        num_records_expr = "floor(oc*10000 + 0.5)/10000"
    med = (
        "CASE WHEN {n} % 2 = 0 THEN ({L}[{n}//2] + {L}[{n}//2 + 1])/2.0 "
        "ELSE {L}[{n}//2 + 1] END"
    )
    med_v = med.format(L="sl", n="n")
    med_r = med.format(L="res", n="n")
    dsum_one = (
        "SELECT CAST(floor(epoch(ts)/{w})*{w} AS BIGINT) AS ws, "
        "'{{d}}' AS dname, {{expr}} AS val, "
        "floor(sum(value)*1000000 + 0.5)/1000000 AS s "
        "FROM events GROUP BY 1, 3"
    ).format(w=_MBS_WINDOW_S)
    dsums = (
        dsum_one.format(d="event_type", expr="event_type")
        + " UNION ALL "
        + dsum_one.format(d="user_parity", expr="CAST(user_id % 2 AS VARCHAR)")
    )
    rr_case = """CASE
      WHEN te = 0 OR oc = 0 OR tme = 0 THEN 0.0
      WHEN uo = 0 THEN CAST('inf' AS DOUBLE)
      ELSE (oc/te)/(uo/tme)
           - 2.0*sqrt((ic/oc)/te + (CASE WHEN ui = 0 THEN NULL ELSE 1.0 END)/tme)
    END AS cr"""
    return f"""
WITH tot AS (
  SELECT CAST(floor(epoch(ts)/{_MBS_WINDOW_S})*{_MBS_WINDOW_S} AS BIGINT) AS ws,
         floor(sum(value)*1000000 + 0.5)/1000000 AS v
  FROM events GROUP BY 1
),
ti AS (
  SELECT ws, v, row_number() OVER (ORDER BY ws) AS idx FROM tot
),
k AS (
  SELECT idx AS t,
         greatest({w1}, CASE WHEN idx % 2 = 0 THEN idx - 1 ELSE idx - 2 END) AS kk
  FROM ti
),
train AS (
  SELECT k.t, list(b.v ORDER BY b.idx) AS l
  FROM k JOIN ti b ON b.idx <= k.kk
  GROUP BY k.t
),
srt AS (SELECT t, list_sort(l) AS sl, len(l) AS n FROM train),
meds AS (SELECT t, n, sl, {med_v} AS med FROM srt),
resid AS (
  SELECT t, n, med,
         list_sort(list_transform(sl, x -> abs(x - med))) AS res
  FROM meds
),
mads AS (
  SELECT t, med,
    CASE WHEN ({med_r}) = 0
         THEN list_sum(res[CAST(floor(n*0.05) AS INT) + 1 : CAST(floor(n*0.95) AS INT)])
              / (CAST(floor(n*0.95) AS INT) - CAST(floor(n*0.05) AS INT))
         ELSE ({med_r})
    END AS mad
  FROM resid
),
sc AS (
  SELECT ti.idx AS t, ti.ws, abs(ti.v - m.med)/m.mad AS s
  FROM ti JOIN mads m ON m.t = ti.idx
),
th AS (
  SELECT list_sort(list(s ORDER BY t))[{thr_idx1}] AS thr
  FROM sc WHERE t <= {w1}
),
flags AS (
  SELECT sc.t,
         CASE WHEN sc.t <= {warmup}
              THEN (SELECT s FROM sc WHERE t = {warmup}) > th.thr
              ELSE sc.s > th.thr END AS flag
  FROM sc, th
),
doms AS (
  SELECT ws, dname, val FROM (
    SELECT ws, dname, val,
           row_number() OVER (PARTITION BY ws, dname ORDER BY s DESC, val) AS rn
    FROM ({dsums})
  ) WHERE rn = 1
),
obs AS (
  SELECT ti.idx AS t, d.dname, d.val
  FROM doms d JOIN ti ON ti.ws = d.ws
),
emits AS (SELECT idx AS T, ws FROM ti WHERE idx % {period} = 0),
cnt AS (
  SELECT em.T, em.ws, o.dname, o.val,
         CAST(sum(CASE WHEN f.flag THEN {w_cnt} ELSE 0 END) AS DOUBLE) AS oc,
         CAST(sum(CASE WHEN f.flag THEN 0 ELSE {w_cnt} END) AS DOUBLE) AS ic
  FROM emits em
  JOIN obs o ON o.t < em.T
  JOIN flags f ON f.t = o.t
  GROUP BY em.T, em.ws, o.dname, o.val
),
tots AS (SELECT T, sum(oc) AS tout, sum(ic) AS tin FROM cnt GROUP BY T),
rr AS (
  SELECT c.T, c.ws, c.dname, c.val, c.oc, c.ic, t.tout, t.tin,
         c.ic + c.oc AS te,
         t.tin + t.tout - (c.ic + c.oc) AS tme,
         t.tout - c.oc AS uo,
         t.tin - c.ic AS ui
  FROM cnt c JOIN tots t ON t.T = c.T
),
scored AS (
  SELECT T, ws, dname, val, oc, tout, {rr_case}
  FROM rr
),
fo AS (
  SELECT o.dname, o.val, min(o.t) AS fot
  FROM obs o JOIN flags f ON f.t = o.t AND f.flag
  GROUP BY 1, 2
),
pw AS (
  SELECT t,
         max(CASE WHEN dname = 'event_type' THEN val END) AS v1,
         max(CASE WHEN dname = 'user_parity' THEN val END) AS v2
  FROM obs GROUP BY t
),
cap AS (
  SELECT pw.t, pw.v1, pw.v2, f.flag
  FROM pw
  JOIN flags f ON f.t = pw.t
  JOIN fo f1 ON f1.dname = 'event_type' AND f1.val = pw.v1 AND {fo1}
  JOIN fo f2 ON f2.dname = 'user_parity' AND f2.val = pw.v2 AND {fo2}
),
pcnt AS (
  SELECT em.T, em.ws, c.v1, c.v2,
         CAST(sum(CASE WHEN c.flag THEN {w_pair} ELSE 0 END) AS DOUBLE) AS oc,
         CAST(sum(CASE WHEN c.flag THEN 0 ELSE {w_pair} END) AS DOUBLE) AS ic
  FROM emits em JOIN cap c ON c.t < em.T
  GROUP BY 1, 2, 3, 4
  HAVING sum(CASE WHEN c.flag THEN {w_pair} ELSE 0 END) > 0
),
prr AS (
  SELECT p.T, p.ws, p.v1, p.v2, p.oc, {ic_pair} AS ic, t.tout, t.tin,
         {ic_pair} + p.oc AS te,
         t.tin + t.tout - ({ic_pair} + p.oc) AS tme,
         t.tout - p.oc AS uo,
         t.tin - {ic_pair} AS ui
  FROM pcnt p JOIN tots t ON t.T = p.T
),
pscored AS (
  SELECT T, ws, v1, v2, oc, tout, {rr_case}
  FROM prr
),
pout AS (
  SELECT T, ws, 'event_type' AS dname, v1 AS val, oc, tout, cr
  FROM pscored WHERE cr >= 0.0
  UNION ALL
  SELECT T, ws, 'user_parity' AS dname, v2 AS val, oc, tout, cr
  FROM pscored WHERE cr >= 0.0
)
SELECT T AS seq, ws AS window_start_epoch,
       dname AS dim_name, val AS dim_value,
       floor(oc/tout*10000 + 0.5)/10000 AS support,
       {num_records_expr} AS num_records,
       CASE WHEN isinf(cr) THEN NULL
            ELSE floor(cr*10000 + 0.5)/10000 END AS ratio_to_inliers,
       CAST(2 AS BIGINT) AS n_dims
FROM pout
UNION ALL
SELECT T AS seq, ws AS window_start_epoch,
       dname AS dim_name, val AS dim_value,
       floor(oc/tout*10000 + 0.5)/10000 AS support,
       {num_records_expr} AS num_records,
       CASE WHEN isinf(cr) THEN NULL
            ELSE floor(cr*10000 + 0.5)/10000 END AS ratio_to_inliers,
       CAST(1 AS BIGINT) AS n_dims
FROM scored
WHERE cr > 0.0
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_simple_contributors(spark, "/root/testdata/sf0.001")


# caches created by query builders (currently: curation_pipeline's
# decontaminated-corpus boundary); harnesses call cleanup() between
# queries so no cache entry outlives its query (r6 ADVICE)
_LIVE_CACHES: list = []


def cleanup() -> None:
    """Unpersist every cache a query builder registered. Called by
    bench.py and scripts/correctness_sweep.py after each query's
    action completes; safe to call when nothing is registered."""
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER is load-bearing: the driver's CORRECTNESS
    artifact row-caps at 50 and takes the FIRST 50 entries, so the
    order is a rotation schedule (r6 VERDICT #1), now MECHANICALLY
    checked (r7 VERDICT #5): scripts/rotation_check.py fingerprints
    every query's transitive implementation closure at HEAD and at
    the round commit of its last driver-green row, and
    tests/test_rotation.py asserts that no changed-or-never-checked
    query sits past position 50. Front: changed/new queries, then
    the stalest-green rotation block (last green r6), then the
    r7-green remainder; scripts/correctness_sweep.py still covers
    ALL entries every round (BENCH/correctness_sweep_r{N}.json)."""
    return {
        # -- changed since last driver-green row (r9 optimization round:
        # verify/candidate rebuild, simhash vote aggregation, gram
        # pre-split — all oracle-green in BENCH/correctness_sweep_r9.json)
        "near_duplicates": q_near_duplicates,
        "near_dup_clusters": q_near_dup_clusters,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "decontamination": q_decontamination,
        "contamination_report": q_contamination_report,
        # -- changed r9 second pass (pane-based window aggregation):
        # rotated in; value_percentiles
        # (r8-green, unchanged) rotated out to make room
        "dimension_breakdown": q_dimension_breakdown,
        "dimension_breakdown_salted": q_dimension_breakdown_salted,
        "summary_report": q_summary_report,
        # -- changed r8 (still within the window where possible)
        "incremental_near_dups": q_incremental_near_dups,
        "simple_contributors": q_simple_contributors,
        "hierarchical_contributors": q_hierarchical_contributors,
        "hierarchical_contributors_cooc": q_hierarchical_contributors_cooc,
        # -- stalest green rows (r6): rotated into the r8 window
        "macrobase_alerts": q_macrobase_alerts,
        "macrobase_alerts_by_key": q_macrobase_alerts_by_key,
        "zscore_alerts": q_zscore_alerts,
        "zscore_alerts_by_key": q_zscore_alerts_by_key,
        "session_windows": q_session_windows,
        "threshold_alerts": q_threshold_alerts,
        "window_sum_simple": q_window_sum_simple,
        "offset_baseline": q_offset_baseline,
        "offset_baseline_old": q_offset_baseline_old,
        "sliding_window_sum": q_sliding_window_sum,
        "tumbling_window_sum": q_tumbling_window_sum,
        # -- r7-green remainder (window tail first, then the rest)
        "curation_pipeline": q_curation_pipeline,
        "pii_redaction": q_pii_redaction,
        "macrobase_summaries": q_macrobase_summaries,
        "bpe_merges": q_bpe_merges,
        "bpe_tokenize": q_bpe_tokenize,
        "linear_quality": q_linear_quality,
        "bigram_surprisal": q_bigram_surprisal,
        "length_histogram": q_length_histogram,
        "blocklist_filter": q_blocklist_filter,
        "language_id": q_language_id,
        "fingerprints": q_fingerprints,
        "embedding_topk_brute": q_embedding_topk_brute,
        "embedding_topk_lsh": q_embedding_topk_lsh,
        "embedding_topk_ivf": q_embedding_topk_ivf,
        "embedding_near_duplicates": q_embedding_near_duplicates,
        "macrobase_summaries_decayed": q_macrobase_summaries_decayed,
        "macrobase_summaries_single": q_macrobase_summaries_single,
        "macrobase_summaries_multiattr": q_macrobase_summaries_multiattr,
        "macrobase_summaries_pairs": q_macrobase_summaries_pairs,
        "hstrees_alerts": q_hstrees_alerts,
        "hstrees_alerts_by_key": q_hstrees_alerts_by_key,
        "near_dup_clusters_star": q_near_dup_clusters_star,
        "duplicate_spans": q_duplicate_spans,
        "dsir_select": q_dsir_select,
        # ngram_jaccard rotated INTO the window (r9: doc_shingles gained
        # the shared explicit token repartition, so its fingerprint
        # changed); dataset_card (green, unchanged) rotated out
        "ngram_jaccard": q_ngram_jaccard,
        "dataset_card": q_dataset_card,
        "shard_manifest": q_shard_manifest,
        "text_stats": q_text_stats,
        "repetition_ratios": q_repetition_ratios,
        "quality_filter": q_quality_filter,
        "vocabulary": q_vocabulary,
        "stratified_sample": q_stratified_sample,
        "url_host_stats": q_url_host_stats,
        "unigram_surprisal": q_unigram_surprisal,
        "perplexity_sample": q_perplexity_sample,
        "line_dedup": q_line_dedup,
        "top_words_per_lang": q_top_words_per_lang,
        "exact_duplicates": q_exact_duplicates,
        # -- r8-green, unchanged in r9: rotated out of the window to
        # make room for the r9-changed block above
        "mixture_weights_k1": q_mixture_weights_k1,
        "mixture_weights_k3": q_mixture_weights_k3,
        "mixture_weights": q_mixture_weights,
        # r8-green, unchanged in the r9 second pass: rotated out for
        # the pane-based window-aggregation block at the front
        "sequence_packing": q_sequence_packing,
        "value_percentiles": q_value_percentiles,
    }

# ---------------------------------------------------------------- oracles

_EV = "SELECT ts, value, event_type, CAST(user_id % 10 AS VARCHAR) AS user_bucket FROM events"

# one row per (event, covering sliding window): size 300 s / slide 60 s
# => exactly 5 aligned window starts per event
_SLIDING_LF = f"""
  SELECT CAST(floor(epoch(ts)/60)*60 - 60*k AS BIGINT) AS ws, value, event_type, user_bucket
  FROM ({_EV}), UNNEST([0,1,2,3,4]) AS t(k)
"""

_TOT = f"SELECT ws, sum(value) AS current, count(*) AS n FROM ({_SLIDING_LF}) GROUP BY ws"

_WB = f"""
  SELECT ws, current, n,
         row_number() OVER (ORDER BY ws) AS window_idx,
         avg(current) OVER (ORDER BY ws ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING) AS baseline,
         count(current) OVER (ORDER BY ws ROWS BETWEEN 9 PRECEDING AND 1 PRECEDING) AS rbo
  FROM ({_TOT})
"""

_BD_LF = f"""
  SELECT ws, 'event_type' AS dim_name, event_type AS dim_value, value FROM ({_SLIDING_LF})
  UNION ALL
  SELECT ws, 'user_bucket' AS dim_name, user_bucket AS dim_value, value FROM ({_SLIDING_LF})
"""

_BD = f"SELECT ws, dim_name, dim_value, sum(value) AS dim_sum, count(*) AS dim_count FROM ({_BD_LF}) GROUP BY 1, 2, 3"

_SIMPLE_CONTRIBUTORS_SQL = f"""
WITH wb AS ({_WB}),
stats AS (SELECT avg(current) AS avgc FROM ({_TOT})),
alerts AS (
  SELECT ws, window_idx, current AS current_total, baseline AS baseline_total
  FROM wb, stats WHERE current > 2*avgc OR current < 0.2*avgc
),
bdi AS (
  SELECT bd.*, wb.window_idx FROM ({_BD}) bd JOIN wb ON bd.ws = wb.ws
),
cur AS (SELECT window_idx AS tidx, dim_name, dim_value, dim_sum AS dim_current FROM bdi),
fut AS (
  SELECT window_idx + k AS tidx, dim_name, dim_value, dim_sum
  FROM bdi, UNNEST([1,2,3,4,5,6,7,8,9]) AS t(k)
),
tr AS (SELECT tidx, dim_name, dim_value, sum(dim_sum) AS tsum FROM fut GROUP BY 1,2,3),
grid AS (
  SELECT tidx, dim_name, dim_value,
         COALESCE(c.dim_current, 0) AS dim_current, t.tsum
  FROM cur c FULL OUTER JOIN tr t USING (tidx, dim_name, dim_value)
),
wbb AS (
  SELECT g.*, wb.ws, wb.rbo FROM grid g JOIN wb ON g.tidx = wb.window_idx
),
joined AS (
  SELECT w.ws, a.current_total, a.baseline_total, w.dim_name, w.dim_value,
         w.dim_current,
         CASE WHEN w.rbo > 0 THEN COALESCE(w.tsum, 0) / w.rbo END AS dim_baseline
  FROM wbb w JOIN alerts a ON w.ws = a.ws
),
st AS (
  SELECT ws, dim_name, dim_value,
         floor(dim_current*1000000 + 0.5)/1000000 AS cv,
         floor(COALESCE(dim_baseline, 0)*1000000 + 0.5)/1000000 AS bv,
         floor(current_total*1000000 + 0.5)/1000000 AS ct,
         floor(baseline_total*1000000 + 0.5)/1000000 AS bt
  FROM joined
),
pct AS (
  SELECT ws, dim_name, dim_value, cv, bv,
    CASE WHEN bv != 0 THEN floor((cv - bv)/bv*100*10000 + 0.5)/10000 END AS vcp,
    CASE WHEN ct != 0 AND bt != 0 THEN floor((cv/ct - bv/bt)*100*10000 + 0.5)/10000 END AS ccp,
    CASE WHEN bt != 0 AND ct != bt THEN floor((cv - bv)/abs(ct - bt)*100*10000 + 0.5)/10000 END AS ctoc
  FROM st
),
costed AS (
  SELECT *, CASE WHEN abs(ctoc) < 3 THEN 0 ELSE abs(ctoc) + abs(ccp) END AS cost FROM pct
)
SELECT ws AS window_start_epoch, dim_name, dim_value,
       floor(cv*10000 + 0.5)/10000 AS current_value, floor(bv*10000 + 0.5)/10000 AS baseline_value,
       floor(cost*10000 + 0.5)/10000 AS cost,
       vcp AS value_change_pct, ccp AS contribution_change_pct,
       ctoc AS contribution_to_overall_change_pct,
       row_number() OVER (PARTITION BY ws ORDER BY cost DESC, dim_name, dim_value) AS rank
FROM costed
WHERE cost > 0
QUALIFY rank <= {SUMMARY_SIZE}
"""

_SESSION_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       floor(sum(value)*10000 + 0.5)/10000 AS current,
       count(*) AS records_aggregated
FROM s GROUP BY user_id, sid
"""




_EXACT_DUP_SQL = f"""
WITH corpus AS ({_DOC_CORPUS_SQL}),
h AS (SELECT doc_id, sha256(text) AS _h FROM corpus),
g AS (SELECT _h, count(*) AS group_size, min(doc_id) AS group_min_id FROM h GROUP BY _h)
SELECT doc_id, group_size, group_min_id FROM h JOIN g USING (_h) WHERE group_size > 1
"""

_NGRAM_JACCARD_SQL = f"""
WITH corpus AS ({_DOC_CORPUS_SQL}),
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, s AS shingle
  FROM toks, unnest(list_transform(generate_series(1, greatest(len(t)-2, 0)),
                                   i -> array_to_string(t[i:i+2], ' '))) AS u(s)
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10000),
shp AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common, x.n AS n_a, y.n AS n_b,
       floor(n_common*1.0/(x.n + y.n - n_common)*10000 + 0.5)/10000 AS jaccard
FROM c JOIN sz x ON c.doc_a = x.doc_id JOIN sz y ON c.doc_b = y.doc_id
WHERE n_common*1.0/(x.n + y.n - n_common) >= 0.3
"""

_NEAR_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE corpus AS ({_DOC_CORPUS_SQL}),
np AS (SELECT doc_a, doc_b FROM ({_NGRAM_JACCARD_SQL})),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM np
  UNION
  SELECT doc_b, doc_a FROM np
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
),
labels AS (
  SELECT s AS doc_id, least(s, min(d)) AS cluster_rep
  FROM reach GROUP BY s
)
SELECT doc_id, cluster_rep FROM labels
UNION ALL
SELECT c.doc_id, c.doc_id AS cluster_rep
FROM corpus c LEFT JOIN labels l ON l.doc_id = c.doc_id
WHERE l.doc_id IS NULL
"""

_INCREMENTAL_NEAR_DUPS_SQL = """
WITH old AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
),
new_base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
),
near_old AS (
  SELECT doc_id + 4000000 AS doc_id,
         array_to_string(t[1:greatest(len(t)-5, 1)], ' ') AS text
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        WHERE doc_id % 2 = 0)
  WHERE doc_id % 20 = 0
),
near_new AS (
  SELECT doc_id + 5000000 AS doc_id,
         array_to_string(t[1:greatest(len(t)-5, 1)], ' ') AS text
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        WHERE doc_id % 2 = 1)
  WHERE doc_id % 15 = 1
),
newd AS (
  SELECT * FROM new_base UNION ALL SELECT * FROM near_old
  UNION ALL SELECT * FROM near_new
),
uni AS (
  SELECT 'o' AS side, doc_id, text FROM old
  UNION ALL SELECT 'n', doc_id, text FROM newd
),
toks AS (SELECT side, doc_id, string_split(trim(text), ' ') AS t FROM uni),
sh AS (
  SELECT DISTINCT side, doc_id, s AS shingle
  FROM toks, unnest(list_transform(generate_series(1, greatest(len(t)-2, 0)),
                                   i -> array_to_string(t[i:i+2], ' '))) AS u(s)
),
sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 10000),
shp AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
c AS (
  SELECT a.doc_id AS new_id, b.doc_id AS other_id, b.side AS oside,
         count(*) AS n_common
  FROM shp a JOIN shp b ON a.shingle = b.shingle
  WHERE a.side = 'n'
    AND (b.side = 'o' OR (b.side = 'n' AND b.doc_id < a.doc_id))
  GROUP BY 1, 2, 3
),
m AS (
  SELECT new_id, oside
  FROM c JOIN sz x ON c.new_id = x.doc_id JOIN sz y ON c.other_id = y.doc_id
  WHERE n_common * 1.0 / (x.nsh + y.nsh - n_common) >= 0.3
),
agg AS (
  SELECT new_id,
         sum(CASE WHEN oside = 'o' THEN 1 ELSE 0 END) AS n_old,
         sum(CASE WHEN oside = 'n' THEN 1 ELSE 0 END) AS n_new
  FROM m GROUP BY new_id
)
SELECT nd.doc_id,
       CAST(COALESCE(a.n_old, 0) AS BIGINT) AS n_old_matches,
       CAST(COALESCE(a.n_new, 0) AS BIGINT) AS n_new_matches,
       (COALESCE(a.n_old, 0) = 0 AND COALESCE(a.n_new, 0) = 0) AS kept
FROM newd nd LEFT JOIN agg a ON a.new_id = nd.doc_id
"""


_NEAR_DUP_CLUSTERS_STAR_SQL = """
WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
chain AS (
  SELECT b.doc_id AS doc_a, a.doc_id AS doc_b
  FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 IN (0, 1, 2)
),
hub AS (
  SELECT b.doc_id AS doc_a, a.doc_id AS doc_b
  FROM ids a JOIN ids b ON b.doc_id = a.doc_id - (a.doc_id % 20)
  WHERE a.doc_id % 20 >= 17
),
np AS (SELECT * FROM chain UNION ALL SELECT * FROM hub),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM np
  UNION
  SELECT doc_b, doc_a FROM np
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
),
labels AS (
  SELECT s AS doc_id, least(s, min(d)) AS cluster_rep
  FROM reach GROUP BY s
)
SELECT doc_id, cluster_rep FROM labels
UNION ALL
SELECT i.doc_id, i.doc_id AS cluster_rep
FROM ids i LEFT JOIN labels l ON l.doc_id = i.doc_id
WHERE l.doc_id IS NULL
"""


# sha60: DuckDB twin of functions/text.py sha60_col (first 15 hex
# chars of sha256, parsed base-16 — 60 bits, always in BIGINT range)
def _sha60(expr: str) -> str:
    return f"CAST('0x' || substr(sha256({expr}), 1, 15) AS BIGINT)"


_FINGERPRINTS_SQL = f"""
SELECT doc_id, {_sha60('text')} AS fingerprint, sha256(text) AS sha256
FROM documents
"""


def _language_id_oracle_sql() -> str:
    """Mirror of language_id_col: per-language marker-count sums via
    replace-length arithmetic, argmax with first-listed tie-break."""
    selects = []
    for ord_idx, (lang, markers) in enumerate(LANG_MARKERS.items()):
        score = " + ".join(
            f"(length(t) - length(replace(t, '{m}', ''))) // {len(m)}"
            for m in markers
        )
        selects.append(
            f"SELECT doc_id, '{lang}' AS lang, {ord_idx} AS ord, {score} AS score FROM base"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
long AS ({union}),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, ord) AS rn
  FROM long
)
SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'en' END AS lang_pred
FROM best WHERE rn = 1
"""


def _minhash_lsh_oracle_sql(
    n: int = 3, num_hashes: int = 64, bands: int = 16, seed: int = 7,
    max_group: int = 1000,
) -> str:
    """Full DuckDB recomputation of minhash_lsh_pairs(token_hash='sha'):
    same universal-hash params, same integer mod arithmetic, band match
    on the raw minhash tuples (Spark compresses the band key with
    xxhash64 — equal tuples hash equal, so the pair sets coincide)."""
    params = _minhash_params(num_hashes, seed)
    p = MERSENNE_P
    comb = "th"
    for k in range(1, n):
        comb = f"(({comb}) * 1000003 + lead(th, {k}) OVER w) % {p}"
    mins = ",\n         ".join(
        f"min((h * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(params)
    )
    r = num_hashes // bands
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, sig, {i} AS band_idx, concat_ws(',', "
        + ", ".join(f"m{i * r + j}" for j in range(r))
        + ") AS band_key FROM mins2"
        for i in range(bands)
    )
    sig_list = ", ".join(f"m{i}" for i in range(num_hashes))
    return f"""
WITH corpus AS ({_DOC_CORPUS_SQL}),
tarr AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM corpus),
toks AS (
  SELECT doc_id, i AS pos, {_sha60('t[i]')} % {p} AS th
  FROM tarr, unnest(generate_series(1, len(t))) AS u(i)
),
sh AS (
  SELECT doc_id, {comb} AS h
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
mins AS (
  SELECT doc_id, {mins}
  FROM sh WHERE h IS NOT NULL GROUP BY doc_id
),
mins2 AS (SELECT *, [{sig_list}] AS sig FROM mins),
banded AS (
  {band_selects}
),
keep AS (SELECT band_idx, band_key FROM banded GROUP BY 1, 2 HAVING count(*) <= {max_group}),
bk AS (SELECT b.* FROM banded b JOIN keep USING (band_idx, band_key)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
  FROM bk a JOIN bk b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       floor(list_sum(list_transform(generate_series(1, {num_hashes}),
                                     i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END))
             * 1.0 / {num_hashes} * 10000 + 0.5) / 10000 AS est_jaccard
FROM pairs
"""


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB recomputation of simhash_pairs(token_hash='sha'): 60-bit
    sha60 token hashes, per-bit vote sums, 4x15-bit band blocking,
    exact Hamming via bit_count(xor)."""
    bits, bw = 60, 15
    mask = (1 << 15) - 1
    return f"""
WITH corpus AS ({_DOC_CORPUS_SQL}),
toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM corpus
),
th AS (SELECT doc_id, {_sha60('tok')} AS h FROM toks),
votes AS (
  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, (SELECT unnest(generate_series(0, {bits - 1})) AS j) bitsrc
  GROUP BY 1, 2
),
sh AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS simhash
  FROM votes GROUP BY doc_id
),
banded AS (
  SELECT doc_id, simhash, i AS band_idx, (simhash >> (i * {bw})) & {mask} AS band_val
  FROM sh, (SELECT unnest(generate_series(0, 3)) AS i) bandsrc
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
"""


_STOPLIST_SQL = "['the','a','an','and','or','of','to','in','is','it']"

_REPETITION_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                               i -> array_to_string(ws[i:i+1], ' '))) AS gram
  FROM w
  UNION ALL
  SELECT doc_id, 3,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> array_to_string(ws[i:i+2], ' ')))
  FROM w
),
c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
f AS (
  SELECT doc_id, n,
         (CAST(sum(c) AS DOUBLE)
          - CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE))
         / CAST(sum(c) AS DOUBLE) AS frac
  FROM c GROUP BY 1, 2
)
SELECT w.doc_id,
       len(w.ws) AS word_count,
       floor(max(CASE WHEN f.n = 2 THEN f.frac END) * 1000000 + 0.5)/1000000 AS dup2_frac,
       floor(max(CASE WHEN f.n = 3 THEN f.frac END) * 1000000 + 0.5)/1000000 AS dup3_frac
FROM w LEFT JOIN f ON f.doc_id = w.doc_id
GROUP BY 1, 2
"""

def _pii_redaction_oracle_sql() -> str:
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        CARD_RE,
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    e, p = EMAIL_RE.replace("'", "''"), PHONE_RE.replace("'", "''")
    ip, cd = IPV4_RE.replace("'", "''"), CARD_RE.replace("'", "''")
    # verbatim replay of textstats._luhn_valid over the candidate list
    luhn = (
        "list_sum(list_transform(range(1,17), i -> "
        "CASE WHEN i % 2 = 1 THEN "
        "CASE WHEN CAST(c2[i] AS INT)*2 > 9 THEN CAST(c2[i] AS INT)*2 - 9 "
        "ELSE CAST(c2[i] AS INT)*2 END "
        "ELSE CAST(c2[i] AS INT) END)) % 10 = 0"
    )
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com pls'
           WHEN 1 THEN text || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
           WHEN 2 THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST((doc_id // 7) % 256 AS VARCHAR) || ' seen'
           WHEN 3 THEN text || ' card 4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0')
                        || CAST(doc_id % 10 AS VARCHAR) || ' ok'
           ELSE text
         END AS text
  FROM documents
),
red AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{e}')) AS n_emails,
         len(regexp_extract_all(text, '{p}')) AS n_phones,
         len(regexp_extract_all(text, '{ip}')) AS n_ips,
         regexp_extract_all(text, '{cd}') AS cards,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text, '{e}', '<EMAIL>', 'g'), '{p}', '<PHONE>', 'g'),
             '{ip}', '<IP>', 'g'), '{cd}', '<CARD>', 'g') AS r
  FROM planted
)
SELECT doc_id, n_emails, n_phones, n_ips,
       len(cards) AS n_cards,
       len(list_filter(cards, c2 -> {luhn})) AS n_cards_valid,
       sha256(r) AS redacted_sha,
       length(r) AS redacted_len
FROM red
"""


_VOCAB_SQL = """
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
c AS (SELECT word, count(*) AS n FROM w GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank, word, n
FROM c ORDER BY n DESC, word LIMIT 100
"""


def _stratified_sample_oracle_sql() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {rate!r}" for lang, rate in sorted(_SAMPLE_RATES.items())
    )
    key = _sha60("'doc-' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH b AS (
  SELECT doc_id, lang,
         {key} % 10000 AS sample_bucket,
         CAST(floor((CASE lang {cases} ELSE 0.1 END) * 10000) AS BIGINT) AS keep_below
  FROM documents
)
SELECT doc_id, lang, sample_bucket, keep_below
FROM b WHERE sample_bucket < keep_below
"""


_BLOCKLIST_FILTER_SQL = r"""
WITH pages AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END)
         || source || '.Example.COM/articles/' || CAST(doc_id AS VARCHAR)
         AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_extract(
             regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', ''),
             '^([^/?#]+)', 1),
           '^www\.', '') AS host
  FROM pages
)
SELECT host, doc_id FROM canon
WHERE host NOT IN ('src0.example.com', 'src1.example.com',
                   'src2.example.com', 'src3.example.com', 'src4.example.com')
"""

_VALUE_PERCENTILES_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       floor(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
       floor(quantile_cont(value, 0.95) * 1e6 + 0.5) / 1e6 AS p95,
       floor(quantile_cont(value, 0.99) * 1e6 + 0.5) / 1e6 AS p99
FROM events
GROUP BY event_type
"""


def _bpe_merges_oracle_sql(n: int = 16) -> str:
    """The engine's 16 BPE rounds UNROLLED as chained CTEs: s{r} is the
    symbolized weighted vocab after r merges, p{r} the weighted pair
    counts, b{r} the round's argmax rule. Replace semantics are the
    byte-identical single-pass scan both engines implement; SUM is
    cast back to BIGINT (DuckDB widens to HUGEINT)."""
    ctes = [
        "v AS MATERIALIZED (SELECT word, COUNT(*) AS w FROM"
        " (SELECT unnest(string_split(text, ' ')) AS word FROM documents)"
        " GROUP BY word)",
        "s0 AS MATERIALIZED"
        " (SELECT w, array_to_string(string_split(word, ''), ' ') AS seq FROM v)",
    ]
    # MATERIALIZED keeps DuckDB from re-inlining each round's CTE into
    # the next (16 chained rounds re-expand the base scan enough to
    # exhaust file handles, and re-derivation cost grows per round)
    for r in range(n):
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT s[i] AS l, s[i+1] AS r, SUM(w) AS c"
            f" FROM (SELECT w, string_split(seq, ' ') AS s FROM s{r}) q{r},"
            f" UNNEST(range(1, len(s))) AS t(i)"
            f" GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{r} AS (SELECT l, r, c FROM p{r}"
            f" ORDER BY c DESC, l ASC, r ASC LIMIT 1)"
        )
        if r < n - 1:
            ctes.append(
                f"s{r + 1} AS MATERIALIZED (SELECT w, trim(replace(' ' || seq || ' ',"
                f" ' ' || (SELECT l FROM b{r}) || ' ' || (SELECT r FROM b{r}) || ' ',"
                f" ' ' || (SELECT l FROM b{r}) || (SELECT r FROM b{r}) || ' ')) AS seq"
                f" FROM s{r})"
            )
    selects = " UNION ALL ".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS rank, l AS \"left\", r AS \"right\","
        f" l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM b{r}"
        for r in range(n)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


def _bpe_tokenize_oracle_sql(n: int = 16) -> str:
    """`_bpe_merges_oracle_sql`'s chain carried one column wider: every
    s{r} keeps `word`, the final s{n} maps word -> post-merge symbol
    count, and the corpus's exploded (doc, word) frequencies join back
    for the per-doc token totals."""
    ctes = [
        "v AS MATERIALIZED (SELECT word, COUNT(*) AS w FROM"
        " (SELECT unnest(string_split(text, ' ')) AS word FROM documents)"
        " GROUP BY word)",
        "s0 AS MATERIALIZED (SELECT word, w,"
        " array_to_string(string_split(word, ''), ' ') AS seq FROM v)",
    ]
    for r in range(n):
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT s[i] AS l, s[i+1] AS r, SUM(w) AS c"
            f" FROM (SELECT w, string_split(seq, ' ') AS s FROM s{r}) q{r},"
            f" UNNEST(range(1, len(s))) AS t(i)"
            f" GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{r} AS (SELECT l, r, c FROM p{r}"
            f" ORDER BY c DESC, l ASC, r ASC LIMIT 1)"
        )
        ctes.append(
            f"s{r + 1} AS MATERIALIZED (SELECT word, w, trim(replace(' ' || seq || ' ',"
            f" ' ' || (SELECT l FROM b{r}) || ' ' || (SELECT r FROM b{r}) || ' ',"
            f" ' ' || (SELECT l FROM b{r}) || (SELECT r FROM b{r}) || ' ')) AS seq"
            f" FROM s{r})"
        )
    ctes.append(
        f"tok AS (SELECT word, len(string_split(seq, ' ')) AS word_tokens"
        f" FROM s{n})"
    )
    ctes.append(
        "dw AS (SELECT doc_id, word, COUNT(*) AS n_occ FROM"
        " (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)"
        " GROUP BY doc_id, word)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_words,"
        " CAST(SUM(n_occ * word_tokens) AS BIGINT) AS n_tokens"
        " FROM dw JOIN tok USING (word) GROUP BY doc_id"
    )


_SEQUENCE_PACKING_SQL = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS start_pos
  FROM t
)
SELECT doc_id, n_tokens, start_pos,
  CAST(floor(start_pos / 64) AS BIGINT) AS first_chunk,
  CAST(floor((start_pos + n_tokens - 1) / 64) AS BIGINT) AS last_chunk,
  CAST(floor((start_pos + n_tokens - 1) / 64)
    - floor(start_pos / 64) + 1 AS BIGINT) AS n_chunks
FROM c
"""


def _mixture_weights_sql(k: int) -> str:
    """Mixture-weights oracle parameterized by the integer exponent
    k = 1/T. n^k and n^(k-1) are spelled as literal BIGINT products
    (DuckDB SUM widens to HUGEINT — CAST back to BIGINT to mirror
    Spark's long window sums); sample_weight's numerator is
    n^(k-1)*s1, matching the r7-fixed engine formula."""
    nk = " * ".join(["n_tokens"] * k)
    nkm1 = " * ".join(["n_tokens"] * (k - 1)) if k > 1 else "CAST(1 AS BIGINT)"
    return f"""
WITH k AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n_docs, n_tokens,
    CAST(SUM(n_tokens) OVER () AS BIGINT) AS s1,
    CAST(SUM({nk}) OVER () AS BIGINT) AS sk
  FROM k
)
SELECT lang, n_docs, n_tokens,
  floor(CAST(n_tokens AS DOUBLE) / CAST(s1 AS DOUBLE) * 1e6 + 0.5) / 1e6
    AS p_data,
  floor(CAST({nk} AS DOUBLE) / CAST(sk AS DOUBLE) * 1e6 + 0.5)
    / 1e6 AS p_sample,
  floor(CAST(({nkm1}) * s1 AS DOUBLE) / CAST(sk AS DOUBLE) * 1e6 + 0.5) / 1e6
    AS sample_weight
FROM w
"""


_MIXTURE_WEIGHTS_SQL = _mixture_weights_sql(2)
_MIXTURE_WEIGHTS_K1_SQL = _mixture_weights_sql(1)
_MIXTURE_WEIGHTS_K3_SQL = _mixture_weights_sql(3)


_TOP_WORDS_PER_LANG_SQL = """
WITH words AS (
  SELECT lang AS key, unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (
  SELECT key, word, COUNT(*) AS n FROM words GROUP BY key, word
),
ranked AS (
  SELECT key, word, n,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY n DESC, word ASC) AS rank
  FROM counts
)
SELECT key, CAST(rank AS BIGINT) AS rank, word, n
FROM ranked WHERE rank <= 10
"""


# replants the two-line split + %4 boilerplate insertion and replays
# df-counting, deletion, and ORDER-preserving reassembly
# (string_agg ORDER BY pos == Spark's array_sort(struct(pos,line)))
_LINE_DEDUP_SQL = """
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0
      THEN substr(text, 1, 60) || chr(10)
           || 'subscribe to our newsletter today' || chr(10)
           || substr(text, 61, 1000000)
      ELSE substr(text, 1, 60) || chr(10) || substr(text, 61, 1000000)
    END AS text
  FROM documents
),
split_docs AS (
  SELECT doc_id, string_split(text, chr(10)) AS l FROM planted
),
lines AS (
  SELECT doc_id, i - 1 AS pos, l[i] AS line
  FROM split_docs, UNNEST(range(1, len(l) + 1)) AS t(i)
),
df AS (
  SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM lines GROUP BY line
),
kept AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM lines JOIN df USING (line)
  WHERE line_df <= 3
  GROUP BY doc_id
),
base AS (
  SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM planted
)
SELECT b.doc_id,
       CAST(b.n_lines AS BIGINT) AS n_lines,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       sha256(COALESCE(k.clean_text, '')) AS clean_sha,
       CAST(length(COALESCE(k.clean_text, '')) AS BIGINT) AS clean_len
FROM base b LEFT JOIN kept k USING (doc_id)
"""


# lag(pos) IS NULL falls through CASE to ELSE 1 (first window of a doc
# always opens a span); intervals [p, p+7] with consecutive kept
# positions <= 8 apart union contiguously, so sum(e-s+1) is the exact
# covered-token count
_DUPLICATE_SPANS_SQL = """
WITH base0 AS (
  SELECT doc_id, trim(text) AS text, string_split(trim(text), ' ') AS t
  FROM documents
),
planted AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 7 = 0 AND len(t) >= 11
      THEN array_to_string(t[1:10], ' ')
           || ' the quick brown fox jumps over the lazy dog again and again '
           || array_to_string(t[11:len(t)], ' ')
      WHEN doc_id % 13 = 0 AND len(t) >= 11
      THEN text || ' ' || array_to_string(t[1:10], ' ')
      ELSE text
    END AS text
  FROM base0
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM planted),
base AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
wins AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
),
cnt AS (SELECT gram, count(*) AS c FROM wins GROUP BY gram),
dup AS (SELECT doc_id, pos FROM wins JOIN cnt USING (gram) WHERE c >= 2),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
              THEN 0 ELSE 1 END AS new_island
  FROM dup
),
isl2 AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
  FROM isl2 GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens,
         max(e - s + 1) AS max_span
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(a.max_span, 0) AS BIGINT) AS max_span,
       floor(COALESCE(a.dup_tokens, 0) * 1.0 / b.n_tokens * 10000 + 0.5) / 10000
         AS dup_ratio
FROM base b LEFT JOIN agg a USING (doc_id)
"""


_SHARD_MANIFEST_SQL = f"""
WITH base AS (
  SELECT {_sha60("'shard-' || CAST(doc_id AS VARCHAR)")} % 16 AS shard,
         {_sha60("'order-' || CAST(doc_id AS VARCHAR)")} AS okey,
         {_sha60("'doc-' || CAST(doc_id AS VARCHAR)")} AS doc_sha,
         len(string_split(trim(text), ' ')) AS n_toks,
         length(text) AS n_chars
  FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(okey) AS BIGINT) AS min_order_key,
       CAST(max(okey) AS BIGINT) AS max_order_key,
       CAST(bit_xor(doc_sha) AS BIGINT) AS ids_xor
FROM base GROUP BY shard
"""


# F.percentile == quantile_cont (same exact continuous interpolation,
# quantized 6dp); the dup rollup counts docs sharing a sha256 WITHIN
# the (lang, source) slice only
_DATASET_CARD_SQL = """
WITH corpus AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + 3000000, text, lang, source FROM documents
  WHERE doc_id % 25 = 0
),
base AS (
  SELECT lang, source,
         length(text) AS n_chars,
         len(string_split(trim(text), ' ')) AS n_toks,
         sha256(text) AS sha
  FROM corpus
),
card AS (
  SELECT lang, source,
         count(*) AS n_docs,
         sum(n_toks) AS n_tokens,
         sum(n_chars) AS total_chars,
         floor(avg(n_toks) * 10000 + 0.5) / 10000 AS mean_doc_tokens,
         floor(quantile_cont(n_chars, 0.5) * 1e6 + 0.5) / 1e6 AS p50_chars,
         floor(quantile_cont(n_chars, 0.95) * 1e6 + 0.5) / 1e6 AS p95_chars
  FROM base GROUP BY lang, source
),
d AS (
  SELECT lang, source, sha, count(*) AS c FROM base GROUP BY 1, 2, 3
),
da AS (
  SELECT lang, source,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_exact_dup_docs
  FROM d GROUP BY lang, source
)
SELECT card.lang, card.source,
       CAST(card.n_docs AS BIGINT) AS n_docs,
       CAST(card.n_tokens AS BIGINT) AS n_tokens,
       CAST(card.total_chars AS BIGINT) AS total_chars,
       card.mean_doc_tokens, card.p50_chars, card.p95_chars,
       CAST(da.n_exact_dup_docs AS BIGINT) AS n_exact_dup_docs
FROM card JOIN da USING (lang, source)
"""


# DSIR replayed exactly: sha60 bucket hashing and integer-bits log2
# are both engine-portable; ties at the top-k cut break on doc_id
_DSIR_SELECT_SQL = f"""
WITH rawd AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
tgt AS (SELECT doc_id, text FROM documents WHERE lang = 'de'),
rw AS (
  SELECT doc_id, {_sha60("'w-' || word")} % 256 AS bucket
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM rawd)
),
tw AS (
  SELECT doc_id, {_sha60("'w-' || word")} % 256 AS bucket
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM tgt)
),
tc AS (SELECT bucket, count(*) AS tc FROM tw GROUP BY bucket),
rc AS (SELECT bucket, count(*) AS rc FROM rw GROUP BY bucket),
score AS (
  SELECT rc.bucket,
         (length(bin(COALESCE(tc.tc, 0) + 1)) - 1)
         - (length(bin(rc.rc + 1)) - 1) AS score_bits
  FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket
),
consts AS (
  SELECT (length(bin((SELECT count(*) FROM rw) + 256)) - 1)
         - (length(bin((SELECT count(*) FROM tw) + 256)) - 1) AS c_bits
),
per_doc AS (
  SELECT rw.doc_id, count(*) AS n_words, sum(score_bits) AS sum_bits
  FROM rw JOIN score ON rw.bucket = score.bucket
  GROUP BY rw.doc_id
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(sum_bits + n_words * (SELECT c_bits FROM consts) AS BIGINT)
           AS weight_bits
FROM per_doc
ORDER BY weight_bits DESC, doc_id ASC
LIMIT 50
"""


# integer-bits surprisal replayed exactly: floor(log2(x)) =
# length(bin(x)) - 1 in both engines (verified: minimal-digit binary
# strings match for 1/5/1024)
_UNIGRAM_SURPRISAL_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word, COUNT(*) AS wc FROM words GROUP BY word
),
total AS (
  SELECT length(bin(SUM(wc))) - 1 AS n_bits FROM vocab
),
per_doc AS (
  SELECT w.doc_id,
         COUNT(*) AS n_words,
         SUM(length(bin(v.wc)) - 1) AS sum_wc_bits
  FROM words w JOIN vocab v USING (word)
  GROUP BY w.doc_id
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_words * (SELECT n_bits FROM total) - sum_wc_bits AS BIGINT)
           AS surprisal_bits
FROM per_doc
"""


# inverse of decontamination: per benchmark doc, distinct other corpus
# docs sharing >=1 gram + distinct leaked gram types, zero-filled
_CONTAMINATION_REPORT_SQL = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
  FROM words, UNNEST(range(1, len(w) - 6)) AS t(i)
  WHERE len(w) >= 8
),
cg AS (SELECT DISTINCT doc_id AS corpus_id, gram FROM grams),
bg AS (SELECT DISTINCT doc_id AS bench_id, gram FROM grams WHERE doc_id % 25 = 0),
hits AS (
  SELECT bg.bench_id,
         COUNT(DISTINCT cg.corpus_id) AS n_contaminated_docs,
         COUNT(DISTINCT bg.gram) AS n_leaked_grams
  FROM cg JOIN bg USING (gram)
  WHERE cg.corpus_id <> bg.bench_id
  GROUP BY bg.bench_id
),
tot AS (SELECT bench_id, COUNT(*) AS n_grams FROM bg GROUP BY 1)
SELECT t.bench_id AS bench_doc_id,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(h.n_contaminated_docs, 0) AS BIGINT) AS n_contaminated_docs,
       CAST(COALESCE(h.n_leaked_grams, 0) AS BIGINT) AS n_leaked_grams
FROM tot t LEFT JOIN hits h USING (bench_id)
"""


def _perplexity_sample_oracle_sql(rates: tuple = (0.9, 0.5, 0.1)) -> str:
    """Surprisal CTE chain + per-lang deterministic tercile bucketing
    (row_number over the (bits_per_word, doc_id) total order — NOT
    ntile, whose tie semantics differ across engines) + the sha60
    sample gate."""
    nb = len(rates)
    cases = " ".join(
        f"WHEN {i} THEN {int(r * 10000)}" for i, r in enumerate(rates)
    )
    key = _sha60("'ppl-' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (SELECT word, COUNT(*) AS wc FROM words GROUP BY word),
total AS (SELECT length(bin(SUM(wc))) - 1 AS n_bits FROM vocab),
per_doc AS (
  SELECT w.doc_id, COUNT(*) AS n_words,
         SUM(length(bin(v.wc)) - 1) AS sum_wc_bits
  FROM words w JOIN vocab v USING (word)
  GROUP BY w.doc_id
),
scored AS (
  SELECT d.doc_id, d.lang,
         CAST(p.n_words * (SELECT n_bits FROM total) - p.sum_wc_bits AS BIGINT)
           / CAST(p.n_words AS BIGINT) AS bpw
  FROM per_doc p JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY bpw, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM scored
),
bucketed AS (
  SELECT doc_id, lang,
         CAST(((rn - 1) * {nb}) // cnt AS INT) AS bucket
  FROM ranked
),
gated AS (
  SELECT doc_id, lang, bucket,
         {key} % 10000 AS sample_bucket,
         CAST(CASE bucket {cases} END AS BIGINT) AS keep_below
  FROM bucketed
)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(sample_bucket AS BIGINT) AS sample_bucket, keep_below
FROM gated WHERE sample_bucket < keep_below
"""


# replants the doc_id % 25 == 0 benchmark set and recomputes 8-gram
# overlap exactly (DuckDB list slicing is 1-based inclusive: w[i:i+7]
# is 8 elements, mirroring Spark's F.slice(words, i, 8))
_DECONTAMINATION_SQL = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
  FROM words, UNNEST(range(1, len(w) - 6)) AS t(i)
  WHERE len(w) >= 8
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0),
hits AS (
  SELECT g.doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT g.gram) AS n_distinct_hits
  FROM grams g JOIN bench b USING (gram)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_distinct_hits, 0) AS n_distinct_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""

# replants the deterministic urls and replays the same
# backref/lookaround-free canonicalization regexes byte-for-byte
_URL_HOST_STATS_SQL = r"""
WITH pages AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END)
         || source || '.Example.COM/articles/' || CAST(doc_id AS VARCHAR)
         || (CASE WHEN doc_id % 3 = 0
             THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
             ELSE '' END)
         AS url
  FROM documents
),
stripped AS (
  SELECT doc_id,
         regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', '') AS ns
  FROM pages
),
canon AS (
  SELECT doc_id,
         regexp_replace(regexp_extract(ns, '^([^/?#]+)', 1), '^www\.', '') AS host,
         regexp_extract(ns, '^[^/?#]+([^?#]*)', 1) AS path
  FROM stripped
)
SELECT host,
       regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT path) AS n_distinct_paths,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM canon
GROUP BY host, domain
"""


def _curation_pipeline_oracle_sql() -> str:
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        CARD_RE,
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    cases = " ".join(
        f"WHEN '{lang}' THEN {rate!r}" for lang, rate in sorted(_SAMPLE_RATES.items())
    )
    key = _sha60("'doc-' || CAST(doc_id AS VARCHAR)")
    e, p = EMAIL_RE.replace("'", "''"), PHONE_RE.replace("'", "''")
    ip, cd = IPV4_RE.replace("'", "''"), CARD_RE.replace("'", "''")
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"clean_text, '{e}', '<EMAIL>', 'g'), '{p}', '<PHONE>', 'g'), "
        f"'{ip}', '<IP>', 'g'), '{cd}', '<CARD>', 'g')"
    )
    return f"""
WITH planted AS (
  SELECT doc_id, lang,
    (CASE WHEN doc_id % 4 = 0
      THEN substr(text, 1, 60) || chr(10)
           || 'subscribe to our newsletter today' || chr(10)
           || substr(text, 61, 1000000)
      ELSE substr(text, 1, 60) || chr(10) || substr(text, 61, 1000000)
    END)
    || (CASE doc_id % 5
      WHEN 0 THEN ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com pls'
      WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
      WHEN 2 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST((doc_id // 7) % 256 AS VARCHAR) || ' seen'
      WHEN 3 THEN ' card 4' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 14, '0')
                   || CAST(doc_id % 10 AS VARCHAR) || ' ok'
      ELSE ''
    END) AS text
  FROM documents
),
w AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws FROM planted),
q AS (
  SELECT doc_id, lang, text FROM w
  WHERE len(ws) BETWEEN 40 AND 100000
    AND CAST(list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS DOUBLE)
        / len(ws) BETWEEN 3.0 AND 10.0
    AND len(list_intersect(ws, ['the', 'a', 'an', 'and', 'or'])) >= 2
),
grams AS (
  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM q) g,
       UNNEST(range(1, len(ws) - 6)) AS t(i)
  WHERE len(ws) >= 8
),
bgrams AS (
  SELECT DISTINCT array_to_string(ws[i:i+7], ' ') AS gram
  FROM (SELECT string_split(text, ' ') AS ws FROM planted WHERE doc_id % 25 = 0) b,
       UNNEST(range(1, len(ws) - 6)) AS t(i)
  WHERE len(ws) >= 8
),
contaminated AS (SELECT DISTINCT doc_id FROM grams JOIN bgrams USING (gram)),
dec AS (
  SELECT q.* FROM q LEFT JOIN contaminated c USING (doc_id) WHERE c.doc_id IS NULL
),
split_docs AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM dec),
lines AS (
  SELECT doc_id, i - 1 AS pos, l[i] AS line
  FROM split_docs, UNNEST(range(1, len(l) + 1)) AS t(i)
),
df AS (SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM lines GROUP BY line),
kept_lines AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM lines JOIN df USING (line)
  WHERE line_df <= 3
  GROUP BY doc_id
),
ld AS (
  SELECT d.doc_id, d.lang, COALESCE(k.clean_text, '') AS clean_text
  FROM dec d LEFT JOIN kept_lines k USING (doc_id)
),
red AS (
  SELECT doc_id, lang, sha256({red}) AS redacted_sha,
         length({red}) AS redacted_len
  FROM ld
),
dd AS (
  SELECT doc_id, lang, redacted_sha, redacted_len,
         min(doc_id) OVER (PARTITION BY redacted_sha) AS mn
  FROM red
),
k AS (SELECT doc_id, lang, redacted_sha, redacted_len FROM dd WHERE doc_id = mn),
b AS (
  SELECT doc_id, lang, redacted_sha, redacted_len,
         {key} % 10000 AS sample_bucket,
         CAST(floor((CASE lang {cases} ELSE 0.1 END) * 10000) AS BIGINT) AS keep_below
  FROM k
)
SELECT doc_id, lang, sample_bucket, keep_below, redacted_sha, redacted_len
FROM b WHERE sample_bucket < keep_below
"""


_QUALITY_FILTER_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
r AS (
  SELECT doc_id,
         len(ws) AS word_count,
         CAST(list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS DOUBLE)
           / len(ws) AS mean_len,
         len(list_intersect(ws, ['the', 'a', 'an', 'and', 'or'])) AS n_stop
  FROM w
)
SELECT doc_id, word_count,
       floor(mean_len*1000000 + 0.5)/1000000 AS mean_word_len,
       n_stop AS n_stopwords,
       (word_count >= 40 AND word_count <= 100000) AS rule_word_count,
       (mean_len >= 3.0 AND mean_len <= 10.0) AS rule_mean_len,
       (n_stop >= 2) AS rule_stopwords,
       ((word_count >= 40 AND word_count <= 100000)
        AND (mean_len >= 3.0 AND mean_len <= 10.0)
        AND n_stop >= 2) AS passes
FROM r
"""

_TEXT_STATS_SQL = f"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         len(regexp_extract_all(text, '[\\p{{L}}]+|[\\p{{N}}]+|[^\\p{{L}}\\p{{N}}\\s]')) AS n_pieces,
         len(regexp_extract_all(text, '[[:punct:]]')) AS n_punct,
         len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                       x -> list_contains({_STOPLIST_SQL}, x)))) AS n_stop
  FROM documents
),
ratios AS (
  SELECT doc_id, n_chars, n_tokens, n_pieces,
         CASE WHEN n_chars > 0 THEN n_punct*1.0/n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0 THEN n_stop*1.0/n_tokens ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1))*1.0/n_tokens ELSE 0.0 END AS mean_token_len
  FROM base
)
SELECT doc_id, n_chars, n_tokens, n_pieces,
       floor(punct_ratio*1000000 + 0.5)/1000000 AS punct_ratio,
       floor(stop_ratio*1000000 + 0.5)/1000000 AS stopword_ratio,
       floor(mean_token_len*1000000 + 0.5)/1000000 AS mean_token_len,
       floor((least(n_tokens/100.0, 1.0)*0.5
              + (1.0 - least(punct_ratio*5, 1.0))*0.25
              + least(stop_ratio*5, 1.0)*0.25)*1000000 + 0.5)/1000000 AS quality_score
FROM ratios
"""

_EMB_BRUTE_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0
),
s AS (
  SELECT query_id, e.vec_id,
         list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS cosine
  FROM q, embeddings e
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, floor(cosine*10000 + 0.5)/10000 AS cosine, rank
FROM r WHERE rank <= 10
"""

_HEV = ("SELECT ts, value, event_type, CAST(user_id % 5 AS VARCHAR) AS user_band, "
        "CAST(user_id % 10 AS VARCHAR) AS user_bucket FROM events")

_HLF = f"""
  SELECT CAST(floor(epoch(ts)/60)*60 - 60*k AS BIGINT) AS ws, value, event_type, user_band, user_bucket
  FROM ({_HEV}), UNNEST([0,1,2,3,4]) AS t(k)
"""

_HBD = f"""
  SELECT ws, dim_name, dim_value, sum(value) AS dim_sum FROM (
    SELECT ws, 'event_type' AS dim_name, event_type AS dim_value, value FROM ({_HLF})
    UNION ALL
    SELECT ws, 'user_band', user_band, value FROM ({_HLF})
    UNION ALL
    SELECT ws, 'user_bucket', user_bucket, value FROM ({_HLF})
  ) GROUP BY 1, 2, 3
"""

_HIER_CONTRIBUTORS_SQL = f"""
WITH wb AS ({_WB}),
stats AS (SELECT avg(current) AS avgc FROM ({_TOT})),
alerts AS (
  SELECT ws, window_idx, current AS current_total, baseline AS baseline_total
  FROM wb, stats WHERE current > 2*avgc OR current < 0.2*avgc
),
bdi AS (SELECT bd.*, wb.window_idx FROM ({_HBD}) bd JOIN wb ON bd.ws = wb.ws),
cur AS (SELECT window_idx AS tidx, dim_name, dim_value, dim_sum AS dim_current FROM bdi),
fut AS (
  SELECT window_idx + k AS tidx, dim_name, dim_value, dim_sum
  FROM bdi, UNNEST([1,2,3,4,5,6,7,8,9]) AS t(k)
),
tr AS (SELECT tidx, dim_name, dim_value, sum(dim_sum) AS tsum FROM fut GROUP BY 1,2,3),
grid AS (
  SELECT tidx, dim_name, dim_value,
         COALESCE(c.dim_current, 0) AS dim_current, t.tsum
  FROM cur c FULL OUTER JOIN tr t USING (tidx, dim_name, dim_value)
),
wbb AS (
  SELECT g.*, wb.ws, wb.rbo,
         CASE WHEN wb.rbo > 0 THEN COALESCE(g.tsum, 0) / wb.rbo END AS dim_baseline
  FROM grid g JOIN wb ON g.tidx = wb.window_idx
),
joined AS (
  SELECT w.ws, a.current_total, a.baseline_total, w.dim_name, w.dim_value,
         w.dim_current, w.dim_baseline,
         CASE WHEN w.dim_name = 'user_bucket' THEN 'user_band' END AS parent_name,
         CASE WHEN w.dim_name = 'user_bucket'
              THEN CAST(CAST(w.dim_value AS INT) % 5 AS VARCHAR) END AS parent_value,
         CASE w.dim_name WHEN 'event_type' THEN 'type' ELSE 'user' END AS dim_group,
         CASE w.dim_name WHEN 'user_bucket' THEN 2 ELSE 1 END AS dim_level
  FROM wbb w JOIN alerts a ON w.ws = a.ws
),
withparent AS (
  SELECT j.*, floor(p.dim_current*1000000 + 0.5)/1000000 AS parent_cur,
         floor(COALESCE(p.dim_baseline, 0)*1000000 + 0.5)/1000000 AS parent_base
  FROM joined j
  LEFT JOIN wbb p ON p.ws = j.ws AND p.dim_name = j.parent_name
                  AND p.dim_value = j.parent_value
),
st AS (
  SELECT ws, dim_group, dim_level, dim_name, dim_value,
         floor(dim_current*1000000 + 0.5)/1000000 AS cv,
         floor(COALESCE(dim_baseline, 0)*1000000 + 0.5)/1000000 AS bv,
         floor(current_total*1000000 + 0.5)/1000000 AS ct,
         floor(baseline_total*1000000 + 0.5)/1000000 AS bt,
         CASE WHEN dim_level = 1 THEN floor(current_total*1000000 + 0.5)/1000000
              ELSE COALESCE(parent_cur, 0) END AS p_cur,
         CASE WHEN dim_level = 1 THEN floor(baseline_total*1000000 + 0.5)/1000000
              ELSE COALESCE(parent_base, 0) END AS p_base
  FROM withparent
),
pct AS (
  SELECT *,
    CASE WHEN bv != 0 THEN floor((cv - bv)/bv*100*10000 + 0.5)/10000 END AS vcp,
    CASE WHEN ct != 0 AND bt != 0 THEN floor((cv/ct - bv/bt)*100*10000 + 0.5)/10000 END AS ccp,
    CASE WHEN bt != 0 AND ct != bt THEN floor((cv - bv)/abs(ct - bt)*100*10000 + 0.5)/10000 END AS ctoc,
    CASE WHEN (CASE WHEN p_base != 0 THEN p_cur/p_base END) IS NULL
           OR (CASE WHEN p_base != 0 THEN p_cur/p_base END) = 0
         THEN 1.0 ELSE p_cur/p_base END AS r,
    CASE WHEN abs((bv + cv)/(bt + ct)) < 0.00001 THEN 0.0 ELSE (bv + cv)/(bt + ct) END AS contribution
  FROM st
),
costed AS (
  SELECT *,
    CASE WHEN abs(ctoc) < 3 THEN 0.0 ELSE
      CASE
        WHEN bv != 0 AND cv != 0 THEN
          (cv - r*bv) * (CASE WHEN (cv/(r*bv) - 1.0)*contribution + 1.0 > 0
                              THEN ln((cv/(r*bv) - 1.0)*contribution + 1.0) END)
        WHEN bv = 0 THEN
          cv * (CASE WHEN (CASE WHEN r > 1 THEN 2 - r ELSE r END) > 0
                     THEN ln(CASE WHEN r > 1 THEN 2 - r ELSE r END) END)
        ELSE
          -bv * (CASE WHEN (CASE WHEN r < 1 THEN 2 - r ELSE r END) > 0
                      THEN ln(CASE WHEN r < 1 THEN 2 - r ELSE r END) END)
      END
    END AS cost
  FROM pct
)
SELECT ws AS window_start_epoch, dim_group AS dimension_group, dim_name, dim_value,
       CAST(dim_level AS BIGINT) AS dim_level,
       floor(cv*10000 + 0.5)/10000 AS current_value,
       floor(bv*10000 + 0.5)/10000 AS baseline_value,
       floor(cost*10000 + 0.5)/10000 AS cost,
       vcp AS value_change_pct, ccp AS contribution_change_pct,
       ctoc AS contribution_to_overall_change_pct,
       row_number() OVER (PARTITION BY ws, dim_group ORDER BY cost DESC, dim_name, dim_value) AS rank
FROM costed
WHERE cost > 0
QUALIFY rank <= {SUMMARY_SIZE}
"""

# data-dependent hierarchy twin: parent user_seg is an independent
# record field; per-window child->parent pairs via max co-occurrence
_CEV = (
    "SELECT ts, value, event_type, "
    "CASE WHEN user_id % 97 = 0 THEN 'vip' ELSE 'std' END AS user_seg, "
    "CAST(user_id % 10 AS VARCHAR) AS user_bucket FROM events"
)

_CLF = f"""
  SELECT CAST(floor(epoch(ts)/60)*60 - 60*k AS BIGINT) AS ws, value, event_type, user_seg, user_bucket
  FROM ({_CEV}), UNNEST([0,1,2,3,4]) AS t(k)
"""

_CBD = f"""
  SELECT ws, dim_name, dim_value, sum(value) AS dim_sum FROM (
    SELECT ws, 'event_type' AS dim_name, event_type AS dim_value, value FROM ({_CLF})
    UNION ALL
    SELECT ws, 'user_seg', user_seg, value FROM ({_CLF})
    UNION ALL
    SELECT ws, 'user_bucket', user_bucket, value FROM ({_CLF})
  ) GROUP BY 1, 2, 3
"""

_HIER_COOC_SQL = f"""
WITH wb AS ({_WB}),
stats AS (SELECT avg(current) AS avgc FROM ({_TOT})),
alerts AS (
  SELECT ws, window_idx, current AS current_total, baseline AS baseline_total
  FROM wb, stats WHERE current > 2*avgc OR current < 0.2*avgc
),
cpairs AS (
  -- per-window co-occurrence child->parent value map, max-conflict
  -- rule (engine twin: operators/windows.py::hierarchy_cooccurrence)
  SELECT ws, user_bucket AS dim_value, max(user_seg) AS parent_value
  FROM ({_CLF}) GROUP BY 1, 2
),
bdi AS (SELECT bd.*, wb.window_idx FROM ({_CBD}) bd JOIN wb ON bd.ws = wb.ws),
cur AS (SELECT window_idx AS tidx, dim_name, dim_value, dim_sum AS dim_current FROM bdi),
fut AS (
  SELECT window_idx + k AS tidx, dim_name, dim_value, dim_sum
  FROM bdi, UNNEST([1,2,3,4,5,6,7,8,9]) AS t(k)
),
tr AS (SELECT tidx, dim_name, dim_value, sum(dim_sum) AS tsum FROM fut GROUP BY 1,2,3),
grid AS (
  SELECT tidx, dim_name, dim_value,
         COALESCE(c.dim_current, 0) AS dim_current, t.tsum
  FROM cur c FULL OUTER JOIN tr t USING (tidx, dim_name, dim_value)
),
wbb AS (
  SELECT g.*, wb.ws, wb.rbo,
         CASE WHEN wb.rbo > 0 THEN COALESCE(g.tsum, 0) / wb.rbo END AS dim_baseline
  FROM grid g JOIN wb ON g.tidx = wb.window_idx
),
joined AS (
  SELECT w.ws, a.current_total, a.baseline_total, w.dim_name, w.dim_value,
         w.dim_current, w.dim_baseline,
         CASE WHEN w.dim_name = 'user_bucket' THEN 'user_seg' END AS parent_name,
         CASE WHEN w.dim_name = 'user_bucket' THEN pr.parent_value END AS parent_value,
         CASE w.dim_name WHEN 'event_type' THEN 'type' ELSE 'user' END AS dim_group,
         CASE w.dim_name WHEN 'user_bucket' THEN 2 ELSE 1 END AS dim_level
  FROM wbb w
  JOIN alerts a ON w.ws = a.ws
  LEFT JOIN cpairs pr
    ON pr.ws = w.ws AND pr.dim_value = w.dim_value AND w.dim_name = 'user_bucket'
),
withparent AS (
  SELECT j.*, floor(p.dim_current*1000000 + 0.5)/1000000 AS parent_cur,
         floor(COALESCE(p.dim_baseline, 0)*1000000 + 0.5)/1000000 AS parent_base
  FROM joined j
  LEFT JOIN wbb p ON p.ws = j.ws AND p.dim_name = j.parent_name
                  AND p.dim_value = j.parent_value
),
st AS (
  SELECT ws, dim_group, dim_level, dim_name, dim_value,
         floor(dim_current*1000000 + 0.5)/1000000 AS cv,
         floor(COALESCE(dim_baseline, 0)*1000000 + 0.5)/1000000 AS bv,
         floor(current_total*1000000 + 0.5)/1000000 AS ct,
         floor(baseline_total*1000000 + 0.5)/1000000 AS bt,
         CASE WHEN dim_level = 1 THEN floor(current_total*1000000 + 0.5)/1000000
              ELSE COALESCE(parent_cur, 0) END AS p_cur,
         CASE WHEN dim_level = 1 THEN floor(baseline_total*1000000 + 0.5)/1000000
              ELSE COALESCE(parent_base, 0) END AS p_base
  FROM withparent
),
pct AS (
  SELECT *,
    CASE WHEN bv != 0 THEN floor((cv - bv)/bv*100*10000 + 0.5)/10000 END AS vcp,
    CASE WHEN ct != 0 AND bt != 0 THEN floor((cv/ct - bv/bt)*100*10000 + 0.5)/10000 END AS ccp,
    CASE WHEN bt != 0 AND ct != bt THEN floor((cv - bv)/abs(ct - bt)*100*10000 + 0.5)/10000 END AS ctoc,
    CASE WHEN (CASE WHEN p_base != 0 THEN p_cur/p_base END) IS NULL
           OR (CASE WHEN p_base != 0 THEN p_cur/p_base END) = 0
         THEN 1.0 ELSE p_cur/p_base END AS r,
    CASE WHEN abs((bv + cv)/(bt + ct)) < 0.00001 THEN 0.0 ELSE (bv + cv)/(bt + ct) END AS contribution
  FROM st
),
costed AS (
  SELECT *,
    CASE WHEN abs(ctoc) < 3 THEN 0.0 ELSE
      CASE
        WHEN bv != 0 AND cv != 0 THEN
          (cv - r*bv) * (CASE WHEN (cv/(r*bv) - 1.0)*contribution + 1.0 > 0
                              THEN ln((cv/(r*bv) - 1.0)*contribution + 1.0) END)
        WHEN bv = 0 THEN
          cv * (CASE WHEN (CASE WHEN r > 1 THEN 2 - r ELSE r END) > 0
                     THEN ln(CASE WHEN r > 1 THEN 2 - r ELSE r END) END)
        ELSE
          -bv * (CASE WHEN (CASE WHEN r < 1 THEN 2 - r ELSE r END) > 0
                      THEN ln(CASE WHEN r < 1 THEN 2 - r ELSE r END) END)
      END
    END AS cost
  FROM pct
)
SELECT ws AS window_start_epoch, dim_group AS dimension_group, dim_name, dim_value,
       CAST(dim_level AS BIGINT) AS dim_level,
       floor(cv*10000 + 0.5)/10000 AS current_value,
       floor(bv*10000 + 0.5)/10000 AS baseline_value,
       floor(cost*10000 + 0.5)/10000 AS cost,
       vcp AS value_change_pct, ccp AS contribution_change_pct,
       ctoc AS contribution_to_overall_change_pct,
       row_number() OVER (PARTITION BY ws, dim_group ORDER BY cost DESC, dim_name, dim_value) AS rank
FROM costed
WHERE cost > 0
QUALIFY rank <= {SUMMARY_SIZE}
"""


def oracle_sql() -> dict[str, str]:
    breakdown_sql = f"""
        SELECT ws AS window_start_epoch, dim_name, dim_value,
               floor(dim_sum*10000 + 0.5)/10000 AS dim_sum, dim_count
        FROM ({_BD})
    """
    return {
        "tumbling_window_sum": """
            SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS window_start_epoch,
                   floor(sum(value)*10000 + 0.5)/10000 AS current,
                   count(*) AS records_aggregated
            FROM events GROUP BY 1
        """,
        "sliding_window_sum": f"""
            SELECT ws AS window_start_epoch, floor(sum(value)*10000 + 0.5)/10000 AS current,
                   count(*) AS records_aggregated
            FROM ({_SLIDING_LF}) GROUP BY ws
        """,
        "offset_baseline": f"""
            SELECT ws AS window_start_epoch, window_idx,
                   floor(current*10000 + 0.5)/10000 AS current, floor(baseline*10000 + 0.5)/10000 AS baseline,
                   rbo AS records_in_baseline_offset
            FROM ({_WB})
        """,
        "offset_baseline_old": f"""
            SELECT ws AS window_start_epoch, window_idx,
                   floor(fv*10000 + 0.5)/10000 AS current_old,
                   floor(bl*10000 + 0.5)/10000 AS baseline,
                   rbo AS records_in_baseline_offset
            FROM (
              SELECT ws, row_number() OVER (ORDER BY ws) AS window_idx,
                     first_value(current) OVER fr AS fv,
                     CASE WHEN count(current) OVER fr > 1
                          THEN (sum(current) OVER fr - first_value(current) OVER fr)
                               / (count(current) OVER fr - 1) END AS bl,
                     CAST(count(current) OVER fr - 1 AS INT) AS rbo
              FROM ({_TOT})
              WINDOW fr AS (ORDER BY ws ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
            )
        """,
        "window_sum_simple": """
            SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS window_start_epoch,
                   floor(sum(value)*10000 + 0.5)/10000 AS current,
                   min(CAST(floor(epoch(ts)) AS BIGINT)) AS start_timestamp,
                   count(*) AS n_records
            FROM events GROUP BY 1
        """,
        "summary_report": f"""
            SELECT window_start_epoch,
                   count(*) AS n_contributors,
                   string_agg(dim_name || '=' || dim_value, ' > ' ORDER BY rank) AS report,
                   floor(sum(cost)*10000 + 0.5)/10000 AS total_cost,
                   floor(max(cost)*10000 + 0.5)/10000 AS max_cost
            FROM ({_SIMPLE_CONTRIBUTORS_SQL})
            GROUP BY 1
        """,
        "threshold_alerts": f"""
            WITH wb AS ({_WB}), stats AS (SELECT avg(current) AS avgc FROM ({_TOT}))
            SELECT ws AS window_start_epoch,
                   floor(current*10000 + 0.5)/10000 AS current,
                   floor(baseline*10000 + 0.5)/10000 AS baseline,
                   rbo AS records_in_baseline_offset
            FROM wb, stats WHERE current > 2*avgc OR current < 0.2*avgc
        """,
        "dimension_breakdown": breakdown_sql,
        "dimension_breakdown_salted": breakdown_sql,
        "simple_contributors": _SIMPLE_CONTRIBUTORS_SQL,
        "hierarchical_contributors": _HIER_CONTRIBUTORS_SQL,
        "hierarchical_contributors_cooc": _HIER_COOC_SQL,
        "session_windows": _SESSION_SQL,
        "zscore_alerts": _zscore_oracle_sql(),
        "zscore_alerts_by_key": _zscore_by_key_oracle_sql(),
        "macrobase_alerts": _macrobase_alerts_oracle_sql(),
        "macrobase_alerts_by_key": _macrobase_alerts_by_key_oracle_sql(),
        "macrobase_summaries_single": _macrobase_summaries_single_oracle_sql(),
        "macrobase_summaries_decayed": _macrobase_summaries_single_oracle_sql(
            decay_period=_MBS_DECAY_PERIOD
        ),
        "macrobase_summaries_multiattr": _macrobase_summaries_single_oracle_sql(
            multi_attr=True, min_support=1 / 32
        ),
        "macrobase_summaries_pairs": _macrobase_summaries_pairs_oracle_sql(),
        "hstrees_alerts": _hstrees_oracle_sql(),
        "hstrees_alerts_by_key": _hstrees_by_key_oracle_sql(),
        "exact_duplicates": _EXACT_DUP_SQL,
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        # near_duplicates (LSH candidates -> exact verify) must find
        # exactly the corpus-wide exact pair set
        "near_duplicates": _NGRAM_JACCARD_SQL,
        "near_dup_clusters": _NEAR_DUP_CLUSTERS_SQL,
        "near_dup_clusters_star": _NEAR_DUP_CLUSTERS_STAR_SQL,
        "incremental_near_dups": _INCREMENTAL_NEAR_DUPS_SQL,
        "minhash_lsh": _minhash_lsh_oracle_sql(),
        "simhash": _simhash_oracle_sql(),
        "language_id": _language_id_oracle_sql(),
        "fingerprints": _FINGERPRINTS_SQL,
        "text_stats": _TEXT_STATS_SQL,
        "repetition_ratios": _REPETITION_SQL,
        "quality_filter": _QUALITY_FILTER_SQL,
        "vocabulary": _VOCAB_SQL,
        "stratified_sample": _stratified_sample_oracle_sql(),
        "curation_pipeline": _curation_pipeline_oracle_sql(),
        "pii_redaction": _pii_redaction_oracle_sql(),
        "decontamination": _DECONTAMINATION_SQL,
        "url_host_stats": _URL_HOST_STATS_SQL,
        "unigram_surprisal": _UNIGRAM_SURPRISAL_SQL,
        "contamination_report": _CONTAMINATION_REPORT_SQL,
        "perplexity_sample": _perplexity_sample_oracle_sql(),
        "line_dedup": _LINE_DEDUP_SQL,
        "duplicate_spans": _DUPLICATE_SPANS_SQL,
        "dsir_select": _DSIR_SELECT_SQL,
        "dataset_card": _DATASET_CARD_SQL,
        "shard_manifest": _SHARD_MANIFEST_SQL,
        "top_words_per_lang": _TOP_WORDS_PER_LANG_SQL,
        "bpe_merges": _bpe_merges_oracle_sql(),
        "bpe_tokenize": _bpe_tokenize_oracle_sql(),
        "sequence_packing": _SEQUENCE_PACKING_SQL,
        "mixture_weights": _MIXTURE_WEIGHTS_SQL,
        "mixture_weights_k1": _MIXTURE_WEIGHTS_K1_SQL,
        "mixture_weights_k3": _MIXTURE_WEIGHTS_K3_SQL,
        "blocklist_filter": _BLOCKLIST_FILTER_SQL,
        "value_percentiles": _VALUE_PERCENTILES_SQL,
        "embedding_topk_brute": _EMB_BRUTE_SQL,
        # at the driver operating point the LSH candidate set covers
        # every true neighbor, so exact top-k SQL is the oracle
        "embedding_topk_lsh": _EMB_BRUTE_SQL,
        "embedding_topk_ivf": _EMB_BRUTE_SQL,
        # LSH blocking must find exactly the corpus-wide exact pair set
        "embedding_near_duplicates": _EMB_NEAR_DUP_SQL,
        "length_histogram": """
WITH keyed AS (
  SELECT lang AS key,
         length(bin(CAST(len(string_split(text, ' ')) AS BIGINT))) - 1 AS bucket,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
agg AS (
  SELECT key, CAST(bucket AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM keyed GROUP BY key, bucket
)
SELECT key, bucket,
       CAST(1::BIGINT << bucket AS BIGINT) AS min_tokens,
       n_docs, n_tokens,
       CAST(SUM(n_tokens) OVER (PARTITION BY key ORDER BY bucket) AS DOUBLE)
         / CAST(SUM(n_tokens) OVER (PARTITION BY key) AS DOUBLE)
         AS cum_token_share
FROM agg
""",
        "bigram_surprisal": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
),
c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
),
c1 AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
),
sc AS (
  SELECT bg.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM((length(bin(c1.c1)) - 1) - (length(bin(c2.c2)) - 1))
              AS BIGINT) AS surprisal_bits
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY bg.doc_id
)
SELECT d.doc_id,
       COALESCE(sc.n_bigrams, 0) AS n_bigrams,
       COALESCE(sc.surprisal_bits, 0) AS surprisal_bits
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
""",
        "linear_quality": """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
ww AS (
  SELECT doc_id,
         CAST('0x' || substr(sha256(word), 1, 15) AS BIGINT) % 2001 - 1000 AS w
  FROM words
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(w) AS BIGINT) AS logit_sum
  FROM ww GROUP BY doc_id
)
SELECT doc_id, n_words, logit_sum,
       CAST(logit_sum AS DOUBLE) / CAST(n_words AS DOUBLE) AS logit,
       logit_sum >= 0 AS keep
FROM agg
""",
        # the COMBINED full-chain gate (r6 VERDICT #2): pairs oracle
        # with dyadic decay weights, refresh-point interesting-item
        # predicate, and floor-truncated inlier pair counts
        "macrobase_summaries": _macrobase_summaries_pairs_oracle_sql(
            decay_period=_MBS_DECAY_PERIOD
        ),
    }
