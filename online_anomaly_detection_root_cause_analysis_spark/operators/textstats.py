"""Text-analysis operators over the documents table: quality scoring,
token counting, language-ID, fingerprinting — the per-document feature
stage of a training-data pipeline. All JVM column math (codegen, no
Python in the plan) — see functions/text.py. Sole exception:
`streaming_decontaminate`, whose stream-side set-membership gate is a
vectorized Arrow pandas UDF by design (documented there)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    bpe_ish_piece_count_col,
    content_fingerprint_col,
    language_id_col,
    quality_score_cols,
)


def document_text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    q = quality_score_cols(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        q["n_chars"].cast("long").alias("n_chars"),
        q["n_tokens"].cast("long").alias("n_tokens"),
        bpe_ish_piece_count_col(F.col(text_col)).cast("long").alias("n_pieces"),
        (F.floor(q["punct_ratio"] * 1e6 + 0.5) / 1e6).alias("punct_ratio"),
        (F.floor(q["stopword_ratio"] * 1e6 + 0.5) / 1e6).alias("stopword_ratio"),
        (F.floor(q["mean_token_len"] * 1e6 + 0.5) / 1e6).alias("mean_token_len"),
        (F.floor(q["quality_score"] * 1e6 + 0.5) / 1e6).alias("quality_score"),
    )


def document_language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        language_id_col(F.col(text_col)).alias("lang_pred"),
    )


def document_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        content_fingerprint_col(F.col(text_col)).alias("fingerprint"),
        F.sha2(F.col(text_col), 256).alias("sha256"),
    )


def document_repetition_ratios(
    docs: DataFrame,
    ns: tuple[int, ...] = (2, 3),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document duplicate n-gram fractions — the repetition
    signals a webtext training pipeline filters on (Gopher §A1.1 /
    RefinedWeb "repetition removal"): for each n, the fraction of
    n-gram OCCURRENCES that belong to an n-gram appearing more than
    once in the document, dup{n}_frac = (total_n - singletons_n) /
    total_n.

    Spark-first: n-gram construction is pure JVM higher-order
    functions (transform over sequence + slice — no Python), all
    configured n ride ONE explode and ONE shuffle keyed
    (doc_id, n, gram) with map-side partial counts; the per-document
    rollup is a second tiny aggregation on doc_id. At 100 TB the
    shuffle cardinality is bounded by corpus token count and has no
    hot keys beyond document length."""
    words = F.split(F.col(text_col), " ")

    def _gram_fn(n):
        # NOTE: must be a ONE-arg lambda — F.transform dispatches on
        # the lambda's arity, so `lambda i, n=n:` would be read as the
        # (element, index) binary form and bind n to the array index
        return lambda i: F.concat_ws(" ", F.slice(words, i, n))

    per_n = []
    for n in ns:
        g = F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (n - 1)), _gram_fn(n)
            ),
        ).otherwise(F.array().cast("array<string>"))
        per_n.append(F.struct(F.lit(n).alias("n"), g.alias("grams")))
    exploded = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(F.array(*per_n)).alias("s"))
        .select("doc_id", F.col("s.n").alias("n"), F.explode("s.grams").alias("gram"))
    )
    counts = exploded.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
    fracs = counts.groupBy("doc_id", "n").agg(
        (
            (F.sum("c") - F.sum(F.when(F.col("c") == 1, 1).otherwise(0)))
            / F.sum("c")
        ).alias("frac")
    )
    wide = fracs.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("frac"))).alias(f"dup{n}_frac")
            for n in ns
        ]
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.size(words).cast("long").alias("word_count")
    )
    out = base.join(wide, "doc_id", "left")
    return out.select(
        "doc_id",
        "word_count",
        *[
            (F.floor(F.col(f"dup{n}_frac") * 1e6 + 0.5) / 1e6).alias(f"dup{n}_frac")
            for n in ns
        ],
    )


def gopher_rule_cols(
    t,
    min_words: int = 40,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_stopwords: int = 2,
    stopword_probe: int = 5,
) -> dict:
    """The Gopher rule EXPRESSIONS over a text Column — shared by
    gopher_quality_filter (the per-doc report operator) and by
    pipeline compositions that want to .filter(passes) INLINE instead
    of semi-joining the operator's output back against its own input
    (which doubles the upstream plan subtree per stage — the analyzer
    cost that made the lazily-composed curation pipeline slower than
    its own data)."""
    from ..functions.text import STOPWORDS

    words = F.split(t, " ")
    wc = F.size(words)
    mean_len = (
        F.aggregate(words, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        .cast("double")
        / wc
    )
    n_stop = F.size(
        F.array_intersect(
            words, F.array(*[F.lit(s) for s in STOPWORDS[:stopword_probe]])
        )
    )
    rule_wc = (wc >= min_words) & (wc <= max_words)
    rule_len = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    rule_stop = n_stop >= min_stopwords
    return {
        "word_count": wc,
        "mean_word_len": mean_len,
        "n_stopwords": n_stop,
        "rule_word_count": rule_wc,
        "rule_mean_len": rule_len,
        "rule_stopwords": rule_stop,
        "passes": rule_wc & rule_len & rule_stop,
    }


def gopher_quality_filter(
    docs: DataFrame,
    min_words: int = 40,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_stopwords: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopword_probe: int = 5,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1),
    each exposed as its own boolean column plus the composite `passes`
    — the canonical pre-training quality gate. Entirely map-side JVM
    column math (split / aggregate / array_intersect): NO shuffle, so
    at 100 TB this is a pure scan-rate-bound stage.

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_len, max_mean_len]; at least min_stopwords DISTINCT
    probe stopwords present (the Gopher "stop word" heuristic against
    keyword-stuffing pages). NOTE: the stopword rule checks only the
    FIRST `stopword_probe` entries of STOPWORDS (Gopher itself probes
    a small fixed list — "the be to of and that have with"), so a
    document whose only stopwords fall outside that prefix fails
    rule_stopwords by design; pass `stopword_probe=len(STOPWORDS)` for
    the full-list variant. The driver oracle pins the default (5)."""
    r = gopher_rule_cols(
        F.col(text_col),
        min_words=min_words,
        max_words=max_words,
        min_mean_len=min_mean_len,
        max_mean_len=max_mean_len,
        min_stopwords=min_stopwords,
        stopword_probe=stopword_probe,
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        r["word_count"].cast("long").alias("word_count"),
        (F.floor(r["mean_word_len"] * 1e6 + 0.5) / 1e6).alias("mean_word_len"),
        r["n_stopwords"].cast("long").alias("n_stopwords"),
        r["rule_word_count"].alias("rule_word_count"),
        r["rule_mean_len"].alias("rule_mean_len"),
        r["rule_stopwords"].alias("rule_stopwords"),
        r["passes"].alias("passes"),
    )


def sample_keep_cols(
    rates: dict[str, float],
    default_rate: float = 0.0,
    lang_col: str = "lang",
    id_col: str = "doc_id",
):
    """(sample_bucket, keep_below) EXPRESSIONS for the deterministic
    stratified sample — shared by deterministic_stratified_sample and
    by inline pipeline stages (keep iff bucket < keep_below)."""
    from ..functions.text import sha60_col

    key = F.concat(F.lit("doc-"), F.col(id_col).cast("string"))
    bucket = F.pmod(sha60_col(key), F.lit(10000)).cast("long")
    rate = F.lit(float(default_rate))
    for lang, r in sorted(rates.items()):
        rate = F.when(F.col(lang_col) == lang, F.lit(float(r))).otherwise(rate)
    return bucket, F.floor(rate * 10000).cast("long")


def deterministic_stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reproducible per-language sampling — the "data mixing" stage of
    a pre-training pipeline: keep a document iff
    sha60("doc-<id>") mod 10000 < rate[lang] * 10000. Hash-based (not
    rand()) so the SAME subset comes out on every run, every retry,
    and every engine — the property that makes a 100-TB mixing job
    idempotent under task retries and lets the DuckDB oracle recompute
    membership exactly. Pure map-side column math: no shuffle, fully
    partition-parallel, and the decision depends only on the row."""
    bucket, keep_below = sample_keep_cols(
        rates, default_rate=default_rate, lang_col=lang_col, id_col=id_col
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(lang_col).alias("lang"),
            bucket.alias("sample_bucket"),
            keep_below.alias("keep_below"),
        )
        .filter(F.col("sample_bucket") < F.col("keep_below"))
    )


def _word_gram_rows(frame: DataFrame, tcol: str, n: int, keep) -> DataFrame:
    """Exploded (keep..., gram) word n-gram rows, map-side only. The
    `gram` column is a 64-bit xxhash64 of the n-token slice, NOT the
    gram string: both probe consumers (`decontaminate`,
    `contamination_report`) only ever equality-join and count grams —
    the text never reaches their output — so the identity can be a
    hash, exactly the trade `banded_signatures` already makes for LSH
    band keys (equal token slices hash equal, unequal ones collide
    with ~2^-64 probability; tokens are split on the same separator
    both sides, so slice equality == gram-string equality). Hashing
    the slice skips the per-gram string build (slice+concat_ws
    allocated ~50 B per gram in interpreted HOF context) and shrinks
    the broadcast build side to longs: measured 5.5 -> 4.2 s warm for
    the sf1.0-scale decontaminate pass, identical per-doc counts.

    The token array is PRE-PROJECTED into its own column before the
    transform lambda (r9, guide §1.2 "per-task work"): higher-order
    functions evaluate interpreted, and with `split(<text expr>)`
    inlined in the lambda the split — and the whole text expression
    under it — re-evaluates once per gram element, O(len^2) per
    document when the text column is itself a computed expression
    (exactly what the curation pipeline feeds in). A separate select
    makes the array a plain attribute the optimizer keeps projected
    (multi-referenced non-cheap expressions are not collapsed back):
    measured 17 s -> 5 s on the 1.7M-gram sf1.0 curation corpus,
    identical rows. Still zero shuffle — the no-corpus-shuffle
    contract of the decontamination probe is unchanged."""
    pre = frame.select(*keep, F.split(F.col(tcol), " ").alias("_w"))
    wa = F.col("_w")
    g = F.when(
        F.size(wa) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(wa) - (n - 1)),
            lambda i: F.xxhash64(F.slice(wa, i, n)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    out_cols = [c for c in pre.columns if c != "_w"]
    return pre.select(*out_cols, F.explode(g).alias("gram"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination — the eval-set-overlap removal stage
    of a pre-training pipeline (GPT-3 §C / PaLM / Llama all ship one):
    a training document is CONTAMINATED iff it shares any word
    n-gram (default 13-gram in the papers; 8 here to suit fixture doc
    lengths) with the held-out benchmark corpus.

    Spark-first shape for a 100-TB corpus vs a tiny (MBs) benchmark
    set: the benchmark side is n-grammed and DISTINCT-ed — bounded by
    benchmark token count, so Spark broadcasts it (explicit
    F.broadcast) and the corpus-side probe is a map-side broadcast
    hash join on the exploded corpus n-grams: NO corpus shuffle for
    the match, one doc_id shuffle for the per-document rollup, and a
    final broadcast-left join back to the full corpus so clean
    documents surface with zero counts. N-gram construction is pure
    JVM higher-order functions (transform over sequence + slice), the
    same codegen shape as document_repetition_ratios.

    Returns one row per corpus document: occurrence and distinct
    matched-gram counts plus the `contaminated` verdict."""
    bench_grams = _word_gram_rows(benchmark, bench_text_col, n, []).distinct()
    corpus_grams = _word_gram_rows(
        docs, text_col, n, [F.col(id_col).alias("doc_id")]
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.count_distinct("gram").alias("n_distinct_hits"),
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce(F.col("n_distinct_hits"), F.lit(0))
        .cast("long")
        .alias("n_distinct_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "doc_id",
) -> DataFrame:
    """The INVERSE of `decontaminate`: per BENCHMARK document, how
    compromised is it — how many distinct corpus documents (excluding
    itself) share at least one word n-gram with it, and how many of
    its gram types leak anywhere. This is the report an eval owner
    reads ("which test items does the training set already contain")
    while `decontaminate` is the filter the data pipeline runs.

    Same 100-TB shape as decontaminate with the attribution kept: the
    benchmark gram table is eval-set-bounded and broadcast; the corpus
    probe is a map-side broadcast join on exploded grams (no corpus
    shuffle for the match); the rollup shuffles only the HIT rows on
    the benchmark doc id (hits are a vanishing fraction of corpus
    grams). Emits every benchmark doc, zero-filled."""
    bench_grams = _word_gram_rows(
        benchmark, bench_text_col, n, [F.col(bench_id_col).alias("bench_id")]
    ).distinct()
    corpus_grams = _word_gram_rows(
        docs, text_col, n, [F.col(id_col).alias("corpus_id")]
    ).distinct()
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .filter(F.col("corpus_id") != F.col("bench_id"))
        .groupBy("bench_id")
        .agg(
            F.count_distinct("corpus_id").alias("n_contaminated_docs"),
            F.count_distinct("gram").alias("n_leaked_grams"),
        )
    )
    totals = bench_grams.groupBy("bench_id").agg(
        F.count("*").alias("n_grams")
    )
    return totals.join(hits, "bench_id", "left").select(
        F.col("bench_id").alias("bench_doc_id"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce(F.col("n_contaminated_docs"), F.lit(0))
        .cast("long")
        .alias("n_contaminated_docs"),
        F.coalesce(F.col("n_leaked_grams"), F.lit(0))
        .cast("long")
        .alias("n_leaked_grams"),
    )


def streaming_decontaminate(
    records: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    bench_text_col: str = "text",
    max_bench_grams: int = 5_000_000,
) -> DataFrame:
    """STREAM-side eval-overlap gate — the batch `decontaminate` run
    inside the ingest stream: documents sharing any word n-gram with
    the held-out benchmark set are dropped before they reach
    dedup/windowing.

    The batch operator explodes the corpus and joins; a stream can't
    explode to gram level and then recover a doc-level verdict without
    a stateful aggregation (state + latency for what is logically a
    row-local check). Instead the benchmark gram set — bounded by
    EVAL-SET token count (MBs even when the corpus is 100 TB) — is
    collected ONCE before the stream starts, shipped via
    sc.broadcast, and the per-document check runs as ONE vectorized
    Arrow pandas UDF doing set-membership with per-row early exit.
    Stateless and map-side: no shuffle, no state store, composes with
    watermark/dedup/window operators downstream, and works identically
    on batch frames (the test twin). `max_bench_grams` fails loudly if
    someone points it at a benchmark too big to broadcast."""
    from pyspark.sql.pandas.functions import pandas_udf

    words = F.split(F.col(bench_text_col), " ")
    gram_col = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bench_grams = benchmark.select(F.explode(gram_col).alias("gram")).distinct()
    # Size-check BEFORE collecting: limit(k+1).count() touches at most
    # k+1 rows distributed-side, so an oversized benchmark fails loudly
    # without ever materializing the full gram set on the driver.
    probe = bench_grams.limit(max_bench_grams + 1).count()
    if probe > max_bench_grams:
        raise ValueError(
            f"benchmark has over {max_bench_grams} distinct {n}-grams — "
            "over the broadcast bound; decontaminate in batch instead"
        )
    bench_rows = bench_grams.collect()
    gram_set = {r["gram"] for r in bench_rows}
    bc = records.sparkSession.sparkContext.broadcast(gram_set)

    @pandas_udf("boolean")
    def _clean(texts: pd.Series) -> pd.Series:
        gs = bc.value

        def check(t):
            w = t.split(" ")
            if len(w) < n:
                return True
            return not any(
                " ".join(w[i : i + n]) in gs for i in range(len(w) - n + 1)
            )

        return texts.apply(check)

    return records.filter(_clean(F.col(text_col)))


def url_host_stats(
    pages: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL canonicalization + per-host rollup — the url-host dimension
    of the north_star's RCA ranking and the host-level accounting every
    Common-Crawl-style pipeline needs (robots/blocklists/host quotas).

    Canonicalization (all JVM regexp/string ops, map-side): lowercase,
    strip scheme, strip a leading `www.`, split host from path, drop
    the query string (tracking params). Registered domain = last two
    host labels. The rollup is ONE shuffle keyed by host; host-key
    skew at 100 TB (a few giant hosts own most pages) needs no salting:
    its aggregates are all algebraic, so map-side partial aggregation
    absorbs the skew before the shuffle (BENCH/skew_salted.json
    measured the salted plan losing to the plain one). Patterns are
    backref/lookaround-free so the DuckDB oracle replays them
    byte-for-byte."""
    lower = F.lower(F.col(url_col))
    no_scheme = F.regexp_replace(lower, r"^[a-z][a-z0-9+.-]*://", "")
    host_raw = F.regexp_extract(no_scheme, r"^([^/?#]+)", 1)
    host = F.regexp_replace(host_raw, r"^www\.", "")
    path = F.regexp_extract(no_scheme, r"^[^/?#]+([^?#]*)", 1)
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    canon = pages.select(
        F.col(id_col).alias("doc_id"),
        host.alias("host"),
        domain.alias("domain"),
        path.alias("path"),
    )
    return canon.groupBy("host", "domain").agg(
        F.count("*").alias("n_pages"),
        F.count_distinct("path").alias("n_distinct_paths"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def line_dedup(
    docs: DataFrame,
    max_df: int = 3,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (line-level) deduplication — RefinedWeb/CCNet
    boilerplate removal: a LINE occurring in more than `max_df`
    distinct documents (cookie banners, nav menus, "subscribe" calls)
    is deleted from every document, and each document's surviving
    lines are reassembled IN ORDER. Document-level dedup can't catch
    this: the documents differ, the boilerplate repeats.

    100-TB shape, all JVM: posexplode the lines (position carried for
    order-preserving reassembly); document-frequency = one
    count_distinct shuffle on the line key (map-side partial);
    the filter join is line-key co-partitioned with that shuffle; the
    reassembly is one doc_id shuffle whose aggregate sorts the
    carried (pos, line) structs — no window function, no Python.
    Boilerplate lines are the head of a Zipf curve — exactly the
    AQE-skew-join case, and the df table could be df-capped like the
    dedup shingle paths if a single line dominates."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    line_df = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("line_df")
    )
    kept = (
        lines.join(line_df, "line")
        .filter(F.col("line_df") <= max_df)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
            ).alias("clean_text"),
        )
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.size(F.split(F.col(text_col), sep))).cast("long").alias("n_lines"),
    )
    return base.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.sha2(F.coalesce(F.col("clean_text"), F.lit("")), 256).alias("clean_sha"),
        F.length(F.coalesce(F.col("clean_text"), F.lit("")))
        .cast("long")
        .alias("clean_len"),
    )


def line_dedup_text(
    docs: DataFrame,
    max_df: int = 3,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """line_dedup variant that RETURNS the cleaned text — the shape a
    pipeline stage needs (line_dedup itself emits audit sha/len for
    the hash gate). Same plan: posexplode -> one count_distinct
    shuffle on the line key -> order-preserving array_sort reassembly;
    a document whose every line was boilerplate survives with empty
    clean_text (the downstream dedup stage collapses those)."""
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    line_df = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("line_df")
    )
    kept = (
        lines.join(line_df, "line")
        .filter(F.col("line_df") <= max_df)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("clean_text"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def blocklist_filter(
    pages: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Host blocklist gate — the UT1/robots-style domain exclusion
    every crawl pipeline runs first: pages whose canonical host (same
    canonicalization as url_host_stats) appears in the blocklist table
    (column `host`) are dropped.

    100-TB shape: the blocklist is a small dimension (at most millions
    of hosts) against a page table of trillions — the textbook
    broadcast LEFT ANTI join: blocklist broadcast to every executor,
    the filter is map-side, NO shuffle of the page table at all
    (plan-asserted). Returns surviving (doc_id, host)."""
    lower = F.lower(F.col(url_col))
    no_scheme = F.regexp_replace(lower, r"^[a-z][a-z0-9+.-]*://", "")
    host = F.regexp_replace(
        F.regexp_extract(no_scheme, r"^([^/?#]+)", 1), r"^www\.", ""
    )
    canon = pages.select(F.col(id_col).alias("doc_id"), host.alias("host"))
    return canon.join(F.broadcast(blocklist.select("host")), "host", "left_anti")


# conservative PII patterns chosen for identical semantics under both
# Java regex (Spark) and RE2 (DuckDB): character classes + bounded
# quantifiers only — no backrefs, no lookaround
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
# \b keeps longer digit runs (17+) from yielding a match; RE2-safe
# (no lookaround), identical ASCII \b semantics in Java regex & RE2
IPV4_RE = (
    r"\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\b"
)
CARD_RE = r"\b[0-9]{16}\b"


def _luhn_valid(c):
    """Luhn checksum over a 16-digit string column — pure JVM column
    math (aggregate over a position sequence; doubling every second
    digit from the right, i.e. odd 1-based left positions for length
    16), mirrored verbatim in the DuckDB oracle. No UDF."""
    def d(i):
        return F.substr(c, i, F.lit(1)).cast("int")

    s = F.aggregate(
        F.sequence(F.lit(1), F.lit(16)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 1, F.when(d(i) * 2 > 9, d(i) * 2 - 9).otherwise(d(i) * 2)
        ).otherwise(d(i)),
    )
    return s % 10 == 0


def redacted_text_col(t):
    """The redaction EXPRESSION (email -> phone -> IPv4 -> card
    chained regexp_replace) over a text Column — shared by redact_pii
    and by inline pipeline stages (same rationale as
    gopher_rule_cols: a map-side stage should be a projection, not a
    self-join)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
            ),
            IPV4_RE,
            "<IP>",
        ),
        CARD_RE,
        "<CARD>",
    )


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing — the redaction stage of a webtext pipeline:
    emails, phone-shaped numbers, IPv4 addresses, and 16-digit
    card-shaped numbers replaced with typed placeholders, with
    per-document match counts for audit. Pure JVM regexp column ops
    (regexp_extract_all + regexp_replace) plus a no-UDF Luhn checksum
    (aggregate over digit positions), map-side, zero shuffle; the
    patterns are deliberately backref/lookaround-free so engines with
    RE2-class matchers (and the DuckDB oracle) agree byte-for-byte.

    Card policy: redaction is CONSERVATIVE — every card-SHAPED number
    is replaced (a number that fails Luhn is still a 16-digit string
    you don't want shipped) — while the audit columns split the count
    into shape matches (n_cards) and Luhn-valid matches
    (n_cards_valid), which is what a compliance report needs. Emits
    the redacted text's sha256 + length rather than the text itself
    (the gate checks the transformation, the pipeline would write the
    redacted column)."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0)))
    cards = F.regexp_extract_all(t, F.lit(CARD_RE), F.lit(0))
    n_cards = F.size(cards)
    n_cards_valid = F.size(F.filter(cards, _luhn_valid))
    red = redacted_text_col(t)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
        n_cards.cast("long").alias("n_cards"),
        n_cards_valid.cast("long").alias("n_cards_valid"),
        F.sha2(red, 256).alias("redacted_sha"),
        F.length(red).cast("long").alias("redacted_len"),
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-duplication audit — the suffix-array dedup
    family (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22): for every document, find the tokens
    covered by some k-token window that occurs >= `min_count` times
    ANYWHERE in the corpus (including within the same document), and
    merge those windows into maximal non-overlapping spans. Document-
    and line-level dedup both miss this case: a quote or template
    embedded mid-document repeats verbatim while every containing
    line and document is unique.

    Per doc: n_tokens, n_spans (maximal duplicated spans), dup_tokens
    (tokens covered by the span union — exact interval union, no
    double counting of overlapping windows), max_span, dup_ratio.

    Plan (100-TB shape): one posexplode of k-gram windows; ONE
    corpus-proportional shuffle on the gram key for the occurrence
    count (partial agg map-side); the >=min_count filter joins
    co-partitioned with that shuffle; then one doc_id shuffle where
    lag + running-sum window functions (same partition+order, single
    exchange) do gaps-and-islands interval merging: a window at pos p
    extends the current span iff p - prev_pos <= k, else opens a new
    one — which is exactly union-of-[p, p+k-1]-intervals because
    consecutive kept positions <= k apart leave no gap. At 100 TB the
    gram key would be xxhash64(gram) (8 bytes shuffled instead of the
    string — collision odds ~n^2/2^64 acceptable for an audit
    metric) and the count table df-capped like the shingle paths; the
    plain-string key here keeps the DuckDB oracle byte-exact."""
    from pyspark.sql import Window

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    wins = (
        base.filter(F.col("n_tokens") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - k + 1),
                    lambda p: F.concat_ws(" ", F.slice(F.col("toks"), p, k)),
                )
            ).alias("pos0", "gram"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    )
    counts = wins.groupBy("gram").agg(F.count("*").alias("cnt"))
    dup = (
        wins.join(counts, "gram")
        .filter(F.col("cnt") >= min_count)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dup.withColumn(
        "new_island",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("island", F.sum("new_island").over(w))
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + k - 1).alias("e")
    )
    agg = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + 1).cast("long").alias("max_span"),
    )
    return base.select("doc_id", "n_tokens").join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce(F.col("max_span"), F.lit(0)).cast("long").alias("max_span"),
        (
            F.floor(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.col("n_tokens")
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("dup_ratio"),
    )


def length_histogram(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str | None = "lang",
) -> DataFrame:
    """Context-length planning histogram — the "how much of the corpus
    fits a 2k/4k/8k context window" rollup every pretraining data
    plan starts from: per (key, power-of-two length bucket) doc and
    token counts plus the running cumulative share of tokens in
    buckets <= this one. Bucket = floor(log2(n_tokens)), computed with
    the repo's integer-bits identity (length(bin(x)) - 1) — exact on
    both engines, no floats except the final share division (single
    IEEE division of exact BIGINTs).

    Scale shape: one partial-agg groupBy on (key, bucket) — bucket
    cardinality is ~30 per key, so the running-total window runs over
    a keys x 30 row table, never corpus rows."""
    from pyspark.sql import Window as W

    toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    keyed = docs.select(
        (F.col(key_col) if key_col else F.lit("all")).alias("key"),
        (F.length(F.bin(toks)) - 1).cast("long").alias("bucket"),
        toks.alias("n_tokens"),
    )
    agg = keyed.groupBy("key", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    w = W.partitionBy("key").orderBy("bucket")
    wall = W.partitionBy("key")
    return agg.select(
        "key",
        "bucket",
        F.expr("shiftleft(1L, cast(bucket as int))").alias("min_tokens"),
        "n_docs",
        "n_tokens",
        (
            F.sum("n_tokens").over(w).cast("double")
            / F.sum("n_tokens").over(wall).cast("double")
        ).alias("cum_token_share"),
    )


def dataset_card(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """Per-(lang, source) dataset-card statistics — the summary table
    a training-data release publishes (HuggingFace dataset cards,
    Dolma/RedPajama reports): document and token counts, char-length
    distribution (mean + exact p50/p95), and how many documents are
    byte-exact duplicates of another document in the SAME slice.

    100-TB shape: two shuffles, both with map-side partials. (1) the
    card rollup groups on the (lang, source) slice key — thousands of
    groups, tiny reduce side; exact F.percentile buffers each slice's
    lengths on its reducer, the honest profiling cost (the production
    variant at petabyte slices is percentile_approx / t-digest, which
    loses the oracle).
    (2) the dup count groups on (lang, source, sha256(text)) — corpus-
    proportional key space, partial agg collapses exact copies
    map-side — then folds to the slice key (re-shuffle of one row per
    distinct text). Both results join on the slice key (broadcast —
    card tables are small by construction)."""
    base = docs.select(
        F.col(lang_col).alias("lang"),
        F.col(source_col).alias("source"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long").alias("n_toks"),
        F.sha2(F.col(text_col), 256).alias("sha"),
    )
    card = base.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.floor(F.avg("n_toks") * 10000.0 + 0.5) / 10000.0).alias("mean_doc_tokens"),
        (F.floor(F.percentile(F.col("n_chars"), F.lit(0.5)) * 1e6 + 0.5) / 1e6).alias("p50_chars"),
        (F.floor(F.percentile(F.col("n_chars"), F.lit(0.95)) * 1e6 + 0.5) / 1e6).alias("p95_chars"),
    )
    dup = (
        base.groupBy("lang", "source", "sha")
        .agg(F.count("*").alias("c"))
        .groupBy("lang", "source")
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_exact_dup_docs")
        )
    )
    return card.join(dup, ["lang", "source"]).select(
        "lang", "source", "n_docs", "n_tokens", "total_chars",
        "mean_doc_tokens", "p50_chars", "p95_chars", "n_exact_dup_docs",
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-export shard assignment + manifest — the last stage of
    a pre-training pipeline: every document gets a deterministic shard
    (hash, not round-robin: stable under retries and re-runs, no
    coordination) and a deterministic within-shard order key (the
    "global shuffle before training", as a sortable column instead of
    an actual shuffle pass), and each shard emits a manifest row the
    training job validates against after download.

    Manifest: n_docs, n_tokens, total_chars, the shard's min/max
    order keys (resume bookmarks), and ids_xor — an order-insensitive
    XOR checksum of the member sha60 ids (commutative, overflow-free,
    catches any lost/duplicated document without sorting anything).

    100-TB shape: pure map-side column math followed by ONE groupBy
    on the shard id — n_shards reduce keys, partial aggs collapse
    map-side, no skew (sha60 is uniform). The actual byte export
    would `repartitionByRange(shard, order_key).write` using these
    same columns; the manifest is what makes that export auditable.

    STREAMING: works unchanged on a streaming DataFrame (use
    outputMode 'complete'/'update') — every aggregate here (count,
    sum, min, max, bit_xor) is incrementally mergeable and the state
    store holds exactly n_shards rows, so a continuously-exporting
    pipeline maintains a LIVE manifest with no watermark required;
    streaming == batch parity is test-gated
    (tests/test_streaming.py::test_streaming_shard_manifest)."""
    from ..functions.text import sha60_col

    sid = F.col(id_col).cast("string")
    shard = F.pmod(
        sha60_col(F.concat(F.lit("shard-"), sid)), F.lit(n_shards)
    ).cast("long")
    okey = sha60_col(F.concat(F.lit("order-"), sid))
    doc_sha = sha60_col(F.concat(F.lit("doc-"), sid))
    base = docs.select(
        shard.alias("shard"),
        okey.alias("okey"),
        doc_sha.alias("doc_sha"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long").alias("n_toks"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    )
    return base.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("okey").cast("long").alias("min_order_key"),
        F.max("okey").cast("long").alias("max_order_key"),
        F.bit_xor("doc_sha").cast("long").alias("ids_xor"),
    )
