"""Deduplication operators for web-scale training-data pipelines.

Not in the reference (its feed is TPC-DS rows); these are the
operations a 10^12-document crawl pipeline needs before the AD+RCA
engine sees the data. All hot paths are JVM-side, codegen-friendly
row expressions: posexplode + xxhash64 + wide min/sum aggregations,
Hamming via `bit_count(a ^ b)` — no Python per row, and no array
higher-order functions in hot loops (those evaluate interpreted per
element; the exploded row forms measured up to ~100x faster here).

Scale notes:
- exact: one shuffle on a 64-bit content hash; dup groups are tiny.
- minhash LSH: token hashes explode to rows; shingle hash = arithmetic
  combination of n consecutive token hashes (lead() windows); one
  doc_id shuffle feeds both the window and the num_hashes
  min-aggregations; banding candidates are capped by `max_group`.
- simhash: token-hash rows -> 64 codegen'd vote sums per doc,
  candidate pairs via 4x16-bit band blocking.
- n-gram jaccard: shingle-inverted-index self-join; the shuffle key is
  the shingle, pruned to shingles with document frequency <= df_cap to
  bound hot-key fan-out (explicit skew handling). Corpus-wide this is
  the small-scale exactness oracle only.
- near_duplicates: THE scale path — minhash-LSH candidates, then
  exact Jaccard verification of candidates only; at 10^12 docs the
  signature/shingle tables are materialized once and candidates
  broadcast against them.
- token hashing is pluggable: xxhash64 (fast default) or sha60
  (sha256-prefix, bit-identical to a plain SQL expression, which is
  how the driver's DuckDB oracle recomputes minhash/simhash outputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import sha60_col

# Mersenne-31 modulus: universal-hash products (h*a) stay < 2^62, in
# int64 range (ANSI mode rejects the overflowing 61-bit variant)
MERSENNE_P = (1 << 31) - 1


def _token_hash_col(tok, method: str):
    """64-bit token hash. 'xxhash64' is the fast production default;
    'sha' (sha60_col) is bit-identical to CAST('0x'||substr(sha256(t),
    1,15) AS BIGINT) in DuckDB, which lets the driver's SQL oracle
    recompute minhash/simhash outputs exactly."""
    if method == "xxhash64":
        return F.xxhash64(tok)
    if method == "sha":
        return sha60_col(tok)
    raise ValueError(f"unknown token hash {method!r}")


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash group-by: (doc_id, dup_group_size,
    group_min_id) for every doc belonging to a duplicate group."""
    h = docs.select(
        F.col(id_col).alias("doc_id"), F.sha2(F.col(text_col), 256).alias("_h")
    )
    groups = h.groupBy("_h").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("group_min_id")
    )
    return (
        h.join(groups, "_h")
        .filter(F.col("group_size") > 1)
        .select("doc_id", "group_size", "group_min_id")
    )


def _exploded_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, _pos, _t) token rows, explicitly hash-partitioned by
    doc_id. Shared verbatim by `doc_shingles` and
    `minhash_signatures` so the two subtrees canonicalize to the SAME
    exchange: a query composing both (near_duplicates' LSH candidates
    + exact-Jaccard verify) pays the corpus scan, tokenizer and
    doc_id shuffle once, with AQE's ReusedExchange feeding the second
    consumer from the first's shuffle files. The repartition is not a
    tuning knob: it is the exchange the downstream windows would have
    inserted anyway (AQE may still coalesce its partitions), hoisted
    out of the window so both branches name the identical subtree."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_pos", "_t"),
    ).repartition("doc_id")


def doc_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (doc_id, shingle) rows, where `shingle` is the 64-bit
    xxhash64 of the n-token tuple — NOT the gram string. Every
    consumer (ngram_jaccard_pairs, verify_candidate_pairs,
    incremental_near_dups) only equality-joins, deduplicates and
    counts shingles; shingle text never reaches any output, so the
    identity can be a hash — the same ~2^-64-collision trade
    `banded_signatures` makes for band keys and `_word_gram_rows` for
    decontamination grams (r9). Tokens are whitespace-split, so the
    old concat_ws(" ") string was injective over the token tuple and
    tuple-hash equality == gram-string equality. The payoff is
    everywhere the shingle travels: no per-shingle string build, the
    document-frequency shuffle moves 8-byte longs instead of ~20-char
    strings, dedup/rollup aggregate on longs, and the verify stage's
    array_intersect compares longs.

    Shingles via posexplode + lead() windows (codegen) rather than
    the interpreted transform/slice array form; dropDuplicates
    reproduces the distinct-shingle set semantics. The doc_id shuffle
    is an EXPLICIT repartition of the bare (doc_id, _pos, _t) token
    rows — canonically identical to `minhash_signatures`' (r9), so
    when one query consumes both (the near_duplicates /
    near_dup_clusters LSH+verify composition) AQE's exchange reuse
    runs the scan+split+explode subtree and its shuffle ONCE instead
    of twice; the window then needs no further exchange
    (hashpartitioning(doc_id) satisfies its distribution)."""
    from pyspark.sql import Window as W

    toks = _exploded_tokens(docs, text_col, id_col)
    w = W.partitionBy("doc_id").orderBy("_pos")
    parts = [F.col("_t")] + [F.lead("_t", k).over(w) for k in range(1, n)]
    # guard on the LAST lead: leads are null only past the document
    # end, so parts[-1] non-null implies every part is non-null and
    # only full n-token tuples are hashed (xxhash64 would otherwise
    # silently skip nulls and alias short tails with real shingles)
    return (
        toks.select(
            "doc_id",
            F.when(parts[-1].isNotNull(), F.xxhash64(*parts)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .dropDuplicates(["doc_id", "shingle"])
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted
    index: |A ∩ B| from the self-join, |A|,|B| from per-doc counts.
    Shingles hotter than df_cap documents are dropped before the join
    (hot-key guard; a shingle shared by everyone carries no signal).

    Scale note (VERDICT r1): candidate pairs still grow O(Σ df²) on
    the full corpus, so corpus-wide this is the small-scale exact
    oracle; at 100 TB use `near_duplicates` (LSH candidates ->
    exact verification of candidates only)."""
    sh = doc_shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    sh_pruned = sh.join(dfreq.filter(F.col("_df") <= df_cap), "shingle", "left_semi")

    a = sh_pruned.alias("a")
    b = sh_pruned.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def _minhash_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Per-doc minhash signature: token hashes -> rolling shingle
    hashes -> num_hashes universal-hash mins (one doc_id shuffle)."""
    params = _minhash_params(num_hashes, seed)

    # Fully whole-stage-codegen'd shape (no higher-order array
    # functions — those evaluate interpreted per element and, measured
    # here, anti-scale with thread count):
    #   posexplode tokens -> token hashes -> shingle hash = arithmetic
    #   combination of n consecutive token hashes via lead() windows ->
    #   num_hashes min-aggregations in one groupBy(doc_id).
    # min() is duplicate-insensitive, so multiset shingles == the
    # distinct-shingle semantics of exact Jaccard. One shuffle by
    # doc_id for the window, reused by the aggregation (same key).
    #
    # r9: the shuffle input is the bare (doc_id, _pos, _t) rows of
    # `_exploded_tokens` — identical to doc_shingles' — and the token
    # hash is projected AFTER the exchange (still once per token: the
    # projection sits between the exchange and the window's sort, not
    # inside the lead() expressions), so near_duplicates-style
    # compositions reuse one exchange for both the signature and the
    # shingle branch. Shuffled bytes are ~unchanged (short word
    # strings vs 8-byte hashes).
    from pyspark.sql import Window as W

    toks = _exploded_tokens(docs, text_col, id_col).select(
        "doc_id",
        "_pos",
        F.pmod(_token_hash_col(F.col("_t"), token_hash), F.lit(MERSENNE_P)).alias("_th"),
    )
    w = W.partitionBy("doc_id").orderBy("_pos")
    combined = F.col("_th")
    for k in range(1, n):
        combined = F.pmod(
            combined * F.lit(1_000_003) + F.lead("_th", k).over(w),
            F.lit(MERSENNE_P),
        )
    hashed = toks.select("doc_id", combined.alias("_h")).filter(
        F.col("_h").isNotNull()
    )
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.col("_h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_P))).alias(
                f"_m{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    sig = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    return mins.select("doc_id", sig.alias("signature"))


def minhash_signature_expr(
    text,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 7,
    token_hash: str = "xxhash64",
):
    """EXPRESSION-ONLY minhash signature (no shuffle, no window) —
    the streaming-safe twin of `minhash_signatures`: non-time window
    functions are illegal on streams, so the lead()-chain shingle
    hashing is re-expressed as higher-order array functions over the
    per-row token array. Bit-identical output to the batch version
    (same token hash, same 1000003-chain mod MERSENNE_P, same
    universal-hash params — asserted in tests); docs with fewer than
    `n` tokens yield NULL (the batch version emits no row for them —
    callers filter). HOFs evaluate interpreted per element, which the
    batch path deliberately avoids at scan scale (see
    minhash_signatures' plan note); at STREAM rates the per-row cost
    is irrelevant and shuffle-freedom is what matters."""
    params = _minhash_params(num_hashes, seed)
    toks = F.split(F.trim(text), r"\s+")
    th = F.transform(
        toks, lambda t: F.pmod(_token_hash_col(t, token_hash), F.lit(MERSENNE_P))
    )

    def shingle(i):
        c = F.element_at(th, i)
        for k in range(1, n):
            c = F.pmod(
                c * F.lit(1_000_003) + F.element_at(th, i + F.lit(k)),
                F.lit(MERSENNE_P),
            )
        return c

    sh = F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), shingle)

    def perm(a, b):
        # closure factory, NOT default args: F.transform dispatches on
        # lambda arity, and `lambda h, a=a, b=b` is the 3-arg form
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(MERSENNE_P))

    mins = [F.array_min(F.transform(sh, perm(a, b))) for (a, b) in params]
    return F.when(F.size(toks) >= n, F.array(*mins))


def banded_signatures(
    sigs: DataFrame, num_hashes: int, bands: int, extra_cols: tuple = ()
) -> DataFrame:
    """(doc_id, signature, band_idx, band_hash) rows: each signature
    exploded into its LSH bands, band key compressed with xxhash64
    (equal tuples hash equal, so pair sets are unchanged). Shared by
    minhash_lsh_pairs, the streaming LSH stage (which passes its event
    time through `extra_cols`), and the operating-point margin test."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        "doc_id",
        "signature",
        *extra_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("signature")[i * rows_per_band + j]
                                    for j in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "signature", *extra_cols, "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    max_group: int = 1000,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Banding LSH: signature -> (band_idx, band_hash) buckets ->
    candidate pairs with estimated jaccard = matching minhash fraction.
    Buckets larger than max_group are dropped (hot-bucket guard).

    r9 shape (guide §2.4, the same rebuild as minhash_band_candidates):
    the old plan self-joined the exploded band table — two sort-merge
    sorts of N x bands rows, with both 64-long signatures riding every
    candidate row — plus a separate bucket-size aggregation +
    left_semi join for the hot-bucket guard. Now ONE groupBy collects
    each band bucket's (doc_id, signature) members, the size filter
    IS the guard, and pairs are emitted map-side with est_jaccard
    computed in-bucket (transient pair structs carry ids + est, ~24 B
    each, never two signatures); only (doc_a, doc_b, est) rows reach
    the final dedup shuffle. Per-row memory is bounded by max_group
    members (~0.5 MB of signatures at the default cap) plus the
    O(k^2) x 24 B pair structs (~24 MB worst case at cap, transient)
    — the old join materialized the same k^2 pairs as full rows
    through an exchange instead. Measured 15 s -> 6 s at sf1.0
    (sha-hash operating point), identical output."""
    sigs = minhash_signatures(docs, n, num_hashes, text_col, id_col, seed, token_hash)
    banded = banded_signatures(sigs, num_hashes, bands).select(
        F.struct("doc_id", "signature").alias("m"), "band_idx", "band_hash"
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.collect_list("m").alias("_ms"))
        .filter((F.size("_ms") >= 2) & (F.size("_ms") <= max_group))
    )
    ms = F.col("_ms")

    def est(x, y):
        return F.size(
            F.filter(
                F.zip_with(x["signature"], y["signature"], lambda a, b: a == b),
                lambda eq: eq,
            )
        ) / F.lit(float(num_hashes))

    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x: F.transform(
                F.filter(ms, lambda y: y["doc_id"] > x["doc_id"]),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    est(x, y).alias("est_jaccard"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_band_candidates(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    max_group: int = 1000,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """CANDIDATE ID PAIRS from banding LSH — the ids-only fast path
    consumed by `near_duplicates` (whose verify stage recomputes exact
    Jaccard anyway and never reads est_jaccard). Same candidate set as
    minhash_lsh_pairs' (doc_a, doc_b) projection, bit-for-bit
    (asserted in tests).

    r9 shape (guide §2.4): instead of self-joining the exploded band
    table (two sort-merge sorts of N x bands rows) plus a separate
    bucket-size aggregation + left_semi join for the hot-bucket
    guard, ONE groupBy collects each (band_idx, band_hash) bucket's
    ids; the size filter IS the hot-bucket guard (one shuffle total),
    and pairs are emitted map-side by exploding each member against
    its greater in-bucket partners. Per-row memory is bounded by
    max_group ids (~8 KB at the default cap), never by the O(k^2)
    pair count — measured 14.7 s -> 7.3 s for the sf1.0 candidate
    pass at local[32]."""
    sigs = minhash_signatures(docs, n, num_hashes, text_col, id_col, seed, token_hash)
    banded = banded_signatures(sigs, num_hashes, bands).select(
        "doc_id", "band_idx", "band_hash"
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.collect_list("doc_id").alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_group))
    )
    exploded = buckets.select("_ids", F.explode("_ids").alias("doc_a"))
    partners = F.filter(F.col("_ids"), lambda y: y > F.col("doc_a"))
    return (
        exploded.select("doc_a", F.explode(partners).alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_bits(token_hash: str) -> int:
    """xxhash64 gives 64 usable bits; the sha60 oracle hash gives 60."""
    return 64 if token_hash == "xxhash64" else 60


def simhash_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int | None = None,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash): tokens exploded to rows, per-bit votes as
    whole-stage-codegen'd sum aggregations (the array higher-order
    form is interpreted per element — measured ~10x slower)."""
    bits = bits or simhash_bits(token_hash)
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_t"),
    ).select("doc_id", _token_hash_col(F.col("_t"), token_hash).alias("_h"))
    # r9: branch-free vote aggregates — sum the raw bit (shift+and,
    # no conditional) plus ONE shared token count, and decide the
    # sign at the end: votes_j > 0  <=>  2*ones_j > count (exact
    # integer equivalence with the old sum(+1/-1) form, hash-gated by
    # the driver oracle). Dropping the 64 codegen'd branches measured
    # 9.9 s -> 6.3 s on the 11.5M-token sf1.0 corpus at local[32].
    #
    # r9 second pass: TWO bit counters packed per aggregation column
    # (bit j in the low 32-bit lane, bit j+1 in the high lane), so the
    # buffer is 31 longs + count instead of 61 and each row does half
    # the aggregate updates: a further 4.3 -> 3.7 s on the same corpus
    # (quiet-window interleaved A/B), identical simhash values. Lanes
    # cannot interact below 2^31 tokens per DOCUMENT (low lane sums
    # bits < 2^32; high lane term is bit<<32, so the long sum
    # ANSI-errors — loudly, not silently — only past ~2^31 tokens in
    # one doc, far beyond any real document).
    npairs = (bits + 1) // 2
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    for p in range(npairs):
        j0, j1 = 2 * p, 2 * p + 1
        term = F.shiftright(F.col("_h"), j0).bitwiseAND(F.lit(1))
        if j1 < bits:
            term = term + F.shiftleft(
                F.shiftright(F.col("_h"), j1).bitwiseAND(F.lit(1)), 32
            )
        aggs.append(F.sum(term).alias(f"_p{p}"))
    votes = exploded.groupBy("doc_id").agg(*aggs)
    sh = F.lit(0).cast("long")
    for j in range(bits):
        p, hi = divmod(j, 2)
        fld = F.col(f"_p{p}")
        ones = F.shiftright(fld, 32) if hi else fld.bitwiseAND(F.lit((1 << 32) - 1))
        sh = sh.bitwiseOR(
            F.when(
                ones * 2 > F.col("_cnt"),
                F.shiftleft(F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("doc_id", sh.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: 4-band blocking (any pair within
    Hamming distance 3 shares at least one exact band, by pigeonhole),
    exact Hamming via bit_count(xor)."""
    bits = simhash_bits(token_hash)
    band_w = bits // 4
    band_mask = (1 << band_w) - 1
    sh = simhash_table(docs, text_col, id_col, bits, token_hash)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash"), i * band_w)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # r9: filter BEFORE the dedup shuffle — hamming is a
        # deterministic function of the pair (identical on every
        # duplicate band-collision row), so filter-then-dedup equals
        # dedup-then-filter while shuffling only actual near-dup rows
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def near_duplicates(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    num_hashes: int = 64,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    max_group: int = 1000,
    token_hash: str = "xxhash64",
    df_cap: int = 10_000,
) -> DataFrame:
    """The 100-TB-safe composition (VERDICT r1 next-steps #5): minhash
    banding LSH generates candidate pairs, then exact n-gram Jaccard
    verifies ONLY the candidates — never a corpus-wide pair expansion.
    Output schema == ngram_jaccard_pairs (its corpus-wide form is the
    small-scale test oracle). Default bands=32 (2 rows/band) puts the
    s-curve knee near jaccard ~0.2, i.e. recall ~1 at threshold 0.3;
    recall is additionally gated in tests (including an operating-
    point margin check — see tests/test_dedup_similarity.py).

    `df_cap` prunes shingles hotter than df_cap documents from the
    intersection count, the SAME pruning ngram_jaccard_pairs applies
    (ADVICE r2: the two paths must agree on n_common or the equality
    gate diverges on corpora with ultra-hot shingles). n_a/n_b stay
    unpruned in both paths.

    Scale shape (r9): the data-proportional shuffles are the exploded
    tokens by doc_id (shingle window) and the shingle rows by shingle
    (df window); the verify side then moves one per-doc shingle-set
    array per candidate side instead of one row per common shingle
    per pair (see verify_candidate_pairs). The candidate side carries
    NO broadcast hint (VERDICT r2 #3): at tested scales AQE picks a
    broadcast join on its own from runtime stats; at 10^12 docs the
    pair set can exceed driver memory and AQE correctly falls back to
    a shuffle join — a forced hint would OOM the driver instead.

    Considered and rejected (r4, measured): semi-joining both shingle
    sides down to candidate doc_ids before the verify joins. It needs
    the candidate set referenced 3x, which forces a persist() of
    `cands` — and that materialization barrier made the warm query
    1.8x SLOWER here (12.1 s vs 6.8 s at sf0.1) for zero output
    change. In the production topology the same pruning comes for
    free: candidates are materialized to a table by the LSH job and
    the verify job naturally scans only candidate docs' shingles —
    single-query persist is the wrong tool for it."""
    cands = minhash_band_candidates(
        docs, n, num_hashes, bands, text_col, id_col, seed, max_group, token_hash
    )
    return verify_candidate_pairs(
        docs, cands, n, threshold, text_col, id_col, df_cap
    )


def verify_candidate_pairs(
    docs: DataFrame,
    cands: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard verification of a CANDIDATE pair table
    (doc_a, doc_b) — the verify stage of `near_duplicates`, public so
    a batch job can verify a MATERIALIZED candidate table (the written
    output of streaming_minhash_lsh, or incremental probes) instead of
    regenerating candidates in-query. Same df_cap hot-shingle pruning
    and no-broadcast-hint contract as near_duplicates (see its
    docstring for the measured rationale).

    r9 shape (guide §2.4 remove shuffles / §8 move heavy bytes once):
    the old plan referenced the expensive shingle subtree FOUR times
    (per-doc sizes, shingle document-frequency, and both sides of the
    shingle-equality self-join) and finished with two more per-doc
    size joins; the intersection join's output was one row per common
    shingle per pair. Now the shingle table is annotated in place —
    n_sh via a count window over doc_id (piggybacking the shingle
    window's existing doc_id partitioning, no new exchange) and _df
    via a count window over shingle (one exchange, replacing the
    dfreq aggregate + left_semi join pair) — then rolled up into ONE
    per-doc pruned shingle-set ARRAY, and candidates attach each
    side's array once: n_common = size(array_intersect(...)), an
    exact distinct-set intersection (inputs are distinct by
    construction; order-insensitive, so collect_list's partition
    order is immaterial). Each doc's shingle set crosses the wire
    once per side it appears on, instead of once per common shingle
    per candidate pair — measured 23.6 s -> 10.4 s for the composed
    near_duplicates at sf1.0/local[32], identical rows.

    Scale note: a pathological single document's shingle set becomes
    one array row (bounded by doc length, the same per-doc bound the
    exploded form already concentrated in one aggregation task);
    candidate fan-out is already capped upstream by max_group."""
    cands = cands.select("doc_a", "doc_b")
    from pyspark.sql import Window as W

    sh = doc_shingles(docs, n, text_col, id_col)
    sh = sh.withColumn("n_sh", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    sh = sh.withColumn(
        "_df", F.count(F.lit(1)).over(W.partitionBy("shingle"))
    ).filter(F.col("_df") <= df_cap)
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("_shs"), F.max("n_sh").alias("n_sh")
    )
    a = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_shs").alias("_sa"),
        F.col("n_sh").alias("n_a"),
    )
    b = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_shs").alias("_sb"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        # n_common > 0 preserves the old inverted-index semantics
        # exactly (a pair with no common pruned shingle produced no
        # group there) even for threshold <= 0
        .filter(F.col("n_common") > 0)
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def streaming_exact_dedup(
    records: DataFrame,
    ts: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-occurrence exact dedup as a stateful STREAMING operator —
    the training-pipeline dedup running inside the ingest stream
    instead of as a batch sweep. content_sha = sha2(text) keys the
    state store; `dropDuplicatesWithinWatermark` keeps one row per
    content hash and — unlike plain dropDuplicates on a stream —
    EVICTS state older than the watermark, so state size is bounded by
    the hash cardinality of one watermark span, not of the whole
    10^12-doc history. A duplicate arriving after its original's state
    expired is re-admitted: that is the documented contract (bounded
    state buys at-most-one-per-span, exact global dedup remains the
    batch `exact_duplicates` sweep over the deduped spans).

    Works on batch frames too (falls back to plain dropDuplicates
    semantics there) — the batch twin used in tests."""
    out = records.withColumn("content_sha", F.sha2(F.col(text_col), 256))
    if records.isStreaming:
        return out.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
            ["content_sha"]
        )
    return out.dropDuplicates(["content_sha"])


_LSH_OUT_SCHEMA = (
    "doc_a long, doc_b long, band_idx int, band_hash long, event_ts timestamp"
)
# parallel arrays of (doc_id, event-time MICROSECONDS) — plain natives,
# no pickle. CHECKPOINT COMPATIBILITY (r7 ADVICE): the unit changed
# from ms to us in r7 with the array<long> schema unchanged — a
# streaming query restored from a pre-r7 checkpoint would reinterpret
# stored ms values as us (1000x too old), instantly pruning all live
# entries and silently dropping candidate pairs. Restart such queries
# from a FRESH checkpoint; there is no in-band version marker to
# convert on read (state rows carry no unit field).
_LSH_STATE_SCHEMA = "ids array<long>, tss array<long>"


def _make_lsh_bucket_fn(ttl_ms: int, max_group: int):
    """Stateful per-bucket pairing fn for streaming_minhash_lsh. State
    per (band_idx, band_hash) group: the docs seen in that bucket
    whose event time is within the watermark span. Each arriving doc
    emits one candidate row per doc already in the bucket, then joins
    it. Entries older than `watermark - ttl` are pruned on every
    update and the whole bucket's state times out (EventTimeTimeout)
    once the watermark passes its newest entry + ttl — the SAME
    bounded-state argument as dropDuplicatesWithinWatermark, at bucket
    granularity.

    Hot-bucket guard (r6 ADVICE): once a bucket holds `max_group`
    live docs, further arrivals are neither paired nor admitted —
    a boilerplate-heavy stream would otherwise build O(m) state and
    emit O(m^2) candidates in one bucket, the exact blow-up
    minhash_lsh_pairs' cap exists to prevent. (The batch cap DROPS
    over-cap buckets wholesale; that is unknowable online, so the
    streaming semantics is first-`max_group`-admitted, and the batch
    twin in streaming_minhash_lsh applies the same first-K cap so
    parity holds.) The per-doc Python iterates BUCKET members
    (<= max_group), not corpus rows.

    Pairs are oriented by (event_ts, doc_id) regardless of ARRIVAL
    order — an out-of-order arrival that is earlier than a stored doc
    becomes doc_a, matching the batch twin's ordering contract; the
    emitted event_ts is the LATER doc's (batch: b.event_ts). A
    re-delivered doc_id (at-least-once upstream) is skipped entirely:
    its pairs were emitted at first delivery, so re-emission would
    break the exactly-once output contract, and it never self-pairs."""
    import pandas as pd

    cols = ["doc_a", "doc_b", "band_idx", "band_hash", "event_ts"]
    ttl_us = ttl_ms * 1000

    def fn(key, pdf_iter, state):
        band_idx, band_hash = int(key[0]), int(key[1])
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=cols)
            return
        if state.exists:
            ids, tss = list(state.get[0]), list(state.get[1])
        else:
            ids, tss = [], []
        news = []
        for pdf in pdf_iter:
            for did, ts in zip(pdf["doc_id"], pdf["event_ts"]):
                news.append((int(did), ts))
        # deterministic processing order inside the micro-batch
        news.sort(key=lambda x: (x[1], x[0]))
        rows = []
        live = set(ids)
        for did, ts in news:
            if did in live:
                continue  # re-delivery: already paired + admitted
            if len(ids) >= max_group:
                continue  # hot bucket saturated: no pair, no admit
            t_us = int(ts.value // 1_000)  # ns -> us (exact roundtrip)
            for pid, pt_us in zip(ids, tss):
                if (pt_us, pid) <= (t_us, did):
                    a, b, e_us = pid, did, t_us
                else:
                    a, b, e_us = did, pid, pt_us
                rows.append(
                    (a, b, band_idx, band_hash, pd.Timestamp(e_us * 1000))
                )
            ids.append(did)
            tss.append(t_us)
            live.add(did)
        wm_us = state.getCurrentWatermarkMs() * 1000
        if wm_us > 0:
            keep = [(i, t) for i, t in zip(ids, tss) if t + ttl_us >= wm_us]
            ids = [i for i, _ in keep]
            tss = [t for _, t in keep]
        if ids:
            state.update((ids, tss))
            state.setTimeoutTimestamp(
                max((max(tss) + ttl_us) // 1000, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.remove()
        yield pd.DataFrame(rows, columns=cols)

    return fn


def streaming_minhash_lsh(
    records: DataFrame,
    ts: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 7,
    watermark: str = "1 hour",
    token_hash: str = "xxhash64",
    max_group: int = 1000,
) -> DataFrame:
    """STREAMING fuzzy dedup — the MinHash-LSH candidate stage running
    inside the ingest stream (r5 VERDICT #3): each document's
    signature is computed with the expression-only
    `minhash_signature_expr` (shuffle-free, bit-identical to the batch
    signatures), exploded to its LSH bands, and matched against the
    band bucket's state; every collision with a doc seen in the same
    bucket within the watermark span emits a near-duplicate CANDIDATE
    pair (doc_a = earlier, doc_b = later, plus the band that fired).

    Candidates — not drops — are the correct streaming primitive:
    LSH candidacy needs exact-Jaccard verification, and a per-doc
    any-band rollup would be a second stateful operator in the same
    query (illegal) for a decision the batch verify job makes anyway.
    Verification stays a batch step: `verify_candidate_pairs` and
    `near_dup_clusters` consume the written candidate table.

    State is bounded by (buckets live in one watermark span) x
    max_group: a bucket admits at most `max_group` live docs (further
    arrivals are dropped for that band — the hot-bucket guard, see
    _make_lsh_bucket_fn), so a boilerplate-heavy stream cannot build
    O(m) state or O(m^2) candidates in one bucket; a pair whose
    earlier doc expired re-admits — the documented
    dropDuplicatesWithinWatermark contract, fuzzy edition.

    On a BATCH frame (the parity twin) it degenerates to the
    band-bucket self-join with (earlier ts, then lower id) ordering
    and the SAME first-`max_group`-per-bucket cap (row_number by
    (event_ts, doc_id)) — tests assert streaming == batch on a
    planted near-dup stream, including out-of-order chunks and a
    saturated bucket."""
    import pandas as pd

    sig = minhash_signature_expr(F.col(text_col), n, num_hashes, seed, token_hash)
    base = records.filter(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= n
    ).select(
        F.col(id_col).alias("doc_id"),
        F.col(ts).alias("event_ts"),
        sig.alias("signature"),
    )
    if not records.isStreaming:
        from pyspark.sql import Window

        banded = banded_signatures(base, num_hashes, bands, extra_cols=("event_ts",))
        banded = (
            banded.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("band_idx", "band_hash").orderBy(
                        "event_ts", "doc_id"
                    )
                ),
            )
            .filter(F.col("_rk") <= max_group)
            .drop("_rk")
        )
        a, b = banded.alias("a"), banded.alias("b")
        earlier = (F.col("a.event_ts") < F.col("b.event_ts")) | (
            (F.col("a.event_ts") == F.col("b.event_ts"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & earlier
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.band_idx").alias("band_idx"),
                F.col("a.band_hash").alias("band_hash"),
                F.col("b.event_ts").alias("event_ts"),
            )
        )
    ttl_ms = int(pd.Timedelta(watermark).total_seconds() * 1000)
    banded = banded_signatures(
        base.withWatermark("event_ts", watermark),
        num_hashes,
        bands,
        extra_cols=("event_ts",),
    ).drop("signature")
    return banded.groupBy("band_idx", "band_hash").applyInPandasWithState(
        _make_lsh_bucket_fn(ttl_ms, max_group),
        outputStructType=_LSH_OUT_SCHEMA,
        stateStructType=_LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def streaming_incremental_lsh(
    records: DataFrame,
    old_banded: DataFrame,
    ts: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    seed: int = 7,
    watermark: str = "1 hour",
    token_hash: str = "xxhash64",
    max_group: int = 1000,
) -> DataFrame:
    """The streaming half of incremental_near_dups' FUZZY tier (r6
    VERDICT #5): an ingest stream is near-dup-candidate-checked (a)
    against the CURATED CORPUS via a stream-static band-bucket probe —
    the stream's expression-only MinHash signature explodes to its LSH
    bands and equi-joins the previous run's persisted
    `banded_signature_table` (`old_banded`) — which MUST have been
    built with the same (n, num_hashes, bands, seed, token_hash), or
    band keys silently never match; the table's stamped column
    metadata is checked at plan time and a mismatch raises
    (r7 ADVICE, _assert_banding_compat; defaults now align with
    banded_signature_table's bands=32) — evaluated per micro-batch
    with ZERO state (the same argument as the sha tier in
    streaming_cross_snapshot_dedup: the static side is a bucketable
    table, never state) — and (b) within the stream itself via the
    watermark-bounded band-bucket state of streaming_minhash_lsh.

    Hot-bucket guard on the OLD side (r7 VERDICT #2): curated-corpus
    buckets holding more than `max_group` docs are dropped from the
    probe with the same bucket-size left-semi filter as
    minhash_lsh_pairs — a boilerplate bucket with 10^6 curated docs
    would otherwise emit 10^6 candidate rows for EVERY stream doc
    that hashes into it, per band. (incremental_near_dups caps the
    COMBINED old+new bucket; the stream side is unbounded online, so
    the static cap is the computable analog — the batch twin applies
    the identical filter, so parity holds by construction.) Callers
    should persist/pre-aggregate the capped old side when the probe
    table is large; the semi-join is part of the per-micro-batch
    static subtree.

    Returns the union of both tiers' CANDIDATE pairs with a `side`
    column: 'old' rows are (curated doc_a, stream doc_b) band
    collisions, 'new' rows the in-stream (earlier, later) pairs.
    Candidates — not drops — remain the correct streaming primitive
    (see streaming_minhash_lsh); verify_candidate_pairs and
    near_dup_clusters consume the candidate table exactly as they consume
    incremental_near_dups' candidate stage, whose batch semantics the
    BATCH twin of this function reproduces (parity-tested: same
    corpus, same old side, same pair set).

    Scale shape: the old side joins on (band_idx, band_hash) — at
    10^12 docs that table is bucketed by band keys and the probe is a
    co-located join per micro-batch; per-trigger cost is proportional
    to the trigger's rows, the per-dump (here per-batch) cost
    contract of the incremental pattern. The in-stream tier's state
    is bounded by watermark span x max_group as before."""
    _assert_banding_compat(old_banded, n, num_hashes, bands, seed, token_hash)
    sig = minhash_signature_expr(F.col(text_col), n, num_hashes, seed, token_hash)
    base = records.filter(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= n
    ).select(
        F.col(id_col).alias("doc_id"),
        F.col(ts).alias("event_ts"),
        sig.alias("signature"),
    )
    banded = banded_signatures(base, num_hashes, bands, extra_cols=("event_ts",)).drop(
        "signature"
    )
    old = old_banded.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_hash"
    )
    old_sizes = (
        old.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_group)
        .select("band_idx", "band_hash")
    )
    old = old.join(old_sizes, ["band_idx", "band_hash"], "left_semi")
    cross = banded.join(old, ["band_idx", "band_hash"]).select(
        "doc_a",
        F.col("doc_id").alias("doc_b"),
        "band_idx",
        "band_hash",
        "event_ts",
        F.lit("old").alias("side"),
    )
    within = streaming_minhash_lsh(
        records,
        ts=ts,
        text_col=text_col,
        id_col=id_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        watermark=watermark,
        token_hash=token_hash,
        max_group=max_group,
    ).withColumn("side", F.lit("new"))
    return cross.unionByName(within)


def near_dup_clusters(
    pairs: DataFrame,
    all_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    CLUSTERING step of fuzzy dedup (group transitively-linked
    near-dups, keep one representative per cluster; the step after
    `near_duplicates` in a RefinedWeb-style pipeline). Returns
    (doc_id, cluster_rep) where cluster_rep is the component's MIN
    doc id; with `all_docs` given, unpaired documents appear as their
    own singleton cluster.

    Spark-first iterative min-label propagation (the standard
    large-graph formulation, cf. GraphFrames/Pregel): each round every
    vertex takes min(own label, neighbors' labels) — one
    shuffle-on-vertex join + one aggregation per round, converging in
    O(graph diameter) rounds (near-dup components are shallow: dup
    clusters link through shared content, so diameters are single
    digits). The per-round driver work is ONE scalar convergence
    check (an agg, not a collect of data); at 10^12 docs each round
    is an ordinary distributed join, and `max_iters` bounds the
    pathological-chain worst case with an explicit error rather than
    a silent wrong answer.

    Lineage is truncated EVERY round with an eager localCheckpoint:
    persist() alone does not stop the logical plan growing ~2x per
    round (each round references the previous labels twice), and at
    diameter ~25+ analysis time on the exponential plan tree — not
    the data — becomes the bottleneck. Checkpoint blocks from retired
    rounds are freed by Spark's ContextCleaner as the Python handles
    drop; live footprint is bounded by two vertex-set snapshots. (A
    multi-executor run would use checkpoint() against HDFS for the
    same reason plus fault tolerance.)"""
    from pyspark.sql import functions as F

    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # undirected: both directions. PERSIST the edge list: this is the
    # one legitimately iterative operator in the engine — every round
    # re-reads the edges, and without materialization each round would
    # re-execute the whole upstream LSH+verify pipeline (measured 76 s
    # -> ~8 s at sf0.001). The same reasoning does NOT apply to the
    # one-pass queries: persist pays only when a frame is consumed by
    # MANY jobs.
    #
    # r9 second pass: materialize the DIRECTED edges first (one narrow
    # persist + count), THEN build the symmetric closure from the
    # cached blocks. The old shape unioned `edges` with its own
    # reversal, so the pairs pipeline appeared twice in the sym plan —
    # exchange reuse covers the stages below the last shuffle, but the
    # post-exchange verify work (broadcast joins + array_intersect
    # scoring) re-executed in both branches during materialization:
    # measured 25.9-34.8 s for sym materialization at sf1.0-scale vs
    # ~10-15 s for one near_duplicates pass on the same host. The
    # count() is the materialization barrier; the directed cache is
    # released as soon as sym (also cached) is materialized by the
    # labels-init checkpoint below.
    edges = edges.persist()
    edges.count()
    sym = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist()
    )

    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id, "inner")
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # eager localCheckpoint, NOT persist: it both materializes the
        # round (so the convergence check below re-reads blocks, not
        # the plan) and RESETS the logical plan to a leaf — with
        # persist the analyzed plan doubles every round (labels appears
        # twice) and deep graphs die in the analyzer long before the
        # executors sweat. Retired rounds' blocks are ContextCleaner-
        # freed as the handles drop.
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("new_label"),
                (
                    F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")
                ).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("chg")).limit(1).count()
        labels = stepped.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iters} iterations"
        )

    sym.unpersist()

    out = labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_rep")
    )
    if all_docs is not None:
        singletons = (
            all_docs.select(F.col(id_col).alias("doc_id"))
            .join(out, "doc_id", "left_anti")
            .withColumn("cluster_rep", F.col("doc_id"))
        )
        out = out.unionByName(singletons)
    return out


def near_dup_clusters_star(
    pairs: DataFrame,
    all_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the measured ALTERNATIVE to `near_dup_clusters`'s
    min-label propagation, with the identical output contract
    (doc_id, cluster_rep = component-min id; singletons via
    `all_docs`).

    Why it exists: propagation converges in O(diameter) rounds at one
    join+agg each; star-contraction converges in O(log n) rounds at
    TWO grouped-join passes each. Near-dup components are shallow
    (diameter 1-2 via shared content), so propagation should win
    there — but a pathological chain (diameter d) costs propagation d
    rounds vs star's ~log d. This implementation makes that trade
    measurable instead of argued (see BENCH notes; parity is
    test-gated on chains AND the fixture corpus).

    Round shape, all canonical (big, small) edges with big > small:
    - large-star: key the symmetric edge list at each u, m(u) =
      min(neighbors ∪ u); every LARGER neighbor v>u re-attaches as
      (v, m(u)). One groupBy + one join.
    - small-star: key edges at the bigger endpoint u, m(u) = min of
      its smaller neighbors; all of u's smaller neighbors (and u)
      re-attach to m(u). One groupBy + one join.
    Convergence = edge multiset fixed point, checked with a SCALAR
    fingerprint agg (count, sum(small mod 2^31-1), sum(crc32(
    big:small)) — each term bounded well under 2^32 per row, so the
    long sums cannot ANSI-overflow below ~2^31 edges; raw sum(small)
    DID overflow once ids came from xxhash64's full 64-bit range, the
    r8 e2e topology test's discovery) rather than a driver collect;
    `max_iters` fails loudly. Every
    round ends in an eager localCheckpoint — MANDATORY here, not a
    nicety: one star round references the incoming edge set ~8x, so
    with persist() alone the analyzed plan octuples per round and the
    analyzer, not the cluster, becomes the bottleneck by round ~8.
    Retired rounds' blocks are ContextCleaner-freed; live footprint
    is two edge-set snapshots (same policy as propagation)."""
    from pyspark.sql import functions as F

    e0 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = (
        e0.select(
            F.greatest("a", "b").alias("big"), F.least("a", "b").alias("small")
        )
        .filter(F.col("big") != F.col("small"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    vertices = (
        edges.select(F.col("big").alias("id"))
        .unionByName(edges.select(F.col("small").alias("id")))
        .distinct()
        .persist()
    )
    vertices.count()

    def fingerprint(e: DataFrame):
        return tuple(
            e.agg(
                F.count("*"),
                F.sum(F.pmod(F.col("small"), F.lit((1 << 31) - 1))),
                F.sum(
                    F.crc32(
                        F.concat_ws(":", F.col("big"), F.col("small"))
                    )
                ),
            ).first()
        )

    fp = fingerprint(edges)
    for _ in range(max_iters):
        sym = edges.select(
            F.col("big").alias("u"), F.col("small").alias("v")
        ).unionByName(
            edges.select(F.col("small").alias("u"), F.col("big").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(
                F.col("v").alias("big"),
                F.least(F.col("mn"), F.col("u")).alias("small"),
            )
            .distinct()
        )
        dmins = large.groupBy("big").agg(F.min("small").alias("m"))
        small_star = (
            large.join(dmins, "big")
            .select(
                F.when(F.col("small") == F.col("m"), F.col("big"))
                .otherwise(F.col("small"))
                .alias("big"),
                F.col("m").alias("small"),
            )
            .filter(F.col("big") != F.col("small"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_fp = fingerprint(small_star)
        edges = small_star
        if new_fp == fp:
            break
        fp = new_fp
    else:
        vertices.unpersist()
        raise RuntimeError(
            f"near_dup_clusters_star did not converge in {max_iters} iterations"
        )

    # At the fixed point every component is a star centered at its
    # min: non-centers appear exactly once on the big side. Vertices
    # missing from the big side are centers (their own label).
    final = (
        vertices.join(edges, vertices.id == edges.big, "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("small"), F.col("id")).alias("cluster_rep"),
        )
        .localCheckpoint(eager=True)
    )
    vertices.unpersist()

    out = final
    if all_docs is not None:
        singletons = (
            all_docs.select(F.col(id_col).alias("doc_id"))
            .join(out, "doc_id", "left_anti")
            .withColumn("cluster_rep", F.col("doc_id"))
        )
        out = out.unionByName(singletons)
    return out


def banded_signature_table(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(doc_id, band_idx, band_hash) — the PERSISTED ARTIFACT of a
    curation run's fuzzy-dedup stage. Each monthly refresh writes this
    table for the corpus it curated (partitioned by band_idx in
    production); the next run hands it to `incremental_near_dups` via
    `old_banded` so the old side's MinHash is never recomputed —
    per-dump cost on a 100-TB corpus instead of re-hashing history
    every refresh.

    The banding parameters are stamped into the `band_hash` column's
    metadata (StructField metadata survives the parquet round-trip via
    Spark's schema property), so a consumer built with DIFFERENT
    params — whose band keys would silently never match — fails fast
    at plan time instead (r7 ADVICE; see _assert_banding_compat)."""
    sigs = minhash_signatures(docs, n, num_hashes, text_col, id_col, seed, token_hash)
    return (
        banded_signatures(sigs, num_hashes, bands)
        .select("doc_id", "band_idx", "band_hash")
        .withMetadata(
            "band_hash",
            {
                "n": n,
                "num_hashes": num_hashes,
                "bands": bands,
                "seed": seed,
                "token_hash": token_hash,
            },
        )
    )


def _assert_banding_compat(
    old_banded: DataFrame,
    n: int,
    num_hashes: int,
    bands: int,
    seed: int,
    token_hash: str,
) -> None:
    """Fail fast when a persisted banded-signature table was built
    with different LSH parameters than the consumer (r7 ADVICE): band
    hashes from mismatched (n, num_hashes, bands, seed, token_hash)
    never collide, so the join silently emits ~zero old-side
    candidates — the worst failure mode, invisible until a dedup
    audit. banded_signature_table stamps its params into band_hash's
    column metadata; tables without the stamp (ad-hoc frames) skip
    the check."""
    try:
        meta = old_banded.schema["band_hash"].metadata or {}
    except KeyError:
        return
    if not meta or "bands" not in meta:
        return
    want = {
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
        "seed": seed,
        "token_hash": token_hash,
    }
    got = {k: meta.get(k) for k in want}
    if got != want:
        raise ValueError(
            "banded_signature_table was built with different LSH "
            f"parameters than this consumer: table={got} consumer={want}. "
            "Band keys from mismatched parameters never match — rebuild "
            "the table or pass the table's parameters."
        )


def incremental_near_dups(
    old_docs: DataFrame,
    new_docs: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    num_hashes: int = 64,
    bands: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    max_group: int = 1000,
    token_hash: str = "xxhash64",
    df_cap: int = 10_000,
    old_banded: DataFrame | None = None,
) -> DataFrame:
    """Cross-snapshot INCREMENTAL fuzzy dedup — the monthly-dump
    refresh pattern: a NEW batch of documents is near-dup-checked
    against the already-curated OLD corpus (and against earlier docs
    of the same batch) WITHOUT ever comparing old-vs-old again. This
    is the operation that keeps a continuously-refreshed 100-TB
    corpus deduplicated at per-dump cost instead of corpus-squared
    cost.

    Semantics (deterministic, oracle-replayable): a new doc MATCHES a
    counterpart iff exact n-gram Jaccard >= threshold (same df_cap
    convention as near_duplicates, document frequencies computed over
    old ∪ new); counterparts are ALL old docs plus new docs with a
    SMALLER id (the min-id-representative convention shared with
    exact_duplicates/near_dup_clusters — non-recursive, so two
    mutually-near new docs drop the bigger id and keep the smaller).
    Returns one row per new doc: (doc_id, n_old_matches,
    n_new_matches, kept).

    Scale shape: candidates come from MinHash band-bucket equality —
    new-side buckets probe old-side buckets plus a new-vs-new banded
    self-join; the hot-bucket guard caps COMBINED bucket sizes. Exact
    verification then touches candidate pairs only, with ids never
    expanded corpus-wide. Requires old and new ids to be disjoint
    (caller contract — snapshots carry distinct ids).

    `old_banded` (r6 VERDICT #4) is the PRODUCTION contract for the
    old side: the previous run's `banded_signature_table` output,
    read back instead of recomputing old-side MinHash from text —
    the candidate stage then hashes ONLY the new dump (plan-asserted
    in tests: zero old-side signature stages). When omitted the
    function recomputes it, staying self-contained for ad-hoc use.
    Results are identical either way (the table IS the recomputation,
    materialized); the exact-verify stage still reads old TEXT, but
    only to shingle verification candidates — in production document
    frequencies are likewise carried forward, which is the same
    contract one level down."""
    old = old_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    new = new_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def _banded(side: DataFrame) -> DataFrame:
        return banded_signature_table(
            side, n, num_hashes, bands, "text", "doc_id", seed, token_hash
        )

    if old_banded is not None:
        _assert_banding_compat(old_banded, n, num_hashes, bands, seed, token_hash)
        ob = old_banded.select("doc_id", "band_idx", "band_hash")
    else:
        ob = _banded(old)
    nb = _banded(new)
    sizes = (
        ob.unionByName(nb)
        .groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_group)
        .select("band_idx", "band_hash")
    )
    ob = ob.join(sizes, ["band_idx", "band_hash"], "left_semi")
    nb = nb.join(sizes, ["band_idx", "band_hash"], "left_semi")

    cross = (
        nb.join(ob.select("band_idx", "band_hash", F.col("doc_id").alias("other_id")),
                ["band_idx", "band_hash"])
        .select(F.col("doc_id").alias("new_id"), "other_id",
                F.lit("old").alias("oside"))
    )
    within = (
        nb.alias("x")
        .join(nb.alias("y"),
              (F.col("x.band_idx") == F.col("y.band_idx"))
              & (F.col("x.band_hash") == F.col("y.band_hash"))
              & (F.col("y.doc_id") < F.col("x.doc_id")))
        .select(F.col("x.doc_id").alias("new_id"),
                F.col("y.doc_id").alias("other_id"),
                F.lit("new").alias("oside"))
    )
    cands = cross.unionByName(within).distinct()

    uni = old.unionByName(new)
    sh = doc_shingles(uni, n, "text", "doc_id")
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    shp = sh.join(dfreq.filter(F.col("_df") <= df_cap), "shingle", "left_semi")
    a = shp.select(F.col("doc_id").alias("new_id"), "shingle")
    b = shp.select(F.col("doc_id").alias("other_id"), "shingle")
    common = (
        a.join(cands, "new_id")
        .join(b, ["other_id", "shingle"])
        .groupBy("new_id", "other_id", "oside")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("doc_id").alias("new_id"), F.col("n_sh").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("other_id"), F.col("n_sh").alias("n_b"))
    matches = (
        common.join(sa, "new_id").join(sb, "other_id")
        .filter(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            >= threshold
        )
        .groupBy("new_id")
        .agg(
            F.sum(F.when(F.col("oside") == "old", 1).otherwise(0)).alias("n_old"),
            F.sum(F.when(F.col("oside") == "new", 1).otherwise(0)).alias("n_new"),
        )
    )
    return (
        new.select("doc_id")
        .join(matches, new.doc_id == matches.new_id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old_matches"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new_matches"),
            (
                (F.coalesce(F.col("n_old"), F.lit(0)) == 0)
                & (F.coalesce(F.col("n_new"), F.lit(0)) == 0)
            ).alias("kept"),
        )
    )


def streaming_cross_snapshot_dedup(
    records: DataFrame,
    old_docs: DataFrame,
    ts: str = "ts",
    text_col: str = "text",
    old_text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """The streaming half of incremental_near_dups' EXACT tier: an
    ingest stream is deduplicated (a) against the STATIC prior-corpus
    sha table via a stream-static LEFT ANTI join — Structured
    Streaming evaluates the static side per micro-batch with no state
    at all, the 100-TB-safe way to say "drop anything we already
    curated" — and then (b) within the stream itself via the bounded
    watermark-span state of streaming_exact_dedup. In production the
    static side is the curated corpus's content-hash table (one
    column, bucketable); here it is derived from `old_docs` to stay
    self-contained."""
    old_shas = old_docs.select(
        F.sha2(F.col(old_text_col), 256).alias("content_sha")
    ).distinct()
    out = records.withColumn("content_sha", F.sha2(F.col(text_col), 256)).join(
        old_shas, "content_sha", "left_anti"
    )
    if records.isStreaming:
        return out.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
            ["content_sha"]
        )
    return out.dropDuplicates(["content_sha"])
