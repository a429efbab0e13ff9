"""Quality tests for the hash-based dedup/similarity operators (the
ones whose engine-specific hashes preclude a SQL oracle): LSH recall
is measured against the exact methods on the same corpus."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
    banded_signatures,
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    return entry_mod._doc_corpus(spark, SF_DIR).cache()


def test_minhash_band_candidates_match_lsh_pairs(spark, corpus):
    """r9: near_duplicates' ids-only candidate path (bucket-array
    pair emission, one shuffle, in-filter hot-bucket guard) must
    produce EXACTLY the pair set of minhash_lsh_pairs' (doc_a, doc_b)
    projection — same banding, same max_group semantics."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        minhash_band_candidates,
    )

    via_join = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(corpus, n=3, num_hashes=64, bands=32)
        .select("doc_a", "doc_b")
        .collect()
    }
    via_arrays = {
        (r.doc_a, r.doc_b)
        for r in minhash_band_candidates(corpus, n=3, num_hashes=64, bands=32).collect()
    }
    assert via_arrays == via_join
    # a tiny max_group must drop the same hot buckets in both paths
    via_join_capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(corpus, n=3, num_hashes=64, bands=32, max_group=2)
        .select("doc_a", "doc_b")
        .collect()
    }
    via_arrays_capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_band_candidates(
            corpus, n=3, num_hashes=64, bands=32, max_group=2
        ).collect()
    }
    assert via_arrays_capped == via_join_capped


def test_minhash_lsh_recall_vs_exact(spark, corpus):
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(corpus, n=3, threshold=0.5).collect()
    }
    assert exact, "corpus should contain planted near-dups"
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(corpus, n=3, num_hashes=64, bands=16).collect()
    }
    recall = len(exact & lsh) / len(exact)
    # 16 bands x 4 rows: P(candidate | j=0.5) = 1-(1-0.5^4)^16 ~ 0.64;
    # planted near-dups have j >> 0.5 so recall should be high
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} exact pairs"


def test_minhash_estimate_close_to_exact(spark, corpus):
    exact = ngram_jaccard_pairs(corpus, n=3, threshold=0.5).select(
        "doc_a", "doc_b", "jaccard"
    )
    est = minhash_lsh_pairs(corpus, n=3, num_hashes=64, bands=16)
    joined = exact.join(est, ["doc_a", "doc_b"]).select(
        F.avg(F.abs(F.col("jaccard") - F.col("est_jaccard"))).alias("mae")
    )
    mae = joined.first().mae
    assert mae is not None and mae < 0.15, f"minhash MAE {mae}"


def test_near_duplicates_operating_point_margin(spark, corpus):
    """ADVICE r2 (medium): the driver gates near_duplicates against the
    exact corpus-wide pair set. That equality is corpus-dependent — a
    borderline pair (jaccard near the bands=32/r=2 s-curve knee) is
    admitted only with probability 1-(1-j^2)^32, and the per-bucket
    max_group cap can drop true pairs in a hot bucket. The LSH is
    deterministic per corpus (fixed hash params), so check the gate's
    PRECONDITIONS on this corpus instead of assuming them:

    (a) the weakest true pair's s-curve admission probability
        1-(1-j^2)^32 is >= 0.99 (flags corpus drift toward the knee;
        observed min j = 0.375 -> 0.992);
    (b) LSH candidate coverage of the true pair set is exactly total —
        the DETERMINISTIC fact the driver oracle actually relies on
        (hash params are fixed, so coverage is a property of the
        corpus, not of the run);
    (c) every band bucket has >= 4x headroom under max_group=1000, so
        the hot-bucket guard cannot be dropping candidates."""
    true_pairs = ngram_jaccard_pairs(corpus, n=3, threshold=0.3).collect()
    assert true_pairs
    min_j = min(r.jaccard for r in true_pairs)
    admission = 1.0 - (1.0 - min_j**2) ** 32
    assert admission >= 0.99, (
        f"weakest true pair j={min_j:.3f} has s-curve admission {admission:.4f}"
    )

    cands = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(corpus, n=3, num_hashes=64, bands=32)
        .select("doc_a", "doc_b")
        .collect()
    }
    missing = {(r.doc_a, r.doc_b) for r in true_pairs} - cands
    assert not missing, f"LSH candidates miss true pairs: {sorted(missing)[:5]}"

    banded = banded_signatures(minhash_signatures(corpus, n=3, num_hashes=64), 64, 32)
    max_bucket = (
        banded.groupBy("band_idx", "band_hash").count().agg(F.max("count")).first()[0]
    )
    assert max_bucket <= 250, f"band bucket of {max_bucket} is near the max_group cap"


def test_near_duplicates_df_cap_matches_exact_oracle(spark, corpus):
    """ADVICE r2: near_duplicates' exact-verify join must apply the
    SAME df_cap shingle pruning as ngram_jaccard_pairs or n_common
    diverges on corpora with ultra-hot shingles. Force a tiny cap so
    pruning actually bites on this corpus, and assert the two paths
    still agree pair-for-pair and count-for-count."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        near_duplicates,
    )

    exact = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(corpus, n=3, threshold=0.3, df_cap=3).collect()
    }
    nd = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in near_duplicates(
            corpus, n=3, threshold=0.3, bands=32, df_cap=3
        ).collect()
    }
    # with df_cap=3 hot shingles are pruned from n_common in BOTH paths
    assert nd == exact


def test_simhash_finds_exact_dups(spark, corpus):
    # exact duplicates have identical simhash -> hamming 0 pairs
    exact = {
        tuple(sorted((r.doc_id, r.group_min_id)))
        for r in exact_duplicates(corpus).collect()
        if r.doc_id != r.group_min_id
    }
    assert exact
    sh = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(corpus, max_hamming=3).collect()
    }
    found = sum(1 for pair in exact if pair in sh and sh[pair] == 0)
    assert found == len(exact)


def test_repetition_ratios_and_quality_filter(spark):
    """r5 text-pipeline ops: duplicate n-gram fractions on constructed
    docs with known answers (incl. the <n-words edge -> NULL frac and
    the all-repeated pathological doc), and the Gopher-style rule
    columns. Also pins the F.transform ARITY trap: gram lambdas must
    be unary or `n` silently binds to the array index (caught r5)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        document_repetition_ratios,
        gopher_quality_filter,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b a b c"),      # 2-grams: ab,ba,ab,bc -> dup 2/4
            (1, "x x x x"),        # 2-grams: xx *3 -> dup 1.0; 3-grams: xxx *2 -> 1.0
            (2, "one"),            # < 2 words -> NULL fracs
            (3, "p q r s"),        # all unique
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in document_repetition_ratios(docs).collect()}
    assert rows[0].word_count == 5 and abs(rows[0].dup2_frac - 0.5) < 1e-9
    assert rows[0].dup3_frac == 0.0
    assert rows[1].dup2_frac == 1.0 and rows[1].dup3_frac == 1.0
    assert rows[2].dup2_frac is None and rows[2].dup3_frac is None
    assert rows[3].dup2_frac == 0.0

    q = spark.createDataFrame(
        [
            (0, " ".join(["the", "and"] + ["word"] * 50)),  # passes all
            (1, " ".join(["the", "and"] + ["word"] * 5)),   # too short
            (2, " ".join(["word"] * 50)),                   # no stopwords
            (3, " ".join(["the", "and"] + ["w"] * 60)),     # mean len < 3
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_filter(q).collect()}
    assert out[0].passes and out[0].rule_word_count and out[0].rule_stopwords
    assert not out[1].passes and not out[1].rule_word_count
    assert not out[2].passes and not out[2].rule_stopwords
    assert not out[3].passes and not out[3].rule_mean_len
    assert out[0].n_stopwords == 2


def test_near_dup_clusters_constructed_graph(spark):
    """Connected components on constructed shapes: a 3-chain (pairs
    only link transitively), a triangle, an isolated pair, and an
    unpaired doc surfacing as its own singleton cluster."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3),          # chain: {1,2,3} -> rep 1
            (10, 11), (11, 12), (10, 12),  # triangle -> rep 10
            (20, 21),                # pair -> rep 20
        ],
        "doc_a long, doc_b long",
    )
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 12, 20, 21, 99]],
                                 "doc_id long")
    out = {r.doc_id: r.cluster_rep for r in near_dup_clusters(pairs, all_docs=docs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 99: 99}

    # long chain exercises multi-round propagation (diameter 6)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 106)], "doc_a long, doc_b long"
    )
    out2 = {r.doc_id: r.cluster_rep for r in near_dup_clusters(chain).collect()}
    assert set(out2.values()) == {100} and len(out2) == 7


def test_redact_pii_adversarial_parity(spark):
    """redact_pii's cross-engine guarantee on ADVERSARIAL inputs (the
    driver fixture is benign): consecutive @s, trailing dots, phone
    inside longer digit runs, email abutting a phone, unicode, IPv4
    octet-boundary and overlong forms, 15/16/17-digit runs and the
    Luhn valid/invalid boundary — Spark (Java regex) and DuckDB (RE2)
    must agree byte-for-byte on counts and redacted text."""
    import duckdb

    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        CARD_RE,
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        redact_pii,
    )

    cases = [
        "a@@b.com x@y.io",                 # double @ — only x@y.io matches
        "user@host.name. end",             # trailing dot after TLD
        "1555-123-45678 and 555-123-4567", # phone inside longer digit run
        "a@b.co555-123-4567",              # email abutting phone digits
        "héllo wörld a@b.de",              # unicode around a match
        "@no.user and user@ and user@.com",
        "...@...com 00-00-0000 555-12-34567",
        "tail@x.yz",
        "",
        "ip 255.255.255.255 and 256.1.1.1 and 1.2.3.4.5",  # octet bounds, 5 dotted groups
        "v1.2.3 released at 10.0.0.1:8080",                # version-ish vs real ip w/ port
        "0.0.0.0 and 00.1.2.3 and 1.2.3.04",               # leading-zero octets
        "4111111111111111 pays",                            # Luhn-valid card
        "4111111111111112 fails",                           # Luhn-invalid, still card-shaped
        "41111111111111112 17digits 411111111111111 15digits",  # \b guards
        "card 4111-1111-1111-1111 dashed",                  # dashed form NOT matched (policy)
        "5500005555555559 and 4111111111111111 two cards",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (
            r.n_emails, r.n_phones, r.n_ips, r.n_cards, r.n_cards_valid,
            r.redacted_sha, r.redacted_len,
        )
        for r in redact_pii(docs).collect()
    }
    duck = duckdb.connect()
    e, p = EMAIL_RE.replace("'", "''"), PHONE_RE.replace("'", "''")
    ip, cd = IPV4_RE.replace("'", "''"), CARD_RE.replace("'", "''")
    luhn = (
        "list_sum(list_transform(range(1,17), i -> "
        "CASE WHEN i % 2 = 1 THEN "
        "CASE WHEN CAST(c2[i] AS INT)*2 > 9 THEN CAST(c2[i] AS INT)*2 - 9 "
        "ELSE CAST(c2[i] AS INT)*2 END "
        "ELSE CAST(c2[i] AS INT) END)) % 10 = 0"
    )
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"?, '{e}', '<EMAIL>', 'g'), '{p}', '<PHONE>', 'g'), "
        f"'{ip}', '<IP>', 'g'), '{cd}', '<CARD>', 'g')"
    )
    for i, t in enumerate(cases):
        want = duck.execute(
            f"""SELECT len(regexp_extract_all(?, '{e}')),
                       len(regexp_extract_all(?, '{p}')),
                       len(regexp_extract_all(?, '{ip}')),
                       len(regexp_extract_all(?, '{cd}')),
                       len(list_filter(regexp_extract_all(?, '{cd}'), c2 -> {luhn})),
                       sha256({red}), length({red})""",
            [t] * 7,
        ).fetchone()
        assert got[i] == tuple(want), (i, t, got[i], want)
    # the Luhn boundary cases land as intended, not just as parity
    assert got[12][3:5] == (1, 1)   # valid card: shape 1, valid 1
    assert got[13][3:5] == (1, 0)   # invalid card: shape 1, valid 0
    assert got[14][3] == 0          # 17- and 15-digit runs: no shape match
    assert got[16][3:5] == (2, 2)   # both test numbers Luhn-valid


def test_decontaminate_constructed_corpus(spark):
    """Constructed-corpus edges the fixture can't hit: a doc shorter
    than n words yields zero grams (never contaminated, still in the
    output); a benchmark doc below n contributes nothing; overlap at
    exactly one shared n-gram flags; repeated occurrences of one gram
    count as hits but one distinct gram."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        decontaminate,
    )

    bench = spark.createDataFrame(
        [("a b c d",), ("too short",)], ["text"]
    )
    docs = spark.createDataFrame(
        [
            (1, "x a b c d y"),          # one shared 4-gram
            (2, "a b c d a b c d"),      # "a b c d" occurs twice + no other bench grams
            (3, "a b c"),                # shorter than n -> clean
            (4, "totally different words here"),
            (5, "too short"),            # matches ONLY the sub-n bench doc -> clean
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_hits"], r["n_distinct_hits"], r["contaminated"])
        for r in decontaminate(docs, bench, n=4).collect()
    }
    assert out[1] == (1, 1, True)
    assert out[2] == (2, 1, True)
    assert out[3] == (0, 0, False)
    assert out[4] == (0, 0, False)
    assert out[5] == (0, 0, False)
    assert len(out) == 5


def test_url_host_stats_canonicalization_edges(spark):
    """Canonicalization branches beyond the planted fixture: missing
    scheme (kept as-is), explicit port (part of the host key),
    fragment stripped with the query, single-label host (no registered
    domain -> empty string), and www-only prefix stripping (not
    mid-host 'www')."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        url_host_stats,
    )

    pages = spark.createDataFrame(
        [
            (1, "https://www.Foo.COM/a?x=1"),
            (2, "foo.com/a#frag"),                  # no scheme, fragment dropped
            (3, "http://foo.com:8080/a"),           # port stays in host
            (4, "https://localhost/a"),             # single label -> no domain
            (5, "https://wwwx.foo.com/b"),          # 'www' prefix NOT stripped mid-label
        ],
        ["doc_id", "url"],
    )
    rows = {
        (r["host"], r["domain"]): (r["n_pages"], r["n_distinct_paths"])
        for r in url_host_stats(pages).collect()
    }
    assert rows[("foo.com", "foo.com")] == (2, 1)          # docs 1+2 share /a
    assert rows[("foo.com:8080", "foo.com:8080")] == (1, 1)
    assert rows[("localhost", "")] == (1, 1)
    assert rows[("wwwx.foo.com", "foo.com")] == (1, 1)


def test_line_dedup_constructed_corpus(spark):
    """Order-preserving boilerplate removal on a constructed corpus:
    the shared line vanishes from every doc, survivors rejoin in
    original order, a doc made ENTIRELY of boilerplate collapses to
    the empty text (n_kept 0, sha of ''), and df counts distinct DOCS
    (a line repeated inside one doc is df=1, both copies kept)."""
    import hashlib

    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        line_dedup,
    )

    boiler = "subscribe now"
    docs = spark.createDataFrame(
        [
            (1, f"alpha\n{boiler}\nbeta"),
            (2, f"{boiler}\ngamma"),
            (3, boiler),                      # collapses entirely
            (4, "delta\ndelta\nepsilon"),     # in-doc repeat: df=1, kept
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["clean_sha"], r["clean_len"])
        for r in line_dedup(docs, max_df=1).collect()
    }

    def sha(s):
        return hashlib.sha256(s.encode()).hexdigest()

    assert out[1] == (3, 2, sha("alpha\nbeta"), len("alpha\nbeta"))
    assert out[2] == (2, 1, sha("gamma"), 5)
    assert out[3] == (1, 0, sha(""), 0)
    assert out[4] == (3, 3, sha("delta\ndelta\nepsilon"), 19)


def test_candidate_table_verify_and_star_match_in_query_clusters(spark):
    """The two ways to cluster near-dups agree (r6 VERDICT #8): LSH
    candidates verified in-query (`near_duplicates`) and clustered by
    PROPAGATION keep the same documents as a materialized candidate
    table verified by `verify_candidate_pairs` and clustered by STAR
    (the clusterer rule changes cost shape, never results). A
    candidate table with no pair keeps every document."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        near_dup_clusters,
        near_dup_clusters_star,
        near_duplicates,
        verify_candidate_pairs,
    )

    docs_pd = [
        (i, " ".join(f"w{i}x{j}" for j in range(8))) for i in range(20)
    ]  # fully disjoint token sets: jaccard 0 between any two
    # near-dup cluster: docs 100..103 share a long common body
    body = "the quick brown fox jumps over the lazy dog by the river today"
    docs_pd += [(100 + k, body + f" tail{k}") for k in range(4)]
    docs = spark.createDataFrame(docs_pd, "doc_id long, text string")

    def kept(clusters):
        return {
            r.doc_id
            for r in clusters.filter(F.col("doc_id") == F.col("cluster_rep")).collect()
        }

    in_query = near_duplicates(docs, n=3, threshold=0.3, num_hashes=64, bands=16)
    kept1 = kept(near_dup_clusters(in_query.select("doc_a", "doc_b"), all_docs=docs))
    # min-id representative of the planted cluster survives, rest drop
    assert 100 in kept1 and not {101, 102, 103} & kept1
    assert all(i in kept1 for i in range(20))

    cands = minhash_lsh_pairs(docs, bands=16).select("doc_a", "doc_b").distinct()
    verified = verify_candidate_pairs(docs, cands, n=3, threshold=0.3)
    kept2 = kept(near_dup_clusters_star(verified.select("doc_a", "doc_b"), all_docs=docs))
    assert kept2 == kept1

    no_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    lone = verify_candidate_pairs(docs, no_pairs, n=3, threshold=0.3)
    kept3 = kept(near_dup_clusters_star(lone.select("doc_a", "doc_b"), all_docs=docs))
    assert kept3 == {r.doc_id for r in docs.collect()}


def test_near_dup_clusters_star_parity(spark):
    """Large-star/small-star must agree with min-label propagation on
    every constructed shape — including a 30-edge chain (diameter 31,
    propagation's adversarial case, where star contraction's O(log n)
    rounds are the whole argument), reversed-id edges, and a
    singleton via all_docs."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        near_dup_clusters,
        near_dup_clusters_star,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3),
            (10, 11), (11, 12), (10, 12),
            (21, 20),                 # reversed order
            (31, 30), (30, 32),       # min arrives via the bigger key
        ],
        "doc_a long, doc_b long",
    )
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 20, 21, 30, 31, 32, 99]],
        "doc_id long",
    )
    prop = {r.doc_id: r.cluster_rep
            for r in near_dup_clusters(pairs, all_docs=docs).collect()}
    star = {r.doc_id: r.cluster_rep
            for r in near_dup_clusters_star(pairs, all_docs=docs).collect()}
    assert star == prop
    assert star[99] == 99 and star[32] == 30

    # 30-edge chain, diameter 31 — propagation's adversarial case and
    # the O(log n)-rounds argument for star contraction (ADVICE r8:
    # this block belongs to the parity test, not full_range_ids)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 130)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r.cluster_rep for r in near_dup_clusters_star(chain).collect()}
    assert set(out.values()) == {100} and len(out) == 31


def test_near_dup_clusters_star_full_range_ids(spark):
    """Regression (r8): the star clusterer's convergence fingerprint
    summed raw ids — xxhash64-keyed corpora (the streaming topology's
    url keying) span the full signed-64 range and the sum ANSI-
    overflowed. The fingerprint now sums ids mod 2^31-1; ids near both
    Long extremes must cluster without error and agree with
    propagation."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        near_dup_clusters,
        near_dup_clusters_star,
    )

    m = (1 << 63) - 1
    ids = [m, m - 1, m - 2, -m, -m + 1, -m + 5, 7]
    pairs = spark.createDataFrame(
        [(m, m - 1), (m - 1, m - 2), (-m, -m + 1), (-m + 5, -m)],
        "doc_a long, doc_b long",
    )
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    star = {r.doc_id: r.cluster_rep
            for r in near_dup_clusters_star(pairs, all_docs=docs).collect()}
    prop = {r.doc_id: r.cluster_rep
            for r in near_dup_clusters(pairs, all_docs=docs).collect()}
    assert star == prop
    assert star[m] == m - 2 and star[-m + 5] == -m and star[7] == 7


def test_near_dup_clusters_star_fixture_parity(spark):
    """Star contraction reproduces propagation's exact clustering on
    the real near-dup pair graph of the sf0.001 corpus (the driver
    query's operating point)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        near_dup_clusters,
        near_dup_clusters_star,
        near_duplicates,
    )
    import __spark_entry__ as em

    corpus = em._doc_corpus(spark, "/root/testdata/sf0.001")
    pairs = near_duplicates(corpus, n=3, threshold=0.3, bands=32).persist()
    pairs.count()
    prop = {r.doc_id: r.cluster_rep
            for r in near_dup_clusters(pairs, all_docs=corpus).collect()}
    star = {r.doc_id: r.cluster_rep
            for r in near_dup_clusters_star(pairs, all_docs=corpus).collect()}
    pairs.unpersist()
    assert star == prop
    assert len(set(prop.values())) < len(prop)  # real clusters exist


def test_duplicate_spans_constructed(spark):
    """Pins the substring-dedup semantics on hand-computed shapes:
    cross-doc shared 8-gram (one exact-k span each side), within-doc
    repetition with a gap > k (two separate spans), a 9-token shared
    run whose two overlapping windows must MERGE into one 9-token span
    (the interval-union case — naive per-window summing would say 16),
    and a below-k doc (no windows at all)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h x1 x2 x3"),
            (2, "z1 a b c d e f g h z2 z3"),
            (3, "p q r s t u v w m1 m2 p q r s t u v w"),
            (4, "k1 k2 k3 k4 k5 k6 k7 k8 k9 y1"),
            (5, "w0 k1 k2 k3 k4 k5 k6 k7 k8 k9"),
            (6, "u1 u2 u3"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_spans, r.dup_tokens, r.max_span, r.dup_ratio)
        for r in duplicate_spans(docs, k=8, min_count=2).collect()
    }
    assert out[1] == (11, 1, 8, 8, 0.7273)
    assert out[2] == (11, 1, 8, 8, 0.7273)
    assert out[3] == (18, 2, 16, 8, 0.8889)
    assert out[4] == (10, 1, 9, 9, 0.9)
    assert out[5] == (10, 1, 9, 9, 0.9)
    assert out[6] == (3, 0, 0, 0, 0.0)


def test_dataset_card_constructed(spark):
    """Pins the card semantics: exact interpolated p50/p95 over a
    known length set, token totals, and SLICE-LOCAL dup counting (a
    text repeated across two sources must not count as a dup in
    either)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        dataset_card,
    )

    rows = [
        # en/srcA: lengths 1,3,5,7 chars -> p50 = 4.0, p95 = 6.7
        (1, "a", "en", "srcA"),
        (2, "abc", "en", "srcA"),
        (3, "ab cd", "en", "srcA"),
        (4, "abc def", "en", "srcA"),
        # dup pair inside en/srcB
        (5, "same text here", "en", "srcB"),
        (6, "same text here", "en", "srcB"),
        (7, "unique one", "en", "srcB"),
        # same text as 5/6 but in a DIFFERENT slice: not a dup there
        (8, "same text here", "de", "srcB"),
    ]
    out = {
        (r.lang, r.source): r
        for r in dataset_card(
            spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
        ).collect()
    }
    a = out[("en", "srcA")]
    assert (a.n_docs, a.n_tokens, a.total_chars) == (4, 6, 16)
    assert a.p50_chars == 4.0 and abs(a.p95_chars - 6.7) < 1e-9
    assert a.mean_doc_tokens == 1.5
    assert a.n_exact_dup_docs == 0
    b = out[("en", "srcB")]
    assert b.n_docs == 3 and b.n_exact_dup_docs == 2
    assert out[("de", "srcB")].n_exact_dup_docs == 0


def test_shard_manifest_checksum_catches_loss_and_dup(spark):
    """The manifest's invariants: shards partition the corpus (doc
    counts sum to N), assignment is deterministic across runs, and
    the XOR membership checksum changes when a doc is dropped and
    when one is duplicated (the two export failure modes), but is
    order-insensitive."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        shard_manifest,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} body") for i in range(200)],
        "doc_id long, text string",
    )
    m1 = {r.shard: r for r in shard_manifest(docs, n_shards=8).collect()}
    assert sum(r.n_docs for r in m1.values()) == 200
    m2 = {r.shard: r for r in shard_manifest(docs.orderBy(F.rand(42)), n_shards=8).collect()}
    assert {s: r.ids_xor for s, r in m1.items()} == {s: r.ids_xor for s, r in m2.items()}

    dropped = shard_manifest(docs.filter(F.col("doc_id") != 7), n_shards=8).collect()
    duped = shard_manifest(
        docs.unionByName(docs.filter(F.col("doc_id") == 7)), n_shards=8
    ).collect()
    x1 = {r.shard: r.ids_xor for r in m1.values()}
    assert {r.shard: r.ids_xor for r in dropped} != x1
    assert {r.shard: r.ids_xor for r in duped} != x1


def test_duplicate_spans_matches_bruteforce_on_random_corpora(spark):
    """Randomized cross-check: on small corpora over a 4-token
    alphabet (collisions everywhere), the operator must equal a
    brute-force Python reference — global k-gram occurrence counts,
    positions whose gram repeats, exact union of [p, p+k-1]
    intervals. Catches off-by-ones in the islands logic that
    hand-picked fixtures might miss."""
    import random

    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        duplicate_spans,
    )

    k, alphabet = 3, ["aa", "bb", "cc", "dd"]
    for seed in (7, 23, 99):
        rng = random.Random(seed)
        docs = [
            (i, [rng.choice(alphabet) for _ in range(rng.randint(1, 15))])
            for i in range(30)
        ]
        # brute force
        from collections import Counter
        grams = Counter()
        for _, toks in docs:
            for p in range(len(toks) - k + 1):
                grams[tuple(toks[p:p + k])] += 1
        expected = {}
        for i, toks in docs:
            dup_pos = [
                p for p in range(len(toks) - k + 1)
                if grams[tuple(toks[p:p + k])] >= 2
            ]
            covered = set()
            spans = 0
            prev_end = None
            for p in dup_pos:
                covered.update(range(p, p + k))
                if prev_end is None or p > prev_end + 1:
                    spans += 1
                prev_end = max(prev_end if prev_end is not None else -1, p + k - 1)
            # max_span from merged intervals
            max_span = 0
            if dup_pos:
                start = dup_pos[0]
                end = dup_pos[0] + k - 1
                for p in dup_pos[1:]:
                    if p <= end + 1:
                        end = max(end, p + k - 1)
                    else:
                        max_span = max(max_span, end - start + 1)
                        start, end = p, p + k - 1
                max_span = max(max_span, end - start + 1)
            expected[i] = (len(toks), spans, len(covered), max_span)
        df = spark.createDataFrame(
            [(i, " ".join(toks)) for i, toks in docs], "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.n_tokens, r.n_spans, r.dup_tokens, r.max_span)
            for r in duplicate_spans(df, k=k, min_count=2).collect()
        }
        assert got == expected, f"seed {seed}"


def test_incremental_near_dups_constructed(spark):
    """Pins the cross-snapshot semantics: a new doc matching an OLD
    doc is dropped with n_old_matches counted; two mutually-near NEW
    docs keep the smaller id (min-id convention, non-recursive); a
    fresh doc survives with zeros."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        incremental_near_dups,
    )

    body = "the quick brown fox jumps over the lazy dog near the riverbank today"
    old = spark.createDataFrame(
        [(10, body), (20, "completely different ancient corpus entry here okay")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, body + " extra"),                       # near-dups old 10
            (101, "novel fresh unseen content words entirely"),  # clean
            (102, "repeated new batch text alpha beta gamma delta epsilon"),
            (103, "repeated new batch text alpha beta gamma delta zeta"),  # near-dups 102
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_old_matches, r.n_new_matches, r.kept)
        for r in incremental_near_dups(old, new, n=3, threshold=0.3, bands=32).collect()
    }
    assert out[100] == (1, 0, False)
    assert out[101] == (0, 0, True)
    assert out[102] == (0, 0, True)      # smaller id: kept
    assert out[103] == (0, 1, False)     # drops toward the smaller id


def test_incremental_near_dups_precomputed_old_banded(spark, tmp_path):
    """The production contract (r6 VERDICT #4): the old side's banded
    signatures come from the PREVIOUS run's persisted
    banded_signature_table, so the incremental job must (a) return
    byte-identical results and (b) contain ZERO old-side MinHash
    stages — the old documents parquet is scanned exactly once (the
    text read the exact-verify stage needs), not twice."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.dedup import (
        banded_signature_table,
        incremental_near_dups,
    )
    from online_anomaly_detection_root_cause_analysis_spark.plans.checks import (
        explain_str,
    )

    body = "the quick brown fox jumps over the lazy dog near the riverbank today"
    old_rows = [
        (10, body),
        (20, "completely different ancient corpus entry here okay"),
        (30, "repeated new batch text alpha beta gamma delta eta"),
    ]
    new_rows = [
        (100, body + " extra"),
        (101, "novel fresh unseen content words entirely"),
        (102, "repeated new batch text alpha beta gamma delta epsilon"),
    ]
    old_dir = str(tmp_path / "old_docs_corpus")
    banded_dir = str(tmp_path / "old_banded_sigs")
    spark.createDataFrame(old_rows, "doc_id long, text string").write.parquet(old_dir)
    old = spark.read.parquet(old_dir)
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    # the previous run persists the artifact ...
    banded_signature_table(old).write.parquet(banded_dir)
    # ... and the next run reads it back
    fast = incremental_near_dups(
        old, new, old_banded=spark.read.parquet(banded_dir)
    )
    base = incremental_near_dups(old, new)
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, base.collect()))

    # plan shape: with the artifact supplied the old-side MinHash
    # subtree is GONE — exactly one fewer scan of the old corpus
    # (the remaining ones are the exact-verify text reads), and the
    # banded parquet is read instead. Counts are per plan LISTING
    # (formatted mode prints final + initial AQE plans, so each
    # physical scan contributes 2 occurrences).
    fast_plan, base_plan = explain_str(fast), explain_str(base)
    assert "old_banded_sigs" in fast_plan
    assert "old_banded_sigs" not in base_plan
    # the candidate stage's old-side scans are replaced by banded
    # reads: strictly fewer old-corpus scan references (exact counts
    # vary with AQE final/initial listings and string truncation)
    assert fast_plan.count("old_docs_corpus") < base_plan.count("old_docs_corpus")


def test_length_histogram_semantics(spark):
    """Constructed corpus: buckets are floor(log2(n_tokens)),
    min_tokens = 2^bucket, per-key doc/token counts are exact, and
    cum_token_share is monotone reaching 1.0 at the top bucket."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        length_histogram,
    )

    docs = spark.createDataFrame(
        [(1, "w " * 2 + "w", "en"),     # 3 tokens  -> bucket 1
         (2, "w " * 6 + "w", "en"),     # 7 tokens  -> bucket 2
         (3, "w " * 7 + "w", "en"),     # 8 tokens  -> bucket 3
         (4, "solo", "de")],            # 1 token   -> bucket 0
        ["doc_id", "text", "lang"],
    )
    out = {(r.key, r.bucket): r for r in length_histogram(docs).collect()}
    assert out[("en", 1)].n_docs == 1 and out[("en", 1)].n_tokens == 3
    assert out[("en", 2)].n_tokens == 7 and out[("en", 3)].n_tokens == 8
    assert out[("en", 3)].min_tokens == 8
    assert out[("de", 0)].min_tokens == 1
    assert abs(out[("en", 3)].cum_token_share - 1.0) < 1e-12
    assert abs(out[("de", 0)].cum_token_share - 1.0) < 1e-12
    shares = [out[("en", b)].cum_token_share for b in (1, 2, 3)]
    assert shares == sorted(shares)
