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
from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
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


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = brute_force_topk(emb, queries, k=10).collect()
    ann = lsh_topk(emb, queries, k=10, bits=6, tables=8, multiprobe=2).collect()
    brute_set = {(r.query_id, r.vec_id) for r in brute}
    ann_set = {(r.query_id, r.vec_id) for r in ann}
    recall = len(brute_set & ann_set) / len(brute_set)
    # 8 tables x 6 bits + 2 probes on 64-dim near-orthogonal noise:
    # weak top-10 cosines (~0.4) are the hard case for hyperplane LSH
    assert recall >= 0.5, f"ANN recall {recall:.2f}"
    # self-match sanity: every query's top hit is itself at cosine 1
    top = {r.query_id: r.vec_id for r in brute if r.rank == 1}
    assert all(q == v for q, v in top.items())


def test_embedding_near_duplicates_coverage(spark):
    """Embedding-cosine near-dup: the LSH-blocked pair set must equal
    the exact corpus-wide pair set on the planted-dup corpus (the
    driver-gate precondition, deterministic because hyperplanes are
    seeded), and every planted exact/near pair must be present."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    corpus = entry_mod._emb_corpus(spark, SF_DIR).cache()
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_near_duplicates(corpus, threshold=0.9).collect()
    }
    # exact O(n^2) truth via the brute-force scorer on the same corpus
    a = corpus.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("_va"))
    b = corpus.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("_vb"))
    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        cosine_udf,
    )

    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine_udf(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= 0.9)
        .collect()
    }
    assert exact, "corpus should contain planted duplicate pairs"
    assert set(got) == set(exact)
    # planted pairs behave as designed: exact copies at cosine ~1,
    # near copies (rotated admixture) at ~0.99
    base_ids = {r.vec_id for r in corpus.filter(F.col("vec_id") < 1_000_000).collect()}
    for vid in base_ids:
        if vid % 20 == 0:
            assert (vid, vid + 1_000_000) in got
            assert got[(vid, vid + 1_000_000)] > 0.999
        if vid % 10 == 0:
            assert (vid, vid + 2_000_000) in got
            assert 0.97 < got[(vid, vid + 2_000_000)] < 1.0
    corpus.unpersist()


def test_embedding_topk_lsh_operating_point_covers_brute(spark):
    """ADVICE r2: the driver gates embedding_topk_lsh against exact
    brute-force SQL on a measured recall-saturation claim. Hyperplanes
    are seeded, so coverage is deterministic per corpus — assert the
    PRECONDITION directly: at the driver operating point (bits=5,
    tables=16, multiprobe=5) the ANN result equals brute force
    pair-for-pair."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {(r.query_id, r.vec_id, r.rank) for r in brute_force_topk(emb, queries, k=10).collect()}
    ann = {
        (r.query_id, r.vec_id, r.rank)
        for r in lsh_topk(emb, queries, k=10, bits=5, tables=16, multiprobe=5).collect()
    }
    assert ann == brute


def test_ivf_topk_exhaustive_probe_equals_brute(spark):
    """Driver-gate precondition (mirror of the LSH one): at
    nprobe == n_centroids the probed cells cover the corpus iff cell
    assignment partitions it — result must equal brute force
    pair-for-pair."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {(r.query_id, r.vec_id, r.rank) for r in brute_force_topk(emb, queries, k=10).collect()}
    ann = {
        (r.query_id, r.vec_id, r.rank)
        for r in ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=16).collect()
    }
    assert ann == brute


def test_ivf_partitioned_index_prunes_and_matches(spark, tmp_path):
    """r8: the scale path ivf_topk's docstring promises, made real —
    write_ivf_index stores the corpus hive-partitioned by cell;
    ivf_topk_from_index pushes the probe cells into the scan as a
    literal partition filter. Asserts (a) planning-time pruning:
    inputFiles() of the probe result lists ONLY probed-cell
    directories, (b) bit-for-bit parity with the in-memory ivf_topk
    at the same centroids/nprobe, (c) the centroid sidecar
    round-trips."""
    import re as _re

    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        read_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = str(tmp_path / "ivf")
    cents = write_ivf_index(emb, path, n_centroids=16)
    assert read_ivf_centroids(spark, path) == cents

    out = ivf_topk_from_index(spark, path, queries, k=10, nprobe=3)
    # planning-time pruning: the FileScan's PartitionFilters carries a
    # literal INSET of exactly the probe-cell union (inputFiles() is
    # no witness — it lists the whole relation pre-pruning)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"PartitionFilters: \[cell#\d+ INSET ([\d, ]+)", plan)
    assert m, plan[:2000]
    cells_scanned = {int(x) for x in m.group(1).split(",") if x.strip()}
    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        _ivf_cell_udfs,
    )

    _, probes_udf = _ivf_cell_udfs(cents, 3)
    expected = {
        int(c)
        for r in queries.select(
            F.explode(
                probes_udf(F.col("query_vec").cast("array<double>"))
            ).alias("cell")
        ).collect()
        for c in [r.cell]
    }
    assert cells_scanned == expected
    assert len(cells_scanned) < 16  # non-probed cells never scanned

    mem = {
        (r.query_id, r.vec_id, round(r.cosine, 12), r.rank)
        for r in ivf_topk(
            emb, queries, k=10, n_centroids=16, nprobe=3, centroids=cents
        ).collect()
    }
    idx = {
        (r.query_id, r.vec_id, round(r.cosine, 12), r.rank)
        for r in out.collect()
    }
    assert idx == mem


def test_ivf_recall_knob_and_candidate_reduction(spark):
    """The ANN half of the IVF gate: partial probing really prunes the
    candidate set (~nprobe/n_centroids of the corpus is scored) and
    recall rises monotonically with nprobe. Everything is seeded, so
    the measured points are deterministic for this corpus."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        _ivf_cell_udfs,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {(r.query_id, r.vec_id, r.rank) for r in brute_force_topk(emb, queries, k=10).collect()}

    cents = train_ivf_centroids(emb, n_centroids=16)
    n = emb.count()
    n_q = queries.count()
    # candidate-set size: corpus rows joined per (query, probed cell)
    cell_udf, probes_udf = _ivf_cell_udfs(cents, 4)
    e = emb.select("vec_id", cell_udf(F.col("embedding").cast("array<double>")).alias("cell"))
    q = queries.select(
        "query_id",
        F.explode(probes_udf(F.col("query_vec").cast("array<double>"))).alias("cell"),
    )
    scored_rows = e.join(q, "cell").count()
    frac = scored_rows / (n * n_q)
    assert frac < 0.5, f"nprobe 4/16 must prune; scored fraction {frac:.2f}"

    recalls = []
    for nprobe in (2, 8, 16):
        ann = {
            (r.query_id, r.vec_id, r.rank)
            for r in ivf_topk(
                emb, queries, k=10, n_centroids=16, nprobe=nprobe, centroids=cents
            ).collect()
        }
        recalls.append(len(ann & brute) / len(brute))
    assert recalls[0] < recalls[-1]
    assert recalls == sorted(recalls), f"recall must be monotone in nprobe: {recalls}"
    assert recalls[-1] == 1.0


def test_ivf_exact_duplicate_always_found(spark):
    """Planted-structure property: an exact copy hashes to the SAME
    cell as its original (identical vector, identical argmax), so the
    cosine-1.0 duplicate of a query is found even at nprobe=1."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        ivf_topk,
    )

    corpus = entry_mod._emb_corpus(spark, SF_DIR)  # includes +1M exact copies
    queries = corpus.filter(
        (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 1_000_000)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    got = ivf_topk(corpus, queries, k=2, n_centroids=16, nprobe=1).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    for qid, ids in by_q.items():
        assert qid + 1_000_000 in ids, f"exact copy of {qid} not found at nprobe=1"


def test_ivf_centroids_deterministic(spark):
    """Seeded sample + seeded init + index-tie argmax: two trainings
    on the same corpus produce identical centroid matrices."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1 = train_ivf_centroids(emb, n_centroids=8, seed=13)
    c2 = train_ivf_centroids(emb.repartition(7), n_centroids=8, seed=13)
    assert c1 == c2


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


def test_bpe_merges_constructed_corpus(spark):
    """Pins every BPE-merge semantic on a corpus tiny enough to trace
    by hand: weighted pair counts (distinct-word vocab x frequency),
    the (count desc, left, right) tiebreak, the documented SINGLE-PASS
    self-overlap behavior ('a a a a' -> 'aa a a', leaving an (a,a)
    pair that wins round 2 again before (aa,aa) merges in round 3),
    and early termination when no pairs remain (4 rules from
    n_merges=5)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        bpe_merges,
    )

    docs = spark.createDataFrame([(1, "aaaa aaaa ab")], ["doc_id", "text"])
    rows = [tuple(r) for r in bpe_merges(docs, n_merges=5).collect()]
    assert rows == [
        (1, "a", "a", "aa", 6),
        (2, "a", "a", "aa", 2),
        (3, "aa", "aa", "aaaa", 2),
        (4, "a", "b", "ab", 1),
    ]


def test_bpe_merges_driver_gate_reaches_recursive_merges(spark):
    """The driver gate's operating point (16 merges over the sf0.001
    fixture corpus) must exercise the interesting BPE case: at least
    one learned rule whose left or right side is itself a PRIOR merge
    product (r5 VERDICT #5 — a 5-merge run never got there). Also
    asserts the merge chain is well-formed: every multi-char side
    appears as an earlier rule's merged symbol."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["bpe_merges"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 16
    produced = set()
    recursive = 0
    for r in sorted(rows, key=lambda r: r["rank"]):
        for side in (r["left"], r["right"]):
            if len(side) > 1:
                recursive += 1
                assert side in produced, (r["rank"], side)
        produced.add(r["merged"])
    assert recursive >= 1, "no merge consumed a prior merge product"


def test_bpe_tokenize_constructed_corpus(spark):
    """Pins the APPLY half on a hand-traceable corpus. Rules learned
    from {'aaaa aaaa ab', 'ba aaa'} with n_merges=5 are a+a=aa(8),
    aa+a=aaa(3), aaa+a=aaaa(2), a+b=ab(1), b+a=ba(1) — every word
    collapses to ONE token; at n_merges=2 only [aa, aaa] exist, so
    'aaaa' keeps the single-pass residue 'aaa a' (2 tokens) and
    'ab'/'ba' stay char-level."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        bpe_tokenize,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab"), (2, "ba aaa")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: (r["n_words"], r["n_tokens"]) for r in
           bpe_tokenize(docs, n_merges=5).collect()}
    assert out[1] == (3, 3)
    assert out[2] == (2, 2)
    out2 = {r["doc_id"]: (r["n_words"], r["n_tokens"]) for r in
            bpe_tokenize(docs, n_merges=2).collect()}
    # rules [aa, aaa]: aaaa->'aaa a'(2) x2, ab->'a b'(2); ba->2, aaa->1
    assert out2[1] == (3, 6)
    assert out2[2] == (2, 3)


def test_bpe_tokenize_compresses_fixture_corpus(spark):
    """Fertility sanity at the driver operating point: applying 16
    merges must strictly reduce token count below the char count
    (merges fired) while n_tokens >= n_words always (a word is >= 1
    token)."""
    from pyspark.sql import functions as F
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        bpe_tokenize,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = bpe_tokenize(docs, n_merges=16)
    chars = docs.select(
        F.col("doc_id"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("n_chars"),
    )
    j = out.join(chars, "doc_id").agg(
        F.sum("n_tokens").alias("tok"),
        F.sum("n_chars").alias("ch"),
        F.sum("n_words").alias("w"),
        F.min(F.col("n_tokens") >= F.col("n_words")).alias("ge_words"),
    ).first()
    assert j["tok"] < j["ch"], "no merge reduced the char-level count"
    assert j["ge_words"] is True


def test_sequence_packing_constructed_and_shard_invariant(spark):
    """Hand-traceable pack layout at ctx_len=4 over word counts
    [3, 2, 4, 1] concatenated in doc_id order (stream length 10 ->
    chunks 0..2), plus THE distributed-prefix-sum property: the
    result is identical at every shard count, including n_shards
    far above the row count."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        sequence_packing,
    )

    docs = spark.createDataFrame(
        [(10, "a b c"), (11, "d e"), (12, "f g h i"), (13, "j")],
        ["doc_id", "text"],
    )
    expect = {
        # doc: (n_tokens, start, first, last, n_chunks)
        10: (3, 0, 0, 0, 1),
        11: (2, 3, 0, 1, 2),
        12: (4, 5, 1, 2, 2),
        13: (1, 9, 2, 2, 1),
    }
    for n_shards in (1, 3, 64):
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["start_pos"], r["first_chunk"],
                r["last_chunk"], r["n_chunks"],
            )
            for r in sequence_packing(
                docs, ctx_len=4, n_shards=n_shards
            ).collect()
        }
        assert got == expect, n_shards


def test_sequence_packing_fixture_stream_is_gapless(spark):
    """On the fixture corpus the per-doc spans must tile the token
    stream exactly: sorted by doc_id, each start_pos equals the
    previous start_pos + n_tokens, and the last chunk index equals
    floor((total - 1) / ctx)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        sequence_packing,
    )

    out = sequence_packing(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        ctx_len=64,
    )
    rows = sorted(out.collect(), key=lambda r: r["doc_id"])
    pos = 0
    for r in rows:
        assert r["start_pos"] == pos, r
        assert r["n_chunks"] == r["last_chunk"] - r["first_chunk"] + 1
        pos += r["n_tokens"]
    assert rows[-1]["last_chunk"] == (pos - 1) // 64


def test_bigram_surprisal_separates_scrambled_from_fluent(spark):
    """The context signal unigram scoring cannot see: a scrambled
    permutation of corpus-common words must out-surprise the fluent
    ordering those words usually appear in (same unigram counts!),
    and a 1-token doc scores (0 bigrams, 0 bits)."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        bigram_surprisal,
        unigram_surprisal,
    )

    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(8)]
        + [(100, "mat the on sat cat the"),  # same words, scrambled
           (101, "solo")],
        "doc_id long, text string",
    )
    bg = {r.doc_id: r for r in bigram_surprisal(docs).collect()}
    assert bg[101].n_bigrams == 0 and bg[101].surprisal_bits == 0
    assert bg[0].n_bigrams == 5 and bg[100].n_bigrams == 5
    assert bg[100].surprisal_bits > bg[0].surprisal_bits
    # unigram scoring is blind to the scramble (identical word bags)
    ug = {r.doc_id: r for r in unigram_surprisal(docs).collect()}
    assert ug[100].surprisal_bits == ug[0].surprisal_bits


def test_linear_quality_score_weight_table_and_hash(spark):
    """The broadcast weight-table branch scores exactly SUM(weight)
    (unknown words weight 0), keep flips on the integer sign, and the
    hashing-trick branch is deterministic across calls."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        linear_quality_score,
    )
    from online_anomaly_detection_root_cause_analysis_spark.plans.checks import (
        explain_str,
    )

    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "bad bad good"), (3, "mystery words only")],
        "doc_id long, text string",
    )
    weights = spark.createDataFrame(
        [("good", 5), ("bad", -4)], "word string, weight long"
    )
    out = {
        r.doc_id: r for r in linear_quality_score(docs, weights=weights).collect()
    }
    assert (out[1].logit_sum, out[1].keep) == (6, True)    # 5+5-4
    assert (out[2].logit_sum, out[2].keep) == (-3, False)  # -4-4+5
    assert (out[3].logit_sum, out[3].keep) == (0, True)    # unknowns -> 0
    assert out[1].n_words == 3 and abs(out[1].logit - 2.0) < 1e-12

    h1 = sorted(map(tuple, linear_quality_score(docs).collect()))
    h2 = sorted(map(tuple, linear_quality_score(docs).collect()))
    assert h1 == h2
    plan = explain_str(linear_quality_score(docs, weights=weights))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the hashing-trick branch is ZERO-shuffle pure column math:
    # scan + project only — no Exchange, no aggregate, no Python.
    # On a hash-weight table equal to the hashing trick, the two
    # branches must agree exactly (integer parity across plans).
    hplan = explain_str(linear_quality_score(docs))
    for node in ("Exchange", "HashAggregate", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in hplan, node
    from online_anomaly_detection_root_cause_analysis_spark.functions.text import (
        sha60_col,
    )

    vocab = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).distinct().select(
        "word", (F.pmod(sha60_col(F.col("word")), F.lit(2001)) - 1000).alias("weight")
    )
    via_table = sorted(
        map(tuple, linear_quality_score(docs, weights=vocab).collect())
    )
    assert via_table == h1


def test_mixture_weights_upweights_low_resource(spark):
    """Two langs with 9:1 token mass at T=0.5: q ~ p^2 would
    DOWNweight the minority (T>1 flattens, T<1 sharpens — the
    mBERT convention is alpha = 1/T in [0,1], so pass T=2.0 for
    alpha=0.5), weights stay a probability distribution, and the
    identity q/p holds per row."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        mixture_weights,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 8 + "w", "en") for i in range(9)]
        + [(9, "w " * 8 + "w", "xh")],
        ["doc_id", "text", "lang"],
    )
    out = {r["lang"]: r for r in mixture_weights(docs, temperature=2.0).collect()}
    assert out["en"]["n_tokens"] == 81 and out["xh"]["n_tokens"] == 9
    assert abs(out["en"]["p_data"] - 0.9) < 1e-6
    # alpha=0.5: q_en = sqrt(.9)/(sqrt(.9)+sqrt(.1)) ~= 0.75
    assert abs(out["en"]["p_sample"] - 0.75) < 0.01
    assert out["xh"]["p_sample"] > out["xh"]["p_data"]
    assert out["xh"]["sample_weight"] > 1.0 > out["en"]["sample_weight"]
    assert abs(sum(r["p_sample"] for r in out.values()) - 1.0) < 1e-5


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


def test_mixture_weights_exact_integer_path(spark):
    """T=0.5 (1/T = 2, integer) must take the BIGINT-exact path: q ~
    n_tokens^2 with all three outputs single IEEE divisions of exact
    integers — checked against closed-form values, the q/p identity,
    and agreement with the general float-pow path (T=0.5-1e-7 forces
    it past the integer-detection guard) to within the 1e-6 quantum."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        mixture_weights,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 8 + "w", "en") for i in range(9)]
        + [(9, "w " * 8 + "w", "xh")],
        ["doc_id", "text", "lang"],
    )
    out = {r["lang"]: r for r in mixture_weights(docs, temperature=0.5).collect()}
    # p_en = 81/90 = .9; q_en = 81^2/(81^2+9^2) = 6561/6642
    q_en = 6561 / 6642
    assert abs(out["en"]["p_sample"] - round(q_en, 6)) < 1e-9
    assert abs(out["en"]["sample_weight"] - round(q_en / 0.9, 6)) < 1e-5
    # sharpening: T<1 upweights the MAJORITY under q ~ p^(1/T)
    assert out["en"]["p_sample"] > out["en"]["p_data"]
    flo = {
        r["lang"]: r
        for r in mixture_weights(docs, temperature=0.5 - 1e-7).collect()
    }
    for lang in out:
        for c in ("p_data", "p_sample", "sample_weight"):
            assert abs(out[lang][c] - flo[lang][c]) <= 2e-6, (lang, c)


def test_mixture_weights_exact_path_k1_k3_k4(spark):
    """r7 ADVICE: the exact-integer path hardcoded the k=2 weight
    formula n*s1/sk. Closed forms at k=1 (T=1.0: identity — q==p,
    weight==1.0 exactly, NOT n_tokens), k=3 (T=1/3: w = n^2*s1/s3)
    and k=4 (T=0.25: w = n^3*s1/s4), plus agreement with the general
    float-pow path nudged off the integer-detection guard."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        mixture_weights,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 8 + "w", "en") for i in range(9)]
        + [(9, "w " * 8 + "w", "xh")],
        ["doc_id", "text", "lang"],
    )  # n_en=81, n_xh=9, s1=90

    k1 = {r["lang"]: r for r in mixture_weights(docs, temperature=1.0).collect()}
    for lang in ("en", "xh"):
        assert k1[lang]["p_sample"] == k1[lang]["p_data"], lang
        assert k1[lang]["sample_weight"] == 1.0, lang  # was n_tokens pre-fix

    k3 = {
        r["lang"]: r
        for r in mixture_weights(docs, temperature=1.0 / 3.0).collect()
    }
    s3 = 81**3 + 9**3
    assert abs(k3["en"]["p_sample"] - round(81**3 / s3, 6)) < 1e-9
    assert abs(k3["en"]["sample_weight"] - round(81**2 * 90 / s3, 6)) < 1e-9
    assert abs(k3["xh"]["sample_weight"] - round(9**2 * 90 / s3, 6)) < 1e-9

    k4 = {r["lang"]: r for r in mixture_weights(docs, temperature=0.25).collect()}
    s4 = 81**4 + 9**4
    assert abs(k4["en"]["sample_weight"] - round(81**3 * 90 / s4, 6)) < 1e-9
    assert abs(k4["xh"]["sample_weight"] - round(9**3 * 90 / s4, 6)) < 1e-9

    for temp, exact in ((1.0, k1), (1.0 / 3.0, k3), (0.25, k4)):
        flo = {
            r["lang"]: r
            for r in mixture_weights(docs, temperature=temp * (1 + 1e-7)).collect()
        }
        for lang in exact:
            for c in ("p_data", "p_sample", "sample_weight"):
                assert abs(exact[lang][c] - flo[lang][c]) <= 2e-6, (temp, lang, c)


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


def test_dsir_select_prefers_target_like_docs(spark):
    """DSIR must rank the raw doc written in the target domain's
    vocabulary above one written off-domain, and the cut must break
    weight ties deterministically by doc_id."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        dsir_select,
    )

    target = spark.createDataFrame(
        [(100, "alpha beta alpha beta gamma alpha beta"),
         (101, "beta alpha beta gamma beta alpha")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, "alpha beta alpha gamma beta alpha"),   # on-domain
         (2, "xray yankee zulu quebec victor whisky"),  # off-domain
         (3, "alpha xray beta zulu gamma quebec")],  # mixed
        "doc_id long, text string",
    )
    out = dsir_select(raw, target, n_buckets=64, k=3).collect()
    ranked = [r.doc_id for r in out]
    w = {r.doc_id: r.weight_bits for r in out}
    assert w[1] > w[3] > w[2]
    assert ranked == sorted(w, key=lambda d: (-w[d], d))

    top1 = dsir_select(raw, target, n_buckets=64, k=1).collect()
    assert [r.doc_id for r in top1] == [1]


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


def test_bpe_driver_and_distributed_loops_agree(spark):
    """The driver-side merge loop (vocab under max_driver_vocab) and
    the distributed round loop (forced via max_driver_vocab=0) must
    produce the IDENTICAL merge table — including on a vocab with a
    self-overlapping pair (l == r), where single-pass replacement
    placement is the subtle case, and on the real fixture corpus."""
    from online_anomaly_detection_root_cause_analysis_spark.operators.textstats import (
        bpe_merges,
    )

    tricky = spark.createDataFrame(
        [(1, "aaaaa aaaa banana bananas cabana"),
         (2, "banana aaaaa abc abcabc"),
         (3, "x yz yz x abcabc banana")],
        "doc_id long, text string",
    )
    fast = [tuple(r) for r in bpe_merges(tricky, n_merges=10).orderBy("rank").collect()]
    slow = [tuple(r) for r in
            bpe_merges(tricky, n_merges=10, max_driver_vocab=0).orderBy("rank").collect()]
    assert fast == slow and len(fast) == 10

    # Words are split on ' ' ONLY, so they can contain '\n'/'\t' as
    # symbols. A no-arg str.split() in the driver loop would silently
    # drop them after round 1 (regression guard for the r6 ADVICE
    # finding); both loops must keep them and stay byte-identical.
    wsy = spark.createDataFrame(
        [(1, "ab\ncd ab\ncd ab\ncd ab\tcd ab\tcd plain"),
         (2, "ab\ncd ab\tcd \n\n x\ny x\ny")],
        "doc_id long, text string",
    )
    fast = [tuple(r) for r in bpe_merges(wsy, n_merges=6).orderBy("rank").collect()]
    slow = [tuple(r) for r in
            bpe_merges(wsy, n_merges=6, max_driver_vocab=0).orderBy("rank").collect()]
    assert fast == slow and len(fast) == 6
    assert any("\n" in l or "\n" in r for _, l, r, _, _ in fast)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast = [tuple(r) for r in bpe_merges(docs, n_merges=8).orderBy("rank").collect()]
    slow = [tuple(r) for r in
            bpe_merges(docs, n_merges=8, max_driver_vocab=0).orderBy("rank").collect()]
    assert fast == slow and len(fast) == 8


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
