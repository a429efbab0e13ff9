"""Similarity search over embedding columns (array<float>).

r9 shape (guide §8 "decide with small rows, move big rows once" —
taken to its limit: the big rows never move at all): every top-k
variant scores candidates INSIDE the corpus scan with one
`mapInPandas` pass. The query batch — the small side that the r8
implementation already broadcast — is collected driver-side once
(bounded: |Q| x dim doubles, the same boundedness the broadcast
assumed) and carried to every task in the UDF closure, together with
the LSH probe tables / IVF probe sets derived from it. Each Arrow
batch does one numpy matmul for the scores, a vectorized candidate
mask (bucket/cell membership), and a per-batch top-k cut (keep rows
with cosine >= the k-th largest per query — ties kept, so the union
of per-batch survivors provably contains the global top-k under the
(cosine DESC, vec_id ASC) total order). Only O(batches x |Q| x k)
tiny rows leave Python; the final exact rank is a window over that.

What this removed (measured at sf1.0, 20k vectors x 400 queries,
local[32]): the r8 plan joined the exploded corpus against the
exploded query probes and ran dropDuplicates(query_id, vec_id) BEFORE
scoring, so ~24M candidate rows each carried two 64-double vectors
(~1 KB/row) through a full shuffle and the Arrow boundary —
embedding_topk_lsh 165 s -> ~2 s, embedding_topk_brute/ivf ~41 s ->
~2 s, with zero result change (per-pair cosine gaps in this corpus
are orders of magnitude above matmul-order float noise; parity is
gated by the DuckDB oracle and an old-vs-new A/B in tests).

At 100 TB: the corpus is scanned once with only (id, vector) columns,
there is NO corpus shuffle and NO candidate-pair materialization; the
only shuffle is the O(tasks x |Q| x k) survivor table into the final
window. Scoring work per task is a dense matmul (N_batch x dim @
dim x |Q|), i.e. the brute path does exactly the FLOPs brute force
requires, and the LSH/IVF masks cut the *emitted* candidates the way
the partition-pruned index store cuts *scanned* bytes
(write_ivf_index / ivf_topk_from_index below).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

# query-axis slice for the per-batch score matrix: bounds peak memory
# at N_batch x _Q_SLICE doubles (10k x 512 = 40 MB) per task even for
# very large query batches; <= 1 slice at the fixture scales
_Q_SLICE = 512
# pair-axis slice for the near-dup verifier: bounds the gathered
# (pairs x dim) operands to ~200 MB per chunk inside a hot bucket
_PAIR_SLICE = 200_000


def make_multi_bucket_udf(table_planes: list[list[list[float]]]):
    """All L hash tables in ONE Arrow pass: stack every table's
    hyperplanes into a single (dim, L*bits) matrix, one matmul, then
    fold each table's sign bits into its bucket id — returns an
    array<long> of length L. One Python boundary crossing per batch
    instead of L (measured ~L-fold fewer UDF invocations)."""
    tables = len(table_planes)
    bits = len(table_planes[0])
    mat = np.concatenate(
        [np.asarray(p, dtype=np.float64) for p in table_planes], axis=0
    ).T  # (dim, tables*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        arr = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        sign = (arr @ mat > 0).reshape(len(arr), tables, bits)
        ids = sign @ weights  # (n, tables)
        return pd.Series(list(ids))

    return buckets


@pandas_udf(T.DoubleType())
def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    x = np.stack(a.to_numpy()).astype(np.float64)
    y = np.stack(b.to_numpy()).astype(np.float64)
    num = np.einsum("ij,ij->i", x, y)
    den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
    return pd.Series(num / den)


def _collect_query_batch(queries: DataFrame):
    """Driver-side collect of the query batch, sorted by query_id for
    determinism. Bounded by |Q| x dim doubles — the query side was
    ALREADY the explicitly-broadcast side in every consumer (and the
    driver-collected side in ivf_topk_from_index), so this changes
    where the small table lives, not how big it may be."""
    rows = queries.select(
        "query_id", F.col("query_vec").cast("array<double>").alias("qv")
    ).collect()
    rows.sort(key=lambda r: (r[0],))
    qids = [r[0] for r in rows]
    Q = (
        np.stack([np.asarray(r.qv, dtype=np.float64) for r in rows])
        if rows
        else np.zeros((0, 1), dtype=np.float64)
    )
    return qids, Q


def _topk_from_scored(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _scan_score_topk(
    corpus: DataFrame,
    q_id_type,
    qids: list,
    Q: np.ndarray,
    k: int,
    mask_fn=None,
) -> DataFrame:
    """Shared scan-side scorer: one mapInPandas over `corpus`
    (columns: vec_id, v), scoring each Arrow batch against the whole
    closure-carried query matrix and emitting only the per-batch
    top-k survivors per query (ties at the k-th value kept — the cut
    is `cosine >= k-th largest`, so every global-top-k row survives
    its batch under the (cosine DESC, vec_id ASC) total order).
    `mask_fn(X) -> bool (n, |Q|)` restricts scoring to LSH/IVF
    candidates; None scores every pair (brute force). NaN cosines
    (zero-norm vectors) are never emitted."""
    spark = corpus.sparkSession
    out_schema = T.StructType(
        [
            T.StructField("query_id", q_id_type),
            T.StructField("vec_id", corpus.schema["vec_id"].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    if not qids:
        return _topk_from_scored(spark.createDataFrame([], out_schema), k)

    qnorm = np.linalg.norm(Q, axis=1)
    qid_series = pd.Series(qids)
    m_total = len(qids)
    kk = int(k)

    def gen(batches):
        out_j, out_v, out_c = [], [], []
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            vids = pdf["vec_id"].to_numpy()
            xnorm = np.linalg.norm(X, axis=1)
            cmask = mask_fn(X) if mask_fn is not None else None
            for lo in range(0, m_total, _Q_SLICE):
                hi = min(lo + _Q_SLICE, m_total)
                cos = (X @ Q[lo:hi].T) / (xnorm[:, None] * qnorm[None, lo:hi])
                if cmask is not None:
                    sl = cmask[:, lo:hi]
                    vals = np.where(sl, cos, -np.inf)
                else:
                    sl = None
                    vals = cos
                if n > kk:
                    thr = np.partition(vals, n - kk, axis=0)[n - kk]
                    sel = vals >= thr[None, :]
                else:
                    sel = np.ones((n, hi - lo), dtype=bool)
                if sl is not None:
                    sel &= sl
                ii, jj = np.nonzero(sel)
                out_j.append(jj + lo)
                out_v.append(vids[ii])
                out_c.append(cos[ii, jj])
        if out_j:
            jj = np.concatenate(out_j)
            yield pd.DataFrame(
                {
                    "query_id": qid_series.iloc[jj].to_numpy(),
                    "vec_id": np.concatenate(out_v),
                    "cosine": np.concatenate(out_c),
                }
            )

    return _topk_from_scored(corpus.mapInPandas(gen, out_schema), kk)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.
    queries: (query_id, query_vec) — small; collected driver-side and
    closure-shipped (see module docstring). The corpus is scanned
    once, never joined, never shuffled; per-task work is the one
    dense matmul exact scoring fundamentally requires."""
    qids, Q = _collect_query_batch(queries)
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return _scan_score_topk(
        e, queries.schema["query_id"].dataType, qids, Q, k, mask_fn=None
    )


def hyperplanes(dim: int, bits: int = 12, seed: int = 11) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim)).round(6).tolist()


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bits: int = 8,
    tables: int = 8,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS — the embedding-space twin
    of dedup.near_duplicates: hyperplane-LSH bucket blocking (a pair is
    a candidate iff it shares a bucket in ANY of the L tables), then
    exact cosine verification of the candidates only. Never a
    corpus-wide pair expansion.

    r9 shape: candidate pairs are verified INSIDE an applyInPandas
    over each (table, bucket) group — the only shuffle is the corpus
    exploded to its L bucket rows (O(N x L) small rows: id, vector,
    two ints), and the pairs themselves never materialize as JVM rows
    at all: each group gathers its members into numpy, scores the
    triangle with the exact per-pair einsum (bit-identical arithmetic
    to cosine_udf), and emits only pairs >= threshold. The hot-bucket
    cap and the <2-member skip live inside the group function, which
    also deletes the r8 bucket-size aggregation + left_semi join (one
    fewer shuffle). r8's join-then-dropDuplicates shape dragged two
    64-double vectors per candidate row through a shuffle (~8M rows x
    ~1 KB at sf1.0: 19 s -> ~3 s).

    Recall geometry: at cos >= 0.9 (theta <= 25.8 deg) one 8-bit table
    collides w.p. (1-theta/pi)^8 ~ 0.29, >=1 of 8 tables ~ 0.94; at
    the planted-dup operating point (cos ~ 0.99) coverage is ~0.9999 —
    and since the hyperplanes are seeded, coverage on a GIVEN corpus is
    deterministic (asserted in tests, the same precondition discipline
    as near_duplicates). Exact duplicates always collide (identical
    sign patterns in every table)."""
    table_planes = [hyperplanes(dim, bits, seed + 97 * t) for t in range(tables)]
    buckets_udf = make_multi_bucket_udf(table_planes)
    v = F.col(vec_col).cast("array<double>")
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        F.posexplode(buckets_udf(v)).alias("table_id", "bucket"),
    )
    out_schema = T.StructType(
        [
            T.StructField("vec_a", embeddings.schema[id_col].dataType),
            T.StructField("vec_b", embeddings.schema[id_col].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    thr = float(threshold)
    cap = int(max_bucket)

    def pairs_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty_ids = pdf["vec_id"].iloc[:0]
        empty = pd.DataFrame(
            {
                "vec_a": empty_ids,
                "vec_b": empty_ids,
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if n < 2 or n > cap:
            return empty
        pdf = pdf.sort_values("vec_id")  # guarantees vec_a < vec_b
        X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = np.linalg.norm(X, axis=1)
        i0, i1 = np.triu_indices(n, 1)
        parts = []
        for lo in range(0, len(i0), _PAIR_SLICE):
            a = i0[lo : lo + _PAIR_SLICE]
            b = i1[lo : lo + _PAIR_SLICE]
            # exact per-pair scoring, bit-identical to cosine_udf:
            # same einsum over gathered (pairs, dim) operands, same
            # norm product — so the same pair found in two tables
            # yields the same double and dropDuplicates is value-stable
            cos = np.einsum("ij,ij->i", X[a], X[b]) / (norms[a] * norms[b])
            keep = cos >= thr
            if keep.any():
                parts.append(
                    pd.DataFrame(
                        {"vec_a": ids[a[keep]], "vec_b": ids[b[keep]], "cosine": cos[keep]}
                    )
                )
        return pd.concat(parts, ignore_index=True) if parts else empty

    cand = e.groupBy("table_id", "bucket").applyInPandas(pairs_fn, out_schema)
    return cand.dropDuplicates(["vec_a", "vec_b"])


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    multiprobe: int = 0,
) -> DataFrame:
    """ANN top-k: union of same-bucket candidates over `tables`
    independent hash tables (+ single-bit-flip neighbor buckets when
    multiprobe > 0) — the standard L-tables recall knob, with recall
    measured vs brute_force_topk in tests.

    r9 shape: the probe structure (per-table bucket -> query-index
    lists, derived from the driver-collected query batch with the
    SAME hyperplane matmul the r8 UDF used) rides in the mapInPandas
    closure; each corpus batch computes its buckets in one matmul,
    ORs the per-table membership into a candidate mask, and scores
    only masked pairs. Candidate generation, dedup (the mask IS the
    dedup — each (query, vec) pair is considered once, vs r8's
    per-(table, probe) candidate rows), scoring, and the per-batch
    top-k cut all happen inside the scan; no joins, no corpus
    shuffle. At scale each table is a bucket-partitioned store so a
    probe is additionally a partition-pruned scan (see
    write_ivf_index for the materialized-index discipline)."""
    table_planes = [hyperplanes(dim, bits, seed + 97 * t) for t in range(tables)]
    mat = np.concatenate(
        [np.asarray(p, dtype=np.float64) for p in table_planes], axis=0
    ).T  # (dim, tables*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    qids, Q = _collect_query_batch(queries)
    mask_fn = None
    if qids:
        m = len(qids)
        qsign = (Q @ mat > 0).reshape(m, tables, bits)
        qb = qsign @ weights  # (m, tables) — identical to the r8 UDF
        probe_dicts: list[dict[int, list[int]]] = [dict() for _ in range(tables)]
        for j in range(m):
            for t in range(tables):
                base = int(qb[j, t])
                bset = {base}
                for p in range(min(multiprobe, bits)):
                    bset.add(base ^ (1 << p))
                for bkt in bset:
                    probe_dicts[t].setdefault(bkt, []).append(j)
        probe_tables = [
            {bkt: np.asarray(js, dtype=np.int64) for bkt, js in d.items()}
            for d in probe_dicts
        ]

        def mask_fn(X: np.ndarray) -> np.ndarray:
            n = len(X)
            sign = (X @ mat > 0).reshape(n, tables, bits)
            bk = sign @ weights  # (n, tables)
            out = np.zeros((n, m), dtype=bool)
            for t in range(tables):
                col = bk[:, t]
                uniq, inv = np.unique(col, return_inverse=True)
                for u_i, bkt in enumerate(uniq):
                    js = probe_tables[t].get(int(bkt))
                    if js is not None:
                        rows = np.nonzero(inv == u_i)[0]
                        out[np.ix_(rows, js)] = True
            return out

    e = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return _scan_score_topk(
        e, queries.schema["query_id"].dataType, qids, Q, k, mask_fn=mask_fn
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    seed: int = 13,
    iters: int = 10,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic spherical k-means coarse quantizer for IVF — the
    FAISS-style flow: train on a bounded sample, broadcast the (tiny)
    centroid matrix. The sample is the first `sample` rows by
    xxhash64(id, seed) order, so it is a seeded uniform draw that is
    reproducible across runs/partitionings, and the driver-side
    collect is bounded by `sample` x dim doubles (a few MB) at ANY
    corpus size — this is the one place a collect() is the right tool.
    Lloyd iterations run in numpy with argmax ties broken by index
    (deterministic); empty cells keep their previous centroid.
    Centroids are rounded to 9dp so the broadcast literal is stable."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy(F.xxhash64(F.col("_id"), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    X = np.stack([r.v for r in rows]).astype(np.float64)
    X = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                s = members.sum(axis=0)
                n = np.linalg.norm(s)
                if n > 0:
                    C[c] = s / n
    return C.round(9).tolist()


def _ivf_cell_udfs(centroids: list[list[float]], nprobe: int):
    """(corpus_cell, query_probe_cells) pandas UDFs over one broadcast
    centroid matrix: a single numpy matmul per Arrow batch."""
    C = np.asarray(centroids, dtype=np.float64).T  # (dim, k)

    @pandas_udf(T.IntegerType())
    def cell(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        X = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
        return pd.Series((X @ C).argmax(axis=1).astype(np.int32))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        X = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
        sims = X @ C
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32") for row in order])

    return cell, probes


def _ivf_probe_sets(centroids: list[list[float]], Q: np.ndarray, nprobe: int):
    """(probe membership (n_centroids, |Q|) bool, per-query probe-cell
    order) — the driver-side twin of _ivf_cell_udfs' `probes`, same
    normalize/matmul/stable-argsort arithmetic."""
    Cm = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    Qn = Q / (np.linalg.norm(Q, axis=1, keepdims=True) + 1e-12)
    sims = Qn @ Cm.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]  # (m, nprobe)
    P = np.zeros((len(Cm), len(Q)), dtype=bool)
    for j in range(len(Q)):
        P[order[j], j] = True
    return P, order


def _ivf_mask_fn(centroids: list[list[float]], P: np.ndarray):
    """Corpus-side candidate mask: assign each batch vector to its
    cell with the exact _ivf_cell_udfs `cell` arithmetic, then look up
    which queries probe that cell."""
    Cm = np.asarray(centroids, dtype=np.float64).T  # (dim, k)

    def mask_fn(X: np.ndarray) -> np.ndarray:
        Xn = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
        cells = (Xn @ Cm).argmax(axis=1)
        return P[cells]

    return mask_fn


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 13,
    iters: int = 10,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k — the second scale path next to lsh_topk: a
    spherical-k-means coarse quantizer assigns every corpus vector to
    one cell; each query probes its `nprobe` nearest cells and scores
    ONLY those cells' vectors exactly. Per-query work drops from O(N)
    to O(N * nprobe / n_centroids) in expectation, with nprobe the
    recall knob (measured vs brute force in tests).

    r9 shape: cell assignment, probe-membership masking, exact
    scoring and the per-batch top-k cut all run inside the one
    mapInPandas corpus scan (see module docstring) — no join, no
    corpus shuffle, no candidate materialization. At 100 TB the
    corpus is written partitioned BY cell (write_ivf_index) so a
    probe is additionally a partition-pruned scan
    (ivf_topk_from_index); the in-plan form here is the
    index-building-free twin, bit-compatible at 12dp with the
    index-backed probe (asserted in tests). Pass `centroids` to reuse
    a trained quantizer (the production topology trains once,
    offline)."""
    cents = centroids if centroids is not None else train_ivf_centroids(
        embeddings, n_centroids, seed, iters, sample, id_col, vec_col
    )
    qids, Q = _collect_query_batch(queries)
    mask_fn = None
    if qids:
        P, _ = _ivf_probe_sets(cents, Q, nprobe)
        mask_fn = _ivf_mask_fn(cents, P)
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return _scan_score_topk(
        e, queries.schema["query_id"].dataType, qids, Q, k, mask_fn=mask_fn
    )


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    seed: int = 13,
    iters: int = 10,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Materialize the IVF index ivf_topk's docstring promises: the
    corpus written to `<path>/vectors` PARTITIONED BY cell (hive
    layout, one file per cell via repartition on the partition key)
    plus the trained centroid matrix at `<path>/centroids` — the
    one-time shuffle that turns every later probe into a
    partition-PRUNED scan. At 100 TB this is the difference between
    "nprobe/n_centroids of the data read from disk" and "all of it
    read, most filtered": partition pruning happens at planning time,
    before a single byte of a non-probed cell is touched. Returns the
    centroids (pass them back to ivf_topk_from_index / ivf_topk)."""
    cents = centroids if centroids is not None else train_ivf_centroids(
        embeddings, n_centroids, seed, iters, sample, id_col, vec_col
    )
    cell_udf, _ = _ivf_cell_udfs(cents, 1)
    v = F.col(vec_col).cast("array<double>")
    (
        embeddings.select(
            F.col(id_col).alias("vec_id"), v.alias("v"), cell_udf(v).alias("cell")
        )
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return cents


def read_ivf_centroids(spark, path: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{path}/centroids").orderBy("centroid_id").collect()
    return [list(r.centroid) for r in rows]


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF probe over a write_ivf_index store: the queries' probe
    cells are computed DRIVER-side (bounded: |queries| x nprobe ints)
    and pushed into the scan as a LITERAL partition filter
    (`cell IN (...)`), so Catalyst prunes non-probed cell directories
    at planning time — the executedPlan's PartitionFilters carries the
    probe-cell INSET, the property the parity test asserts. Scoring,
    masking and ranking then run inside the pruned scan exactly like
    ivf_topk (same probe sets, same per-batch matmul scorer, same
    deterministic tie order), so results match ivf_topk at 12dp for
    the same centroids/nprobe (batch composition differs, so the last
    float ulp may — asserted in tests)."""
    cents = centroids if centroids is not None else read_ivf_centroids(spark, path)
    qids, Q = _collect_query_batch(queries)
    if not qids:
        e = spark.read.parquet(f"{path}/vectors").select("vec_id", "v").limit(0)
        return _scan_score_topk(e, queries.schema["query_id"].dataType, qids, Q, k)
    P, order = _ivf_probe_sets(cents, Q, nprobe)
    probe_cells = sorted({int(c) for row in order for c in row})
    e = (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("cell").isin(probe_cells))
        .select("vec_id", "v")
    )
    return _scan_score_topk(
        e,
        queries.schema["query_id"].dataType,
        qids,
        Q,
        k,
        mask_fn=_ivf_mask_fn(cents, P),
    )
