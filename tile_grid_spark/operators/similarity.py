"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k (Arrow-batched numpy matmul) is the exact
baseline; the scale paths are random-hyperplane LSH buckets, IVF (coarse
k-means centroids + nprobe) and product-quantization ADC.

Scale shape: candidates are bucketed ONCE (narrow projection), queries
explode to their probe buckets, the join is an equi-join on a short
bucket key, and only bucket-local pairs pay the exact-cosine cost. The
exact distance is a JVM zip_with/aggregate expression for portability;
the driver-fit IVF centroids ride to executors as literal arrays inside
a pandas UDF closure (numpy matmul per Arrow batch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType
from pyspark.sql.window import Window


def dot_expr(a, b, dim: int | None = None) -> F.Column:
    """Dot product of two array<double> columns via the HOF fold
    (aggregate over zip_with).

    `dim` is accepted for API stability but IGNORED: an unrolled
    element_at chain was measured ~2x SLOWER than this fold at dim
    32-64 (the fold iterates the UnsafeArrayData in one codegen loop;
    N separate element_at calls are each bounds-checked and split the
    generated method), and interpreted-when-in-a-join-condition made it
    ~3x slower still. The cheap, load-bearing optimization is in the
    OPERATORS: norms are computed once per row per side, never per
    pair — that alone is 3x on any cosine join."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm_expr(a, dim: int | None = None) -> F.Column:
    return F.sqrt(dot_expr(a, a, dim))


def brute_force_topk_arrow(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    emb: str = "embedding",
    max_queries: int = 4096,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul.

    A per-pair JVM zip_with/aggregate fold scored ~11k pairs/s/core
    (measured at dim 32); one BLAS matmul per Arrow batch is orders of
    magnitude faster and is how exact scoring survives 100 TB. Queries
    (the small side by contract, capped at `max_queries`) collect to a
    driver matrix and ship in the UDF closure; candidates stream
    through mapInArrow computing a (batch x queries) similarity block +
    per-batch local top-k; a tiny global top-k (<= batches*k rows per
    query) finishes — its rank filter compiles to WindowGroupLimit.
    Ties broken by cand_id ascending.
    """
    qrows = queries.select(query_id, emb).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"brute_force_topk_arrow: query side exceeds max_queries="
            f"{max_queries}; shard the queries or use the LSH/IVF paths"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    out_schema = f"{query_id} BIGINT, {cand_id} BIGINT, cosine DOUBLE"

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(1).to_numpy()
            col = rb.column(0)
            # zero-copy matrix rebuild: a dense list<double> column is
            # one flat values buffer + uniform offsets, so the (n, dim)
            # block is a reshape, not n per-row numpy conversions (the
            # old np.vstack-over-objects was the scorer's real cost)
            vl = col.value_lengths().to_numpy(zero_copy_only=False)
            if col.null_count == 0 and n > 0 and vl.min() == vl.max():
                flat = col.flatten()
                C = flat.to_numpy(zero_copy_only=False).reshape(n, -1)
                C = C.astype(np.float64, copy=False)
            else:
                C = np.vstack(
                    [np.asarray(e, dtype=np.float64) for e in col.to_pylist()]
                )
            # candidate order within the batch is arbitrary: sort by id
            # ONCE so a stable sims sort breaks ties by ascending id —
            # the same (cosine desc, cand_id asc) order as the global
            # window, without a per-query lexsort
            o = np.argsort(ids, kind="stable")
            ids = ids[o]
            C = C[o]
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            sims = Cn @ Qn.T  # (batch, n_queries)
            kk = min(k, n)
            top = np.argsort(-sims, axis=0, kind="stable")[:kk]  # (kk, q)
            cols = np.arange(sims.shape[1])
            yield pa.record_batch(
                [
                    pa.array(np.repeat(qids, kk)),
                    pa.array(ids[top].T.reshape(-1)),
                    pa.array(sims[top, cols].T.reshape(-1)),
                ],
                names=[query_id, cand_id, "cosine"],
            )

    local = candidates.select(emb, cand_id).mapInArrow(score, out_schema)
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "rank", F.round("cosine", 6).alias("cosine"))
    )


def _hyperplanes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    h = rng.standard_normal((n_planes, dim))
    return h / np.linalg.norm(h, axis=1, keepdims=True)


def hyperplane_bucket_udf(n_planes: int, bucket_bits: int, seed: int):
    """pandas UDF: embedding -> int64 bucket from the signs of the first
    bucket_bits hyperplane projections. Hyperplanes are lazily sized to the
    embedding dim on first batch (deterministic from seed)."""
    state: dict = {}

    @F.pandas_udf(LongType())
    def f(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        dim = len(emb.iloc[0])
        if "H" not in state:
            state["H"] = _hyperplanes(n_planes, dim, seed)[:bucket_bits]
        H = state["H"]
        M = np.vstack([np.asarray(e, dtype=np.float64) for e in emb])
        signs = (M @ H.T) > 0
        weights = (1 << np.arange(bucket_bits, dtype=np.int64))[None, :]
        return pd.Series((signs * weights).sum(axis=1).astype(np.int64))

    return f


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    emb: str = "embedding",
    n_planes: int = 16,
    bucket_bits: int = 10,
    n_probe_flips: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane buckets; queries also probe the
    buckets at Hamming distance 1 on the lowest n_probe_flips bits."""
    bucket = hyperplane_bucket_udf(n_planes, bucket_bits, seed)
    c = candidates.select(
        cand_id, F.transform(emb, lambda x: x.cast("double")).alias("_ce")
    ).withColumn("_bkt", bucket("_ce")).withColumn("_cn", norm_expr("_ce", dim))
    q = queries.select(
        query_id, F.transform(emb, lambda x: x.cast("double")).alias("_qe")
    ).withColumn("_bkt0", bucket("_qe")).withColumn("_qn", norm_expr("_qe", dim))
    probes = F.array(
        F.col("_bkt0"),
        *[
            F.col("_bkt0").bitwiseXOR(F.lit(1 << b)).cast("long")
            for b in range(min(n_probe_flips, bucket_bits))
        ],
    )
    qp = q.withColumn("_bkt", F.explode(probes)).drop("_bkt0")
    pairs = qp.join(c, "_bkt").withColumn(
        "cosine", dot_expr("_qe", "_ce", dim) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "rank", F.round("cosine", 6).alias("cosine"))
    )


def fit_ivf_centroids(
    df: DataFrame, emb: str = "embedding", n_centroids: int = 16, iters: int = 8,
    sample: int = 20000, seed: int = 42
) -> np.ndarray:
    """Driver-side mini k-means on a sample (numpy Lloyd iterations).
    At 100 TB the sample stays a sample; centroids are tiny and ride as
    UDF-closure literals.

    Sampling is UNBIASED across partitions: a bare limit(n) takes the
    first partitions that answer (for a table sorted/clustered by some
    key, the k-means sample would see one region of the data only) — and
    so does sample(f).limit(n) whenever f over-provisions, because the
    limit again cuts from the head. So the FRACTION does the sizing
    (targeting ~1.2x `sample`; count() on parquet is metadata-cheap) and
    the limit is only a 4x never-binding driver-OOM guard."""
    n_total = df.count()
    frac = min(1.0, (1.2 * sample) / max(n_total, 1))
    rows = (
        df.select(F.transform(emb, lambda x: x.cast("double")).alias("e"))
        .sample(withReplacement=False, fraction=frac, seed=seed)
        .limit(4 * sample)
        .collect()
    )
    X = np.array([r.e for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.Generator(np.random.PCG64(seed))
    C = X[rng.choice(len(X), size=n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_centroids):
            m = assign == j
            if m.any():
                v = X[m].mean(axis=0)
                C[j] = v / max(np.linalg.norm(v), 1e-12)
    return C


def ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """pandas UDF: embedding -> array of the nprobe nearest centroid ids."""
    C = centroids

    @F.pandas_udf(ArrayType(IntegerType()))
    def f(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([])
        M = np.vstack([np.asarray(e, dtype=np.float64) for e in emb])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series([row.tolist() for row in top])

    return f


def fit_pq_codebook(
    df: DataFrame,
    emb: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 8,
    sample: int = 20000,
    seed: int = 42,
) -> np.ndarray:
    """Driver-side product-quantization codebook fit: per-subspace
    Lloyd k-means on an unbiased sample (same sampling contract as
    fit_ivf_centroids — the FRACTION does the sizing, the limit is only
    an OOM guard). Returns shape (m, k, dim//m). At 100 TB the sample
    stays a sample; the codebook is m*k*(dim/m) doubles and rides to
    executors as a UDF-closure literal."""
    n_total = df.count()
    frac = min(1.0, (1.2 * sample) / max(n_total, 1))
    rows = (
        df.select(F.transform(emb, lambda x: x.cast("double")).alias("e"))
        .sample(withReplacement=False, fraction=frac, seed=seed)
        .limit(4 * sample)
        .collect()
    )
    X = np.array([r.e for r in rows], dtype=np.float64)
    if X.size == 0 or len(X) < k:
        raise ValueError(
            f"fit_pq_codebook: need at least k={k} sample rows to seed "
            f"k-means, got {len(X)} (table too small or sample fraction "
            f"rounded to nothing — lower k or raise `sample`)"
        )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"fit_pq_codebook: dim {dim} not divisible by m={m}")
    s = dim // m
    rng = np.random.Generator(np.random.PCG64(seed))
    C = np.empty((m, k, s), dtype=np.float64)
    for j in range(m):
        sub = X[:, j * s : (j + 1) * s]
        cents = sub[rng.choice(len(sub), size=k, replace=False)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        C[j] = cents
    return C


def pq_encode_udf(codebook: np.ndarray):
    """pandas UDF: embedding (array<double>, length m*s) -> array<int>
    of m codes; code[j] = argmin_k ||sub_j - codebook[j][k]||^2, ties to
    the LOWEST k (np.argmin first-occurrence).

    The squared distance accumulates SEQUENTIALLY over the s elements
    (an explicit python loop over vectorized row/k planes), matching a
    SQL engine's left-to-right list_sum fold bit-for-bit — so a fixed
    codebook makes the whole encode replayable by the DuckDB oracle."""
    M, K, S = codebook.shape
    C = codebook

    @F.pandas_udf(ArrayType(IntegerType()))
    def f(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([])
        X = np.vstack([np.asarray(e, dtype=np.float64) for e in emb])
        codes = np.empty((len(X), M), dtype=np.int32)
        for j in range(M):
            sub = X[:, j * S : (j + 1) * S]
            d2 = np.zeros((len(X), K))
            for i in range(S):
                diff = sub[:, i : i + 1] - C[j][None, :, i]
                d2 = d2 + diff * diff
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return f


def pq_lut_udf(codebook: np.ndarray):
    """pandas UDF: embedding -> flat asymmetric-distance lookup table,
    array<double> of length m*k with lut[j*k + c] = dot(sub_j,
    codebook[j][c]); the dot accumulates sequentially over s (same
    fold order as the oracle's list_sum)."""
    M, K, S = codebook.shape
    C = codebook

    @F.pandas_udf(ArrayType(DoubleType()))
    def f(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([])
        X = np.vstack([np.asarray(e, dtype=np.float64) for e in emb])
        lut = np.zeros((len(X), M, K))
        for j in range(M):
            sub = X[:, j * S : (j + 1) * S]
            for i in range(S):
                lut[:, j, :] = lut[:, j, :] + sub[:, i : i + 1] * C[j][None, :, i]
        flat = lut.reshape(len(X), M * K)
        return pd.Series([row.tolist() for row in flat])

    return f


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    codebook: np.ndarray,
    k: int = 10,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    emb: str = "embedding",
    rerank: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ADC top-k — the compressed-domain full-scan
    ANN path (Jégou et al., PQ for nearest neighbor search).

    Candidates are encoded ONCE to m small codes (the 100-TB point: the
    scan reads m ints per vector instead of 4·dim bytes, and at rest the
    code table is ~16x smaller than the embedding column, so the hot
    scan fits in a fraction of the I/O). Queries broadcast with a
    per-query lookup table; the per-pair score is a JVM HOF fold over
    element_at into the broadcast LUT — no Python in the per-pair path,
    and the rank<=R filter compiles to WindowGroupLimit (per-partition
    partial top-k before the shuffle). The top rerank*k by ADC are then
    re-scored with the exact dot product (JVM fold) and re-ranked.

    `score` is the exact DOT product of the input arrays — pass
    L2-normalized embeddings to make it the cosine. Approximation error
    lives only in which candidates reach the rerank pool; recall is
    pytest-gated against the brute-force oracle."""
    M, K, S = codebook.shape
    if dim is not None and dim != M * S:
        raise ValueError(f"pq_topk: dim {dim} != m*s = {M * S}")
    enc = pq_encode_udf(codebook)
    lut = pq_lut_udf(codebook)
    c = candidates.select(
        F.col(cand_id), F.transform(emb, lambda x: x.cast("double")).alias("_ce")
    ).withColumn("_codes", enc("_ce"))
    q = queries.select(
        F.col(query_id), F.transform(emb, lambda x: x.cast("double")).alias("_qe")
    ).withColumn("_lut", lut("_qe"))
    pairs = c.crossJoin(F.broadcast(q))
    adc = F.aggregate(
        F.zip_with(
            "_codes",
            F.sequence(F.lit(0), F.lit(M - 1)),
            lambda cd, j: F.element_at(F.col("_lut"), j * K + cd + 1),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    w1 = Window.partitionBy(query_id).orderBy(F.col("_adc").desc(), F.col(cand_id))
    short = (
        pairs.withColumn("_adc", adc)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= rerank * k)
    )
    w2 = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(cand_id))
    return (
        short.withColumn("score", dot_expr("_qe", "_ce", dim))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "rank", F.round("score", 6).alias("score"))
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    emb: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 3,
    seed: int = 42,
    dim: int | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: candidates in their nearest centroid list,
    queries probe the nprobe nearest lists; exact cosine inside lists.
    `centroids` (unit-norm rows) skips the k-means fit — a FIXED
    codebook, the deterministic variant the DuckDB oracle can replay
    (production fits from data; recall is pytest-gated either way)."""
    C = (
        centroids
        if centroids is not None
        else fit_ivf_centroids(candidates, emb, n_centroids, seed=seed)
    )
    assign1 = ivf_assign_udf(C, 1)
    assignP = ivf_assign_udf(C, nprobe)
    c = candidates.select(
        cand_id, F.transform(emb, lambda x: x.cast("double")).alias("_ce")
    ).withColumn("_list", F.element_at(assign1("_ce"), 1)).withColumn(
        "_cn", norm_expr("_ce", dim)
    )
    q = queries.select(
        query_id, F.transform(emb, lambda x: x.cast("double")).alias("_qe")
    ).withColumn("_list", F.explode(assignP("_qe"))).withColumn(
        "_qn", norm_expr("_qe", dim)
    )
    pairs = q.join(c, "_list").withColumn(
        "cosine", dot_expr("_qe", "_ce", dim) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(cand_id))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "rank", F.round("cosine", 6).alias("cosine"))
    )
