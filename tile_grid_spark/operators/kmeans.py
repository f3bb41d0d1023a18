"""Distributed Lloyd k-means over embedding columns + SemDeDup pruning.

The training-data use case is SemDeDup (Abbas et al. 2023): cluster the
corpus embeddings with k-means, then drop near-duplicates WITHIN each
cluster — the cluster pass turns an O(N^2) cosine dedup into
O(sum c_i^2) with c_i ~ N/k, the only way semantic dedup reaches
10^8-10^12 rows. Both halves live here: `kmeans_assign` (the cluster
pass) and `semdedup` (the within-cluster prune).

Spark shape (the 100-TB plan):
- Embeddings are QUANTIZED to integer grids (round(x*scale)) first.
  Per-dimension cluster sums are then exact integers — aggregation
  order cannot change them — and each centroid dimension is ONE
  division sum/count, so centroids are bit-identical on any engine and
  any partitioning. Every float fold is dim-SEQUENTIAL (the same
  left-to-right order whether it runs as a JVM HOF fold, a numpy
  dim-loop, or DuckDB's list_sum), so assignments are deterministic
  and relationally checkable end to end. No floats ever aggregate
  across rows.
- Assignment is a zero-shuffle Arrow pandas UDF against an
  sc.broadcast numpy centroid block (the MLlib KMeans shape): one
  (rows x block) vectorized distance accumulation per dim, blocked
  over centroids so memory stays bounded at large k. The earlier
  all-JVM variant (transform over a broadcast centroid array + a
  per-element aggregate fold) was measured ~40x slower at 1M rows:
  higher-order functions are CodegenFallback — interpreted per row
  per centroid per dim — while the numpy path is one BLAS-class loop.
- The only exchange per iteration is the centroid update agg, and
  that groups on k keys with map-side partial aggregation (dim
  integer SUM columns in one hash agg — no explode). The k updated
  centroids are collected to the driver (k rows — bounded, like the
  PQ codebook fit) and re-broadcast; points never leave executors.
- Lloyd fundamentally scans the points once per iteration; callers
  at scale should cache/checkpoint the quantized points frame
  upstream if the source scan is expensive.
- Empty clusters simply vanish from the update aggregation on every
  engine identically (k may shrink; documented, deterministic).

No reference counterpart (pka/tile-grid is grid math); this is the
embedding-side clustering a web-scale image+caption corpus needs for
semantic dedup and IVF-style sharding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import md5_hash60

__all__ = ["quantize_embedding", "kmeans_assign", "semdedup"]

# centroid-block width for the blocked distance scan: bounds the
# per-batch accumulator at rows x block doubles (10k-row Arrow batch x
# 1024 block = 80 MB) no matter how large k grows
_CENT_BLOCK = 1024


def quantize_embedding(emb, scale: int = 1024) -> F.Column:
    """array<float> -> array<long> on the 1/scale grid
    (floor(x*scale + 0.5): round-half-up, exact float->double widening).
    The integer grid is what makes every downstream aggregate exact."""
    s = F.lit(float(scale))
    return F.transform(
        emb, lambda x: F.floor(x.cast("double") * s + F.lit(0.5)).cast("long")
    )


def _argmin_block(X: np.ndarray, C: np.ndarray, dim: int) -> np.ndarray:
    """Blocked argmin-squared-distance of rows X against centroids C,
    returning the INDEX into C of each row's winner.

    Bit-exact twin of the relational form: squared L2 accumulates
    dim-sequentially (acc += (x-c)^2 one dimension at a time — the
    exact IEEE add order of a left-to-right fold), numpy argmin takes
    the FIRST minimum (= lowest cid; rows are cid-ascending) and the
    cross-block merge keeps the earlier block on ties (strict <), so
    the winner is min by (d, cid) exactly like array_min over
    struct(d, cid) and like the oracle's row_number ORDER BY d, cid.
    """
    n = X.shape[0]
    best_d = np.full(n, np.inf)
    best_j = np.zeros(n, dtype=np.int64)
    for lo in range(0, C.shape[0], _CENT_BLOCK):
        Cb = C[lo : lo + _CENT_BLOCK]
        acc = np.zeros((n, Cb.shape[0]))
        for i in range(dim):  # dim-sequential: the fold's add order
            t = X[:, i, None] - Cb[None, :, i]
            acc += t * t
        j = np.argmin(acc, axis=1)  # first min = lowest cid in block
        d = acc[np.arange(n), j]
        upd = d < best_d  # strict: earlier (lower-cid) block wins ties
        best_d[upd] = d[upd]
        best_j[upd] = lo + j[upd]
    return best_j


def _assign_udf(spark, cents: np.ndarray, cids: np.ndarray, dim: int):
    """Vectorized argmin-distance assignment against broadcast centroids
    (see _argmin_block for the bit-exactness argument). Returns
    (pandas_udf, [broadcasts]) so finite-lifetime callers can unpersist
    the broadcast blocks once the assignment has been consumed. The
    centroid block and its id vector ride ONE broadcast (a per-round
    broadcast is a driver-side pickle + file write; halving the count
    trims the per-Lloyd-round fixed cost, r6)."""
    b = spark.sparkContext.broadcast(
        (np.ascontiguousarray(cents), np.ascontiguousarray(cids))
    )

    @F.pandas_udf("int")
    def assign(qd: pd.Series) -> pd.Series:
        C, ids = b.value
        if len(qd) == 0:
            return pd.Series([], dtype="int32")
        X = np.stack(qd.to_numpy())  # (n, dim) float64, exact Arrow transfer
        best_j = _argmin_block(X, C, dim)
        return pd.Series(ids[best_j].astype(np.int32))

    return assign, [b]




def kmeans_assign(
    df: DataFrame,
    k: int,
    dim: int,
    iters: int = 2,
    id_col: str = "vec_id",
    emb: str = "embedding",
    scale: int = 1024,
    seed_prefix: str = "kmseed",
) -> DataFrame:
    """Cluster rows of `df` by k-means over `emb` (array<float|double>).

    Returns (id_col, cluster, q) where `cluster` is the centroid id
    after `iters` Lloyd update rounds and `q` the quantized embedding
    (kept so semdedup() never re-reads the source). Deterministic and
    partition-invariant: seeds are the k rows with the smallest
    md5-derived key (a partition-independent "random" draw, the
    dataset_split trick), every centroid dimension is an exact-integer
    sum divided once, distances accumulate dim-sequentially, and argmin
    ties break to the lowest centroid id.
    """
    if k < 1 or iters < 0 or dim < 1:
        raise ValueError(f"need k>=1, iters>=0, dim>=1; got {k}/{iters}/{dim}")
    spark = df.sparkSession
    pts = df.select(
        F.col(id_col),
        quantize_embedding(F.col(emb), scale).alias("q"),
    ).withColumn("qd", F.transform("q", lambda x: x.cast("double")))

    # seeds: k smallest md5 keys (global top-k; WindowGroupLimit pushes
    # the rank below the exchange so only ~k rows per partition sort),
    # then ONE k-row collect — centroids live driver-side between
    # rounds (bounded: k x dim doubles, the MLlib/PQ-codebook shape)
    from pyspark.sql.window import Window

    h = md5_hash60(F.col(id_col).cast("string"), prefix=seed_prefix)
    seed_rows = (
        pts.withColumn("_h", h)
        .withColumn(
            "cid",
            F.row_number().over(Window.orderBy("_h", id_col)) - F.lit(1),
        )
        .filter(F.col("cid") < k)
        .select("cid", "qd")
        .collect()
    )
    seed_rows.sort(key=lambda r: r["cid"])
    cents = np.array([r["qd"] for r in seed_rows], dtype=np.float64)
    cids = np.array([r["cid"] for r in seed_rows], dtype=np.int64)

    for _ in range(iters):
        # per-round assignment UDF + exact integer per-dim sums in ONE
        # hash agg with map-side partials (no explode), k result rows
        # -> driver. (A fused assignment+partial-sums mapInPandas
        # variant measured SLOWER at bench scale — the JVM agg is
        # already k-rows-per-map-task partial, so fusing only moved
        # work into Python; see OPTIMIZATION_r06.md.)
        assign, bcasts = _assign_udf(spark, cents, cids, dim)
        sums = (
            pts.withColumn("cluster", assign(F.col("qd")))
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("q", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        # round over: release the per-iteration broadcast blocks (they
        # otherwise accrete on driver+executors across Lloyd rounds)
        for b in bcasts:
            b.unpersist()
        sums.sort(key=lambda r: r["cluster"])
        # one division per dim over exact integer sums -> centroids are
        # bit-identical to the oracle's CAST(sum AS DOUBLE)/n
        cents = np.array(
            [[float(r[f"s{i}"]) / r["n"] for i in range(dim)] for r in sums],
            dtype=np.float64,
        )
        cids = np.array([r["cluster"] for r in sums], dtype=np.int64)

    # the returned frame is lazy: its assignment broadcasts must stay
    # alive, so only the final pair survives the call
    assign, _final_bcasts = _assign_udf(spark, cents, cids, dim)
    return pts.withColumn("cluster", assign(F.col("qd"))).select(
        id_col, "cluster", "q"
    )


def _prune_schema(id_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("n_earlier_dups", T.LongType()),
            T.StructField("keep", T.IntegerType()),
        ]
    )


def semdedup(
    assigned: DataFrame,
    eps: float,
    id_col: str = "vec_id",
    max_cluster_rows: int | None = None,
) -> DataFrame:
    """SemDeDup prune over a kmeans_assign() result: within each
    cluster, a row is DROPPED when an earlier row (lower id) of the
    same cluster has cosine >= eps with it; the earliest row of every
    near-dup group survives.

    Returns (id_col, cluster, n_earlier_dups, keep) — keep as int 0/1.
    Pair work is confined to within-cluster, so the cost is sum c_i^2
    over cluster sizes, never N^2; `max_cluster_rows` (when set)
    raises before the pair work if any cluster exceeds the budget —
    at 10^12 rows pick k so clusters stay ~1e4-1e5 (SemDeDup uses
    k ~ sqrt(N)).

    Shape: ONE exchange on the cluster id, then a per-cluster
    vectorized cosine matrix in applyInPandas — norms once per row,
    dot accumulation dim-sequential (acc += outer(x_i, x_i), the same
    add order as a left-to-right fold, so the prune replays bit-for-bit
    in the oracle SQL: entry query `semdedup`), upper-triangle count per
    later id. Memory is c_i^2 doubles per group, which is exactly what
    max_cluster_rows bounds.
    """
    if max_cluster_rows is not None:
        # capped probe, same pattern as interval_join's broadcast gate:
        # one tiny agg action, raises before any quadratic work
        worst = (
            assigned.groupBy("cluster")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        if worst is not None and worst > max_cluster_rows:
            raise ValueError(
                f"semdedup: largest cluster has {worst} rows > "
                f"max_cluster_rows={max_cluster_rows}; increase k "
                "(SemDeDup wants k ~ sqrt(N))"
            )
    eps = float(eps)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        X = np.stack(pdf["qd"].to_numpy()[order])  # (c, dim) float64
        c, dim = X.shape
        acc = np.zeros((c, c))
        nrm2 = np.zeros(c)
        for i in range(dim):  # dim-sequential: the fold's add order
            xi = X[:, i]
            acc += np.multiply.outer(xi, xi)
            nrm2 += xi * xi
        nrm = np.sqrt(nrm2)
        cos = acc / np.multiply.outer(nrm, nrm)
        hit = cos >= eps
        # ids are strictly sorted; earlier row = strictly lower index,
        # so per-row dup counts are the column sums of the strictly
        # upper triangle (one boolean pass, no per-column Python loop)
        n_earlier = np.triu(hit, 1).sum(axis=0).astype(np.int64)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": pdf["cluster"].to_numpy()[order],
                "n_earlier_dups": n_earlier,
                "keep": (n_earlier == 0).astype(np.int32),
            }
        )

    side = assigned.select(
        F.col(id_col),
        F.col("cluster"),
        F.transform("q", lambda x: x.cast("double")).alias("qd"),
    )
    return side.groupBy("cluster").applyInPandas(prune, _prune_schema(id_col))
