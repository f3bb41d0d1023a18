"""k-means + SemDeDup (operators/kmeans.py) vs an independent
pure-Python oracle.

The oracle replays the documented algorithm with explicit sequential
float folds (same left-to-right order as the Spark HOF aggregate), so
assignments and keep flags must match EXACTLY — no tolerance. No
reference counterpart (pka/tile-grid is grid math); SemDeDup semantics
from Abbas et al. 2023 (cluster, then prune within cluster).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tile_grid_spark.operators.kmeans import (
    kmeans_assign,
    quantize_embedding,
    semdedup,
)

DIM = 8


def _mk_df(spark, ids, X, parts=4):
    rows = [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema).repartition(parts)


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _quant(X, scale=1024):
    # float32 -> float64 widening first, like the Spark cast
    return np.floor(X.astype(np.float32).astype(np.float64) * scale + 0.5).astype(
        np.int64
    )


def _d2_seq(a, b):
    s = 0.0
    for x, y in zip(a, b):
        t = x - y
        s += t * t
    return s


def _dot_seq(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _assign_row(qd, cents):
    # argmin by (d, cid) — the array_min(struct(d, cid)) tie rule
    best = None
    for cid, c in cents:
        d = _d2_seq(qd, c)
        if best is None or (d, cid) < best:
            best = (d, cid)
    return best[1]


def _py_kmeans(ids, X, k, iters, scale=1024, prefix="kmseed"):
    q = _quant(X, scale)
    qd = q.astype(np.float64)
    order = sorted(range(len(ids)), key=lambda i: (_h60(f"{prefix}:{ids[i]}"), ids[i]))
    cents = [(cid, qd[order[cid]].copy()) for cid in range(min(k, len(ids)))]
    for _ in range(iters):
        lab = [_assign_row(qd[i], cents) for i in range(len(ids))]
        cents = []
        for cid in sorted(set(lab)):
            m = [i for i in range(len(ids)) if lab[i] == cid]
            s = q[m].sum(axis=0)  # exact integer sums
            cents.append((cid, s.astype(np.float64) / len(m)))
    return {int(ids[i]): _assign_row(qd[i], cents) for i in range(len(ids))}, q


def _py_semdedup(ids, q, lab, eps):
    qd = q.astype(np.float64)
    nrm = {i: np.sqrt(_dot_seq(qd[p], qd[p])) for p, i in enumerate(ids)}
    pos = {int(i): p for p, i in enumerate(ids)}
    out = {}
    for j in ids:
        n = 0
        for i in ids:
            if i < j and lab[i] == lab[j]:
                cos = _dot_seq(qd[pos[i]], qd[pos[j]]) / (nrm[i] * nrm[j])
                if cos >= eps:
                    n += 1
        out[int(j)] = n
    return out


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, DIM))
    # plant near-duplicate pairs: rows 60..71 are tiny perturbations of
    # rows 0..11 so semdedup has real within-cluster dups to prune
    dups = base[:12] + rng.normal(scale=1e-3, size=(12, DIM))
    X = np.vstack([base, dups]).astype(np.float32)
    ids = np.arange(len(X), dtype=np.int64)
    return ids, X


def test_kmeans_assign_matches_python_oracle(spark, data):
    ids, X = data
    want, _ = _py_kmeans(ids, X, k=5, iters=2)
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(_mk_df(spark, ids, X), k=5, dim=DIM, iters=2).collect()
    }
    assert got == want


def test_kmeans_partition_invariant(spark, data):
    ids, X = data
    a = kmeans_assign(_mk_df(spark, ids, X, parts=1), k=4, dim=DIM, iters=1)
    b = kmeans_assign(_mk_df(spark, ids, X, parts=7), k=4, dim=DIM, iters=1)
    ra = sorted((r["vec_id"], r["cluster"]) for r in a.collect())
    rb = sorted((r["vec_id"], r["cluster"]) for r in b.collect())
    assert ra == rb


def test_kmeans_iters_zero_uses_seed_centroids(spark, data):
    ids, X = data
    want, _ = _py_kmeans(ids, X, k=3, iters=0)
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(_mk_df(spark, ids, X), k=3, dim=DIM, iters=0).collect()
    }
    assert got == want


def test_semdedup_matches_python_oracle(spark, data):
    ids, X = data
    eps = 0.95
    lab, q = _py_kmeans(ids, X, k=5, iters=2)
    want = _py_semdedup(ids, q, lab, eps)
    assigned = kmeans_assign(_mk_df(spark, ids, X), k=5, dim=DIM, iters=2)
    rows = semdedup(assigned, eps=eps).collect()
    got = {r["vec_id"]: r["n_earlier_dups"] for r in rows}
    assert got == want
    # planted dups (later id of each pair, same cluster) are dropped
    dropped = {r["vec_id"] for r in rows if r["keep"] == 0}
    expect_dropped = {
        j for j in ids if want[int(j)] > 0
    }
    assert dropped == expect_dropped
    assert dropped  # the planted pairs actually fired
    # every drop has a surviving earlier twin in the same cluster
    keep_by_cluster = {}
    for r in rows:
        if r["keep"] == 1:
            keep_by_cluster.setdefault(r["cluster"], []).append(r["vec_id"])
    for r in rows:
        if r["keep"] == 0:
            assert any(i < r["vec_id"] for i in keep_by_cluster.get(r["cluster"], []))


def test_semdedup_cluster_cap(spark, data):
    ids, X = data
    assigned = kmeans_assign(_mk_df(spark, ids, X), k=2, dim=DIM, iters=1)
    with pytest.raises(ValueError, match="max_cluster_rows"):
        semdedup(assigned, eps=0.9, max_cluster_rows=3)
    # generous cap passes through
    out = semdedup(assigned, eps=0.9, max_cluster_rows=10_000)
    assert out.count() == len(ids)


def test_kmeans_validation(spark, data):
    ids, X = data
    df = _mk_df(spark, ids, X)
    with pytest.raises(ValueError):
        kmeans_assign(df, k=0, dim=DIM)
    with pytest.raises(ValueError):
        kmeans_assign(df, k=2, dim=DIM, iters=-1)


def test_quantize_is_round_half_up(spark):
    df = spark.createDataFrame(
        [([0.0004882812, -0.0004882812, 0.25, -0.25],)],
        T.StructType(
            [T.StructField("e", T.ArrayType(T.FloatType()))]
        ),
    )
    got = df.select(quantize_embedding(F.col("e"), 1024).alias("q")).first()["q"]
    # 0.0004882812*1024 = 0.49999996 -> 0 ; floor(-0.49999996+0.5) -> 0
    # 0.25*1024 = 256 ; -0.25*1024 -> floor(-255.5) = -256
    assert got == [0, 0, 256, -256]
