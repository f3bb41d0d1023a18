"""Bench harness: headline engine queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...extras}

Extras carry the throughput numbers BASELINE.md commits to
(tile-assignments/sec, PIP-join rows/sec). Results are forced with the
noop sink so nothing is collected to the driver.

This is the per-query regression gate; the repository benchmark is
perfbench/ (BENCHMARK.json). The r6 scaling evidence (local[8] vs
local[32]) is frozen in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as E
from tile_grid_spark.functions import grid_cols as G
from tile_grid_spark.operators import cover as C
from tile_grid_spark.plans.session import build_session
from tile_grid_spark.sources.io import read_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ALL_ZOOMS = list(range(25))
# Row count for the generated-input scale benches (the throughput numbers
# BASELINE.md gates on). Sized so a run takes tens of seconds and fixed
# job overheads amortize away — the sf0.1 parquet alone is 1-3s of work,
# which measures scheduler overhead, not engine throughput.
SCALE_ROWS = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", "40000000"))
# The PIP probe and the checksum-consumed assignment have very different
# per-row costs, so PIP gets its own row count (set both explicitly so
# each job runs long enough to measure scaling, not fixed job-submission
# overhead).
PIP_SCALE_ROWS = int(
    os.environ.get("SPARK_GRAFT_PIP_ROWS", str(SCALE_ROWS * 8))
)
# The shuffle-bearing aggregate, kNN and doc benches were parquet-sized
# (1-3s jobs) and anti-scaled 8->32 purely on fixed overhead; they now
# run on generated/amplified inputs sized so parallel compute dominates.
AGG_ROWS = int(os.environ.get("SPARK_GRAFT_AGG_ROWS", "40000000"))
KNN_ROWS = int(os.environ.get("SPARK_GRAFT_KNN_ROWS", "2000000"))
SEMDEDUP_ROWS = int(os.environ.get("SPARK_GRAFT_SEMDEDUP_ROWS", "40000"))
GI_ROWS = int(os.environ.get("SPARK_GRAFT_GI_ROWS", "1000000"))
DBSCAN_ROWS = int(os.environ.get("SPARK_GRAFT_DBSCAN_ROWS", "60000"))
DOC_REP = int(os.environ.get("SPARK_GRAFT_DOC_REP", "128"))
# The sf-parquet suite rows are replicated so the jobs measure engine
# work, not fixed job-submission overhead (sub-3s jobs read as
# anti-scaling at 32 threads purely from constant costs).
SF_REP = int(os.environ.get("SPARK_GRAFT_SF_REP", "8"))
# Host noise on this shared box is 10x at minutes scale (identical jobs
# measured 2.6s and 26s in different windows; r2's pip_join_scale
# snapshot read 2x slow purely from neighbor load). The suite therefore
# runs BENCH_REPEATS times with CPU-calibration probes BRACKETING each
# rep; per-query time is the MIN across reps (same work, so min = least
# contaminated) and the probe rates ship in the JSON so a slow snapshot
# is distinguishable from a slow engine. An external A/B harness that
# brackets runs itself can set repeats=1.
BENCH_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))

_CAL_CODE = (
    "import math\nx=0.0\n"
    "for i in range(4_000_000): x += math.tan(0.5+i*1e-9)\n"
    "print(x)"
)


def cal_probe(n_procs: int | None = None) -> float:
    """Outcome-independent quietness signal: aggregate completions/sec of
    n fixed-work pure-CPU subprocesses (no JVM/Spark), sized ~1s."""
    import subprocess

    n = n_procs or min(CPUS, 32)
    t0 = time.time()
    ps = [
        subprocess.Popen([sys.executable, "-c", _CAL_CODE], stdout=subprocess.DEVNULL)
        for _ in range(n)
    ]
    for p in ps:
        p.wait()
    return round(n / (time.time() - t0), 2)


def synth_points(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic generated points, pure JVM column arithmetic (no IO,
    no Python) — the input for throughput measurement."""
    return spark.range(0, n, numPartitions=CPUS * 2).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 9973) % 360000 / F.lit(1000.0) - F.lit(180.0)).alias("lon"),
        ((F.col("id") * 7919) % 170000 / F.lit(1000.0) - F.lit(85.0)).alias("lat"),
    )


def force(df: DataFrame) -> int:
    """Execute fully on executors; return row count via the cheapest
    full-evaluation path (noop write does not expose counts, so count())."""
    return df.count()


def synth_blob_points(spark: SparkSession, n: int) -> DataFrame:
    """Spatially SKEWED deterministic points: 70% in 16 dense ~2-degree
    blobs, 30% world-uniform — the input shape hotspot/DBSCAN exist for
    (pure JVM column arithmetic, no Python)."""
    base = spark.range(0, n, numPartitions=CPUS * 2)
    blob = F.pmod(F.col("id"), F.lit(16))
    cx = blob.cast("double") * F.lit(22.0) - F.lit(170.0)
    cy = F.pmod(blob.cast("double") * F.lit(37.0), F.lit(100.0)) - F.lit(50.0)
    jx = (F.col("id") * 9973 % 2000) / F.lit(1000.0) - F.lit(1.0)
    jy = (F.col("id") * 7919 % 2000) / F.lit(1000.0) - F.lit(1.0)
    ux = (F.col("id") * 104729 % 360000) / F.lit(1000.0) - F.lit(180.0)
    uy = (F.col("id") * 15485863 % 170000) / F.lit(1000.0) - F.lit(85.0)
    is_blob = F.pmod(F.col("id"), F.lit(10)) < 7
    return base.select(
        F.col("id").alias("pid"),
        F.when(is_blob, cx + jx).otherwise(ux).alias("lon"),
        F.when(is_blob, cy + jy).otherwise(uy).alias("lat"),
    )


def bench_hotspot(spark: SparkSession) -> dict:
    """Getis-Ord Gi* at generated scale: GI_ROWS skewed points -> per-
    tile z10 significance scores. Measures the operator's whole shape:
    one point-level count exchange, the 9-offset TILE explode (shuffle
    ~ 9x non-empty tiles, independent of point count), packed-bigint
    join, broadcast moments."""
    from tile_grid_spark.operators.hotspot import getis_ord_gi_star

    pts = synth_blob_points(spark, GI_ROWS).cache()
    pts.count()  # generation outside the timed region (knn precedent)
    t0 = time.time()
    n = force(getis_ord_gi_star(pts, E.WM, zoom=10))
    dt = time.time() - t0
    assert n > 0
    pts.unpersist()
    return {"sec": dt, "gi_tiles": n, "gi_points": GI_ROWS}


def bench_dbscan(spark: SparkSession) -> dict:
    """DBSCAN at generated scale: DBSCAN_ROWS skewed points, eps 5 km,
    min_pts 8 — blob interiors become core clusters, the uniform
    background becomes noise. Measures radius_join candidate
    generation (ring equi-join at the auto-picked zoom), degree
    aggregation, CC over core-core edges and the border/noise
    assembly."""
    from tile_grid_spark.operators.dbscan import dbscan

    pts = synth_blob_points(spark, DBSCAN_ROWS).cache()
    pts.count()
    t0 = time.time()
    n = force(dbscan(pts, E.WM, eps=5_000.0, min_pts=8, id_col="pid"))
    dt = time.time() - t0
    assert n == DBSCAN_ROWS
    pts.unpersist()
    return {"sec": dt, "dbscan_points": DBSCAN_ROWS}


def force_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_tile_assign_scale(spark: SparkSession) -> dict:
    """Headline throughput: SCALE_ROWS generated points -> tiles at all 25
    zooms (SCALE_ROWS*25 assignments), zero shuffles.

    The result is consumed by a checksum aggregate, NOT a row sink: the
    whole generate->assign->agg pipeline stays in whole-stage-codegen
    registers, so the metric measures assignment COMPUTE. A noop sink
    still pays one UnsafeRow materialization per output row, which makes
    the job memory-bandwidth-bound and (on this shared box) hostage to
    neighbors' bandwidth use — measured anti-scaling 43s->69s from 8 to
    32 threads in a bandwidth-contended window, with the checksum
    variant unaffected. The checksum also pins correctness: Catalyst
    cannot dead-code-eliminate the tile math under sum()."""
    pts = synth_points(spark, SCALE_ROWS).drop("pid")
    assigned = G.with_tiles_multizoom(pts, E.WM, ALL_ZOOMS).select(
        "zoom", "tile_x", "tile_y"
    )
    t0 = time.time()
    row = assigned.agg(
        F.sum(F.col("tile_x") + F.col("tile_y")).alias("cksum"),
        F.count("*").alias("n"),
    ).collect()[0]
    dt = time.time() - t0
    assert row["n"] == SCALE_ROWS * len(ALL_ZOOMS)
    return {"sec": dt, "assignments": SCALE_ROWS * len(ALL_ZOOMS)}


def bench_pip_scale(spark: SparkSession) -> dict:
    """Headline PIP throughput: PIP_SCALE_ROWS generated points x 400-rect
    layer via cover prefilter + broadcast join (output ~0.6 rows/point,
    long enough to amortize broadcast build + JIT)."""
    ZOOM = 7
    pts = G.with_tile(synth_points(spark, PIP_SCALE_ROWS), E.WM, ZOOM)
    rects = spark.range(400).select(
        F.col("id").alias("poly_id"),
        (F.lit(-180.0) + (F.col("id") % 24) * F.lit(15.0) + F.lit(1.0 / 7.0)).alias("minx"),
        (F.lit(-85.0) + (F.col("id") % 17) * F.lit(10.0) + F.lit(1.0 / 7.0)).alias("miny"),
    )
    rects = rects.withColumns(
        {"maxx": F.col("minx") + F.lit(12.0), "maxy": F.col("miny") + F.lit(8.0)}
    )
    rect_tiles = C.cover_bbox_geographic(rects, E.WM, ZOOM).withColumn(
        "_tk", G.tile_key("tile_x", "tile_y")
    ).drop("tile_x", "tile_y")
    pts = pts.withColumn("_tk", G.tile_key("tile_x", "tile_y"))
    joined = pts.join(F.broadcast(rect_tiles), "_tk").filter(
        (F.col("lon") >= F.col("minx"))
        & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny"))
        & (F.col("lat") <= F.col("maxy"))
    )
    t0 = time.time()
    rows = force(joined.select("pid", "poly_id"))
    dt = time.time() - t0
    return {"sec": dt, "pip_rows": rows}


def _sf_points(spark: SparkSession) -> DataFrame:
    """lineitem-derived points, replicated SF_REP times with decorrelated
    coordinates per replica (key folds in the replica index)."""
    li = read_table(spark, SF_DIR, "lineitem").repartition(CPUS * 2)
    key = f"(l_orderkey * 4 + l_linenumber) * {SF_REP} + _rep"
    return li.withColumn(
        "_rep", F.explode(F.sequence(F.lit(0), F.lit(SF_REP - 1)))
    ).select(
        F.col("l_orderkey").alias("pid"),
        F.expr(E._lon_sql(key)).alias("lon"),
        F.expr(E._lat_sql(key)).alias("lat"),
    )


def bench_tile_assign_all_zooms(spark: SparkSession) -> dict:
    """Headline: every (replicated) lineitem point -> tile at zooms 0..24
    (narrow plan, broadcast params, zero shuffle). Consumed by checksum
    aggregate like tile_assign_scale — a noop sink pays one UnsafeRow
    materialization per output row, turning a compute benchmark into a
    memory-bandwidth one (this box's mem-BW does not scale 8->32)."""
    pts = _sf_points(spark)
    n_points = pts.count()
    assigned = G.with_tiles_multizoom(pts, E.WM, ALL_ZOOMS).select(
        "zoom", "tile_x", "tile_y"
    )
    t0 = time.time()
    row = assigned.agg(
        F.sum(F.col("tile_x") + F.col("tile_y")).alias("cksum"),
        F.count("*").alias("n"),
    ).collect()[0]
    dt = time.time() - t0
    assert row["n"] == n_points * len(ALL_ZOOMS)
    return {"sec": dt, "sf_assignments": n_points * len(ALL_ZOOMS)}


def bench_pip_join(spark: SparkSession) -> dict:
    """PIP join rows/sec: points x rectangle layer via tile prefilter."""
    ZOOM = 7
    pts = G.with_tile(_sf_points(spark), E.WM, ZOOM)
    n = 200  # polygon layer size
    rects = spark.range(n).select(
        F.col("id").alias("poly_id"),
        (F.lit(-180.0) + (F.col("id") % 24) * F.lit(15.0) + F.lit(1.0 / 7.0)).alias("minx"),
        (F.lit(-85.0) + (F.col("id") % 17) * F.lit(10.0) + F.lit(1.0 / 7.0)).alias("miny"),
    )
    rects = rects.withColumns(
        {"maxx": F.col("minx") + F.lit(12.0), "maxy": F.col("miny") + F.lit(8.0)}
    )
    rect_tiles = C.cover_bbox_geographic(rects, E.WM, ZOOM).withColumn(
        "_tk", G.tile_key("tile_x", "tile_y")
    ).drop("tile_x", "tile_y")
    pts = pts.withColumn("_tk", G.tile_key("tile_x", "tile_y"))
    joined = pts.join(F.broadcast(rect_tiles), "_tk").filter(
        (F.col("lon") >= F.col("minx"))
        & (F.col("lon") <= F.col("maxx"))
        & (F.col("lat") >= F.col("miny"))
        & (F.col("lat") <= F.col("maxy"))
    )
    t0 = time.time()
    rows = force(joined.select("pid", "poly_id"))
    dt = time.time() - t0
    return {"sec": dt, "sf_join_rows": rows}


def bench_quadkey(spark: SparkSession) -> dict:
    """Quadkey compose. Round 3 rewrote quadkey_col as Morton fold +
    conv(,10,4) + lpad (one string per row instead of a per-digit
    transform lambda doing pow/floor double math): measured 30-45x on
    this exact shape (19.9s -> 0.45s, 8M z12 keys, local[32]). Still
    allocation-bound at the margin (one string per row), consumed by
    hash checksum so the sink adds no second allocation."""
    t = G.with_tile(_sf_points(spark), E.WM, 12).withColumn("zoom", F.lit(12))
    qk = t.withColumn("qk", G.quadkey_col("tile_x", "tile_y", "zoom"))
    t0 = time.time()
    qk.agg(F.sum(F.xxhash64("qk")).alias("cksum"), F.count("*")).collect()
    return {"sec": time.time() - t0}


def bench_per_tile_agg(spark: SparkSession) -> dict:
    """Shuffle-bearing per-tile density at z10 (hash agg with map-side
    partials, AQE coalesce) over AGG_ROWS generated points — ~1M groups,
    a real multi-GB shuffle instead of a 1-3s parquet job whose fixed
    overhead anti-scaled 8->32."""
    from tile_grid_spark.plans.skew import pre_partitioned_agg

    pts = synth_points(spark, AGG_ROWS).select(
        "lon", "lat", (F.col("pid") % 1000 / F.lit(10.0)).alias("v")
    )
    t = G.with_tile(pts, E.WM, 10)
    # ~1M groups over AGG_ROWS rows: high-cardinality shape, so shuffle
    # by key first and aggregate owned partitions (see plans/skew.py —
    # the default partial-agg plan builds 600k-entry maps per map task
    # and anti-scales with concurrent tasks)
    agg = pre_partitioned_agg(
        t,
        {"n": F.count("*"), "sv": F.sum("v")},
        keys=("tile_x", "tile_y"),
        num_partitions=CPUS * 2,
    )
    t0 = time.time()
    row = agg.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_tiles")
    ).collect()[0]
    dt = time.time() - t0
    assert row["total"] == AGG_ROWS
    return {"sec": dt}


def synth_embeddings(spark: SparkSession, n: int, dim: int = 32) -> DataFrame:
    """Deterministic generated embeddings (JVM transform over a sequence,
    no Python)."""
    return spark.range(0, n, numPartitions=CPUS * 2).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) / 500.0 - 1.0,
        ).alias("embedding"),
    )


def bench_knn(spark: SparkSession) -> dict:
    """Exact-cosine brute-force top-k at generated scale: 64 queries x
    KNN_ROWS candidates (dim 32) through the Arrow matmul path
    (similarity.brute_force_topk_arrow) — one BLAS block per batch +
    two-stage top-k, the bulk exact-scoring shape. The JVM HOF variant
    stays as the oracle-parity baseline (interpreted per pair, ~3
    orders slower — measured in similarity.py docstrings)."""
    from tile_grid_spark.operators.similarity import brute_force_topk_arrow

    q = synth_embeddings(spark, 64).withColumnRenamed("vec_id", "query_id")
    # materialize candidates OUTSIDE the timed region: generation is a
    # HOF pipeline with its own cost profile; this row measures SCORING
    c = synth_embeddings(spark, KNN_ROWS).withColumnRenamed("vec_id", "cand_id").cache()
    c.count()
    t0 = time.time()
    n = force(brute_force_topk_arrow(q, c, k=10))
    dt = time.time() - t0
    assert n == 64 * 10
    c.unpersist()
    return {"sec": dt, "knn_pairs": 64 * KNN_ROWS}


def bench_semdedup(spark: SparkSession) -> dict:
    """SemDeDup at generated scale: SEMDEDUP_ROWS 32-dim embeddings
    through the full cluster-then-prune pipeline (2 Lloyd rounds over
    k=128 broadcast centroids — zero-shuffle assignment projections,
    k-key update aggs — then the within-cluster cosine pair join).
    Measures the end-to-end semantic-dedup shape: pair work is
    sum c_i^2 ~ N^2/k, never N^2; assignment is the zero-shuffle Arrow
    path against broadcast numpy centroids, the update agg is JVM
    integer sums."""
    from tile_grid_spark.operators.kmeans import kmeans_assign, semdedup

    emb = synth_embeddings(spark, SEMDEDUP_ROWS).cache()
    emb.count()  # generation outside the timed region (knn precedent)
    t0 = time.time()
    assigned = kmeans_assign(emb, k=128, dim=32, iters=2)
    n = force(semdedup(assigned, eps=0.92))
    dt = time.time() - t0
    assert n == SEMDEDUP_ROWS
    emb.unpersist()
    return {"sec": dt, "semdedup_rows": SEMDEDUP_ROWS}


def bench_docs(spark: SparkSession) -> dict:
    """Document ops at amplified scale: the sf corpus replicated DOC_REP
    times (distinct doc ids), then token/char stats and exact dedup —
    string work dominates instead of job submission."""
    d = read_table(spark, SF_DIR, "documents").repartition(CPUS * 2)
    amp = d.withColumn("_rep", F.explode(F.sequence(F.lit(1), F.lit(DOC_REP)))).select(
        (F.col("doc_id") * DOC_REP + F.col("_rep")).alias("doc_id"),
        "lang", "source", "text",
    )
    stats = amp.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )
    dedup = (
        amp.groupBy(F.md5(F.substring("text", 1, 100)).alias("fp"))
        .agg(
            F.count("*").alias("dup_count"),
            F.countDistinct(F.md5("text")).alias("n_exact_variants"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )
    t0 = time.time()
    stats.agg(F.sum("n_docs"), F.sum("total_tokens")).collect()
    dedup.agg(F.sum("dup_count"), F.count("*")).collect()
    return {"sec": time.time() - t0}


PH_N = int(os.environ.get("SPARK_GRAFT_PHASH_N", "8000000"))
CC_NODES = int(os.environ.get("SPARK_GRAFT_CC_NODES", "1000000"))


def bench_phash_band_join(spark: SparkSession) -> dict:
    """Banded Hamming near-dup join at web-scale shape: PH_N synthetic
    64-bit fingerprints, a planted 1-bit twin per id pair, bands=2
    (32-bit band keys — at N in the millions, 16-bit bands drown in
    accidental bucket collisions; see hamming_near_pairs' scale rule).
    Measures candidate generation + bit_count verify end to end."""
    from tile_grid_spark.operators.dedup import hamming_near_pairs

    df = spark.range(PH_N).select(
        F.col("id").alias("image_id"),
        F.xxhash64(F.floor(F.col("id") / 2).cast("long"))
        .bitwiseXOR(F.when(F.pmod("id", F.lit(2)) == 1, F.lit(1 << 7)).otherwise(F.lit(0)))
        .alias("phash"),
    )
    # persist=False: the fingerprint is one xxhash64 — recomputing beats
    # pinning 2*PH_N banded rows in storage across bench repeats
    pairs = hamming_near_pairs(
        df, "image_id", "phash", max_hamming=2, bands=2, persist=False
    )
    t0 = time.time()
    n = pairs.agg(F.count("*"), F.sum("hamming")).collect()[0][0]
    dt = time.time() - t0
    return {"sec": dt, "phash_rows": PH_N, "phash_pairs": n}


def bench_connected_components(spark: SparkSession) -> dict:
    """Iterative star rounds over a CC_NODES-node graph (chains of 8 +
    10%-density long-range merges): the pairs->clusters stage's shuffle
    loop, convergence included."""
    from tile_grid_spark.operators.cluster import connected_components

    ids = spark.range(CC_NODES)
    e1 = ids.filter(F.pmod("id", F.lit(8)) < 7).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    e2 = ids.filter(F.pmod("id", F.lit(80)) == 3).select(
        F.col("id").alias("id_a"), (F.col("id") + 11).alias("id_b")
    )
    t0 = time.time()
    comp = connected_components(e1.unionByName(e2))
    n = comp.agg(
        F.count("*"), F.countDistinct("component").alias("n_comp")
    ).collect()[0]
    dt = time.time() - t0
    return {"sec": dt, "cc_nodes": int(n[0]), "cc_components": int(n[1])}


MVT_ROWS = int(os.environ.get("SPARK_GRAFT_MVT_ROWS", "2000000"))
SIMPLIFY_TRAJS = int(os.environ.get("SPARK_GRAFT_SIMPLIFY_TRAJS", "2000"))
SIMPLIFY_STEPS = int(os.environ.get("SPARK_GRAFT_SIMPLIFY_STEPS", "200"))


def bench_mvt_encode(spark: SparkSession) -> dict:
    """Vector-tile production throughput: MVT_ROWS generated points
    quantized with native Columns, ONE tile-key exchange, per-tile
    MVT binaries built by the batched group kernel (z6: ~4k tiles, ~500 pts/tile —
    the serving-pyramid mid-zoom shape)."""
    from tile_grid_spark.operators.vector_tiles import encode_point_tiles

    pts = synth_points(spark, MVT_ROWS)
    t0 = time.time()
    tiles = encode_point_tiles(pts, E.WM, zoom=6)
    row = tiles.agg(
        F.count("*").alias("n_tiles"),
        F.sum("n_features").alias("n_feats"),
        F.sum(F.length("mvt")).alias("bytes"),
    ).collect()[0]
    dt = time.time() - t0
    assert row["n_feats"] == MVT_ROWS
    return {"sec": dt, "mvt_points": MVT_ROWS, "mvt_tiles": int(row["n_tiles"])}


def bench_path_simplify(spark: SparkSession) -> dict:
    """Douglas-Peucker throughput: SIMPLIFY_TRAJS trajectories x
    SIMPLIFY_STEPS vertices (deterministic zig-zag walks), one hash
    exchange on the trajectory key + the per-trajectory numpy kernel."""
    from tile_grid_spark.operators.simplify import simplify_paths

    n = SIMPLIFY_TRAJS * SIMPLIFY_STEPS
    pts = spark.range(0, n, numPartitions=CPUS * 2).select(
        (F.col("id") / SIMPLIFY_STEPS).cast("bigint").alias("tid"),
        F.pmod("id", F.lit(SIMPLIFY_STEPS)).alias("seq"),
    )
    pts = pts.withColumns(
        {
            "x": (F.col("tid") % 360 - 180.0)
            + F.col("seq") * 0.01
            + F.when(F.pmod("seq", F.lit(9)) < 5, F.pmod("seq", F.lit(9)) * 0.21)
            .otherwise((9 - F.pmod("seq", F.lit(9))) * 0.21),
            "y": (F.col("tid") % 140 - 70.0) + F.pmod("seq", F.lit(5)) * 0.17,
        }
    )
    t0 = time.time()
    kept = simplify_paths(pts, 0.25)
    k = kept.count()
    dt = time.time() - t0
    assert 2 * SIMPLIFY_TRAJS <= k <= n
    return {"sec": dt, "simplify_vertices": n, "simplify_kept": int(k)}


SP_FIXES = int(os.environ.get("SPARK_GRAFT_SP_FIXES", "2000000"))


def bench_staypoints_od(spark: SparkSession) -> dict:
    """Mobility pipeline at generated scale: SP_FIXES fixes over 20k
    users (clusters of 8 with ~1.1 km jumps, the staypoints-query
    synthesis), stay-point segmentation (window + reused-partitioning
    agg) chained into the z15 OD flow matrix — windows, lead, tile
    snap and the pair agg in one measured pipeline."""
    from tile_grid_spark.operators.staypoint import od_flows, staypoints

    # ~100 fixes per user at any scale: 12 dwell clusters -> 11 trips
    n_users = max(SP_FIXES // 100, 1)
    ids = spark.range(SP_FIXES)
    i = (F.col("id") / n_users).cast("long")  # per-user fix index
    user = F.col("id") % n_users
    cl = (i / 8).cast("long")
    t = ids.select(
        F.col("id").alias("event_id"),
        user.alias("user_id"),
        F.timestamp_seconds(i * 60 + (F.col("id") % 59)).alias("ts"),
        (
            F.lit(-100.0)
            + (user % 100) * 0.5
            + cl * 0.01
            + ((F.col("id") * 7) % 21 - 10) * 0.00008
        ).alias("lon"),
        (
            F.lit(10.0)
            + (user % 50) * 0.3
            + cl * 0.01
            + ((F.col("id") * 11) % 21 - 10) * 0.00008
        ).alias("lat"),
    )
    t0 = time.time()
    sp = staypoints(t, radius_m=500.0, min_points=5, tiebreak="event_id")
    n = force(od_flows(sp, E.WM, zoom=15))
    dt = time.time() - t0
    return {"sec": dt, "sp_fixes": SP_FIXES, "od_rows": n}


IMG_ROWS = int(os.environ.get("SPARK_GRAFT_IMG_ROWS", "20000"))


def bench_image_decode(spark: SparkSession) -> dict:
    """The image axis of the graft at generated scale: IMG_ROWS rows of
    the input_hint table (mixed raw/zlib/PNG/JPEG payloads, real codecs)
    are decoded through the zero-shuffle mapInPandas stats mapper, tile-
    assigned at z8 from their positions and rolled up per tile — the
    bench twin of the `tile_image_stats` oracle query.

    The table is materialized ONCE to local parquet outside the timed
    region (generation itself encodes every payload; per-row seeding
    makes the file bit-identical at any parallelism, so the 8- and
    32-proc scaling runs read the same input), then the timed pipeline
    is scan -> Arrow decode -> tile math -> hash rollup -> checksum."""
    from tile_grid_spark.functions.image import image_pixel_stats
    from tile_grid_spark.sources.datagen import generate_images

    path = f"/tmp/tgs_bench_images_{IMG_ROWS}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        generate_images(spark, IMG_ROWS, partitions=CPUS * 2).write.mode(
            "overwrite"
        ).parquet(path)
    imgs = spark.read.parquet(path)
    t0 = time.time()
    stats = image_pixel_stats(imgs, passthrough=("lon", "lat"))
    tiled = G.with_tile(stats, E.WM, 8)
    row = (
        tiled.groupBy("tile_x", "tile_y")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("n_px").alias("px"),
            F.sum("sum_px").alias("sum_px"),
        )
        .agg(
            F.sum("n_images").alias("n"),
            F.sum("px").alias("px"),
            F.sum(F.col("sum_px").cast("decimal(38,0)")).alias("cksum"),
        )
        .collect()[0]
    )
    dt = time.time() - t0
    assert row["n"] == IMG_ROWS
    return {"sec": dt, "images": IMG_ROWS, "pixels": int(row["px"])}


def main() -> None:
    spark = build_session(
        "tgs-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        extra_conf={
            "spark.ui.enabled": "false",
            # throughput-path GC: the generator fanout allocates hard;
            # ParallelGC with a large fixed young gen measures 15-37%
            # faster than default G1 on this workload at both 8 and 32
            # threads (equivalent to executor JVM flags on a cluster)
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
            "spark.driver.extraJavaOptions": os.environ.get(
                "SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC -Xmn16g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up JIT/codegen + noop sink with a miniature of the headline plan
    # so per-query timings measure steady-state throughput, not first-job
    # compilation (matches how a long-running cluster job behaves).
    warm = spark.range(10000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
        (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
    )
    force_noop(G.with_tiles_multizoom(warm, E.WM, ALL_ZOOMS))
    # also JIT the broadcast-join + filter pipeline used by the PIP benches
    wrects = spark.range(4).select(
        F.col("id").alias("poly_id"),
        (F.lit(-10.0) + F.col("id") * 5.0).alias("minx"), F.lit(-10.0).alias("miny"),
        (F.lit(-5.0) + F.col("id") * 5.0).alias("maxx"), F.lit(10.0).alias("maxy"),
    )
    wt = C.cover_bbox_geographic(wrects, E.WM, 7).withColumn(
        "_tk", G.tile_key("tile_x", "tile_y")
    ).drop("tile_x", "tile_y")
    force(
        G.with_tile(warm, E.WM, 7)
        .withColumn("_tk", G.tile_key("tile_x", "tile_y"))
        .join(F.broadcast(wt), "_tk")
        .filter((F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx")))
        .select("pid", "poly_id")
    )

    # warm the Arrow scoring pipeline (python worker spin-up + first
    # Arrow batch transfer; without this the knn row measures warm-up)
    from tile_grid_spark.operators.similarity import brute_force_topk_arrow

    wq = synth_embeddings(spark, 4, dim=32).withColumnRenamed("vec_id", "query_id")
    wc_ = synth_embeddings(spark, 2000, dim=32).withColumnRenamed("vec_id", "cand_id")
    force(brute_force_topk_arrow(wq, wc_, k=3))

    # warm the CC loop: pre-contraction's mapInPandas workers + the
    # star-round window/checkpoint plan JIT (measured: a cold first cc
    # rep runs ~2-3x the steady state, and with 2 bench repeats the min
    # still carries warm-up, not throughput)
    from tile_grid_spark.operators.cluster import connected_components as _cc

    wids = spark.range(20_000)
    wedges = wids.filter(F.pmod("id", F.lit(8)) < 7).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    force(_cc(wedges))

    # warm the Lloyd + prune plan (codegen of the centroid-fold
    # projections dominates a cold first rep)
    from tile_grid_spark.operators.kmeans import kmeans_assign, semdedup

    wemb = synth_embeddings(spark, 2_000)
    force(semdedup(kmeans_assign(wemb, k=16, dim=32, iters=1), eps=0.92))

    # warm the dbscan composition (radius_join ring explode + CC +
    # border assembly codegen)
    from tile_grid_spark.operators.dbscan import dbscan as _dbscan

    force(_dbscan(synth_blob_points(spark, 3_000), E.WM, eps=5_000.0, min_pts=8))

    benches = {
        "tile_assign_scale": bench_tile_assign_scale,
        "pip_join_scale": bench_pip_scale,
        "tile_assign_all_zooms": bench_tile_assign_all_zooms,
        "pip_join": bench_pip_join,
        "quadkey_z12": bench_quadkey,
        "per_tile_agg_z10": bench_per_tile_agg,
        "knn_bruteforce": bench_knn,
        "doc_ops": bench_docs,
        "phash_band_join": bench_phash_band_join,
        "cc_star_rounds": bench_connected_components,
        "mvt_encode_z6": bench_mvt_encode,
        "path_simplify": bench_path_simplify,
        "staypoints_od": bench_staypoints_od,
        "image_decode_tile": bench_image_decode,
        "semdedup": bench_semdedup,
        "gi_hotspot": bench_hotspot,
        "dbscan": bench_dbscan,
    }
    # quiet-window protocol: probe -> suite -> probe, repeated; keep the
    # per-query MIN (identical work per rep, so min is the least-noisy
    # sample) and ship every probe rate so a contaminated snapshot is
    # self-documenting instead of silently 2x slow (r2 postmortem)
    queries: dict[str, float] = {}
    counts: dict[str, dict] = {}
    probes: list[float] = [cal_probe()]
    for _ in range(max(BENCH_REPEATS, 1)):
        for name, fn in benches.items():
            r = fn(spark)
            if name not in queries or r["sec"] < queries[name]:
                queries[name] = r["sec"]
                counts[name] = r
        probes.append(cal_probe())

    extras: dict[str, float] = {}
    total = 0.0
    for name, r in counts.items():
        total += r["sec"]
        if "assignments" in r:
            extras["tile_assignments_per_sec"] = round(r["assignments"] / r["sec"])
        if "pip_rows" in r:
            extras["pip_join_rows"] = r["pip_rows"]
            extras["pip_join_rows_per_sec"] = round(r["pip_rows"] / r["sec"])
        if "knn_pairs" in r:
            extras["knn_exact_pairs_per_sec"] = round(r["knn_pairs"] / r["sec"])
        if "phash_rows" in r:
            extras["phash_rows_per_sec"] = round(r["phash_rows"] / r["sec"])
        if "cc_nodes" in r:
            extras["cc_nodes_per_sec"] = round(r["cc_nodes"] / r["sec"])
        if "mvt_points" in r:
            extras["mvt_points_per_sec"] = round(r["mvt_points"] / r["sec"])
        if "simplify_vertices" in r:
            extras["simplify_vertices_per_sec"] = round(r["simplify_vertices"] / r["sec"])
        if "sp_fixes" in r:
            extras["staypoint_fixes_per_sec"] = round(r["sp_fixes"] / r["sec"])
        if "semdedup_rows" in r:
            extras["semdedup_rows_per_sec"] = round(r["semdedup_rows"] / r["sec"])
        if "images" in r:
            extras["images_decoded_per_sec"] = round(r["images"] / r["sec"])
            extras["pixels_decoded_per_sec"] = round(r["pixels"] / r["sec"])
        if "gi_points" in r:
            extras["gi_points_per_sec"] = round(r["gi_points"] / r["sec"])
            extras["gi_tiles"] = r["gi_tiles"]
        if "dbscan_points" in r:
            extras["dbscan_points_per_sec"] = round(r["dbscan_points"] / r["sec"])
    queries = {k: round(v, 3) for k, v in queries.items()}

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    out = {
        "metric": "tile-grid-spark headline suite (assign/PIP/quadkey/agg/knn/docs)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "bench_repeats": max(BENCH_REPEATS, 1),
        "cal_probes_units_per_sec": probes,
        "cal_window_min": min(probes),
        **extras,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
