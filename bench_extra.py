"""Isolation bench: run SELECTED bench.py queries standalone.

bench.py is frozen for driver measurement; this harness (guide §1.4)
reuses its exact query functions but runs only the names given on the
command line, each REPS times, with the same cal-probe bracketing — so
a single operator can be profiled/re-measured in seconds instead of
re-running the whole suite.

    python bench_extra.py dbscan cc_star_rounds [reps]

Prints one JSON line: {"queries": {name: [sec, ...]}, "probes": [...]}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench as B  # noqa: E402  (reuses the frozen harness's functions)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.isdigit()]
    reps = int(next((a for a in sys.argv[1:] if a.isdigit()), "3"))
    from pyspark.sql import functions as F  # noqa: F401

    from tile_grid_spark.plans.session import build_session

    extra = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC -Xmn16g"
        ),
    }
    # ad-hoc conf experiments: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = build_session(
        "tgs-bench-extra",
        master=f"local[{B.CPUS}]",
        shuffle_partitions=max(B.CPUS, 8),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # the frozen bench.py warms codegen/python workers before timing;
    # mirror it so isolated numbers are comparable to the suite's
    from pyspark.sql import functions as F
    from tile_grid_spark.functions import grid_cols as G
    from tile_grid_spark.operators import cover as C
    import __spark_entry__ as E

    warm = spark.range(10000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
        (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
    )
    B.force_noop(G.with_tiles_multizoom(warm, E.WM, B.ALL_ZOOMS))
    wrects = spark.range(4).select(
        F.col("id").alias("poly_id"),
        (F.lit(-10.0) + F.col("id") * 5.0).alias("minx"), F.lit(-10.0).alias("miny"),
        (F.lit(-5.0) + F.col("id") * 5.0).alias("maxx"), F.lit(10.0).alias("maxy"),
    )
    wt = C.cover_bbox_geographic(wrects, E.WM, 7).withColumn(
        "_tk", G.tile_key("tile_x", "tile_y")
    ).drop("tile_x", "tile_y")
    B.force(
        G.with_tile(warm, E.WM, 7)
        .withColumn("_tk", G.tile_key("tile_x", "tile_y"))
        .join(F.broadcast(wt), "_tk")
        .filter((F.col("lon") >= F.col("minx")) & (F.col("lon") <= F.col("maxx")))
        .select("pid", "poly_id")
    )
    from tile_grid_spark.operators.similarity import brute_force_topk_arrow

    wq = B.synth_embeddings(spark, 4, dim=32).withColumnRenamed("vec_id", "query_id")
    wc_ = B.synth_embeddings(spark, 2000, dim=32).withColumnRenamed("vec_id", "cand_id")
    B.force(brute_force_topk_arrow(wq, wc_, k=3))
    from tile_grid_spark.operators.cluster import connected_components as _cc

    wids = spark.range(20_000)
    wedges = wids.filter(F.pmod("id", F.lit(8)) < 7).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    B.force(_cc(wedges))
    from tile_grid_spark.operators.kmeans import kmeans_assign, semdedup

    wemb = B.synth_embeddings(spark, 2_000)
    B.force(semdedup(kmeans_assign(wemb, k=16, dim=32, iters=1), eps=0.92))
    from tile_grid_spark.operators.dbscan import dbscan as _dbscan

    B.force(_dbscan(B.synth_blob_points(spark, 3_000), E.WM, eps=5_000.0, min_pts=8))

    def bench_st_dbscan(spark):
        """Isolation-only row (bench.py is frozen): ST-DBSCAN over the
        same skewed blob points as the dbscan row plus a deterministic
        epoch column — measures the two extra bigint epoch joins and
        the time-filtered pair list against the dbscan baseline."""
        from tile_grid_spark.operators.dbscan import st_dbscan

        pts = B.synth_blob_points(spark, B.DBSCAN_ROWS).withColumn(
            "t", (F.col("pid") * 37 % 86400).cast("long")
        ).cache()
        try:
            pts.count()
            t0 = time.time()
            n = B.force(
                st_dbscan(
                    pts, E.WM, eps_space=5_000.0, eps_time=600, min_pts=8,
                    id_col="pid",
                )
            )
            dt = time.time() - t0
            assert n == B.DBSCAN_ROWS
        finally:
            pts.unpersist()
        return {"sec": dt}

    benches = {
        "st_dbscan": bench_st_dbscan,
        "tile_assign_scale": B.bench_tile_assign_scale,
        "pip_join_scale": B.bench_pip_scale,
        "tile_assign_all_zooms": B.bench_tile_assign_all_zooms,
        "pip_join": B.bench_pip_join,
        "quadkey_z12": B.bench_quadkey,
        "per_tile_agg_z10": B.bench_per_tile_agg,
        "knn_bruteforce": B.bench_knn,
        "doc_ops": B.bench_docs,
        "phash_band_join": B.bench_phash_band_join,
        "cc_star_rounds": B.bench_connected_components,
        "mvt_encode_z6": B.bench_mvt_encode,
        "path_simplify": B.bench_path_simplify,
        "staypoints_od": B.bench_staypoints_od,
        "image_decode_tile": B.bench_image_decode,
        "semdedup": B.bench_semdedup,
        "gi_hotspot": B.bench_hotspot,
        "dbscan": B.bench_dbscan,
    }
    if not names:
        names = list(benches)
    out: dict[str, list[float]] = {n: [] for n in names}
    probes = [B.cal_probe()]
    for rep in range(reps):
        for n in names:
            spark.sparkContext.setJobDescription(f"{n} rep{rep}")
            r = benches[n](spark)
            out[n].append(round(r["sec"], 3))
        probes.append(B.cal_probe())
    spark.stop()
    print(json.dumps({"queries": out, "probes": probes}))


if __name__ == "__main__":
    main()
