"""End-to-end resumable tiling pipeline (spark-submit entry point).

Usage (local):
    python jobs/run_pipeline.py --out /tmp/tgs_out --rows 20000 --zooms 0-8

Production:
    spark-submit --py-files tile_grid_spark.zip jobs/run_pipeline.py \
        --out s3://bucket/tiles --images <iceberg table> --zooms 0-14

Stages (each resumable via per-partition lineage, see plans/lineage.py),
in declared order, with the stages whose output each one reads:
  ingest      (none)         synthesize (or read) the image+caption table
  assign      ingest         tile assignment per zoom, written partitioned
                             by zoom, range-sorted by (tile_x, tile_y)
  stats       assign         per-tile density aggregate with measured salting
  hotspot     ingest         Getis-Ord Gi* significance layer per deep-zoom tile
  pyramid     stats          cascading rollup of the per-tile stats
  sketches    assign         mergeable HLL distinct sketches per tile
  polys       (none)         deterministic polygon layer (second input table)
  pip         ingest, polys  point-in-polygon join images x polys on the
                             SHUFFLE path (multi-input, shuffle-bearing —
                             the resume shapes that matter at scale)
  dedup       ingest         MinHash+LSH caption near-dup pairs (banded shuffle)
  cluster     ingest, dedup  pairs -> connected components -> keep-one verdicts
  export      ingest, cluster
                             dedup-filtered, caption-length-stratified sample
                             written as deterministic training shards + manifest
  raster      ingest         per-tile density masks at the deepest zoom
  mvt         ingest         vector-tile payload export (the served artifact)
  mvt_pyramid mvt            upper-zoom MVT tiles rolled up from the child binaries

The stages form a DAG, not a chain: each one starts on its own driver
thread as soon as every stage it reads has completed, so the stages that
only read `ingest` run side by side and share the cluster. A stage's
output is read once, right after it completes, and handed to the stages
that read it. If a stage fails, no further stage starts; the ones already
running finish (and record their lineage) and the failure is re-raised.

Re-running the same command after an interruption skips completed units
(check the `_lineage` parquet for the audit trail). `stop_after=<stage>`
simulates a crash right after a stage for the resume tests: it runs the
declared-order prefix up to and including that stage (still as a DAG).
A stage with no units in this run — `pyramid` with a single zoom,
`mvt_pyramid` at raster zoom 0 — still ends the prefix at its position.
"""

from __future__ import annotations

import argparse
import os
import sys
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from tile_grid_spark.core import tms
from tile_grid_spark.functions import grid_cols as G
from tile_grid_spark.operators.cluster import connected_components
from tile_grid_spark.operators.dedup import minhash_lsh_pairs
from tile_grid_spark.operators.hotspot import getis_ord_gi_star
from tile_grid_spark.operators.pip_join import generate_polygons, pip_join
from tile_grid_spark.operators.raster import rasterize_footprints, rasterize_points
from tile_grid_spark.operators.rollup import tile_pyramid
from tile_grid_spark.operators.sample import stratified_sample
from tile_grid_spark.operators.sketches import tile_hll_sketches
from tile_grid_spark.operators.vector_tiles import encode_point_tiles, rollup_point_tiles
from tile_grid_spark.plans.lineage import LineageLog, run_stage
from tile_grid_spark.plans.session import build_session
from tile_grid_spark.plans.skew import measure_tile_skew, salted_tile_agg, skew_stats
from tile_grid_spark.sources.datagen import generate_images
from tile_grid_spark.sources.io import write_training_shards


def parse_zooms(s: str) -> list[int]:
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run_dag(spark, plan, on_done=None) -> dict:
    """Run `plan`, a list of (name, inputs, fn) in declared order: each fn
    starts on a pool thread as soon as every stage named in its `inputs`
    has returned, ready stages in declared order. Returns {name: fn()} in
    declared order; `on_done(name, result)` is called on this thread as
    each stage completes. After a stage raises, no further stage starts,
    the running ones finish, and the first exception is re-raised."""
    order = [name for name, _, _ in plan]
    for i, (name, inputs, _) in enumerate(plan):
        if not set(inputs) <= set(order[:i]):
            raise ValueError(f"stage {name!r} reads {sorted(set(inputs) - set(order[:i]))}, "
                             "which do not run before it")
    done: dict = {}
    pending = list(plan)
    running = {}
    error = None
    with ThreadPoolExecutor(max_workers=max(len(plan), 1), thread_name_prefix="stage") as pool:
        while pending or running:
            ready = [] if error else [s for s in pending if all(i in done for i in s[1])]
            for stage in ready:
                pending.remove(stage)
                # job tags and local properties (job group, pool) carry over
                fn = inheritable_thread_target(spark)(stage[2])
                running[pool.submit(fn)] = stage[0]
            if not running:
                break
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = running.pop(fut)
                try:
                    done[name] = fut.result()
                except BaseException as e:  # re-raised once the running stages finish
                    error = error or e
                    continue
                if on_done is not None:
                    on_done(name, done[name])
    if error is not None:
        raise error
    return {name: done[name] for name in order}


def run_pipeline(
    spark,
    out: str,
    rows: int = 20000,
    images_in: str | None = None,
    zooms: list[int] | None = None,
    raster_zoom: int | None = None,
    seed: int = 42,
    n_polys: int = 200,
    stop_after: str | None = None,
    verbose: bool = True,
):
    """Run (or resume) every stage; returns {stage: StageResult} in
    declared order, plus "_log" when the whole plan ran.
    `stop_after` runs only the declared-order prefix up to and including
    the named stage — the crash-resume tests use it to prove later runs
    skip completed shuffle stages. An unknown name raises ValueError
    before any stage runs."""
    zooms = zooms or list(range(0, 9))
    wm = tms().lookup("WebMercatorQuad")
    log = LineageLog(spark, out)
    deep = max(zooms)
    # each stage's output as downstream stages read it, set once the
    # stage completes
    outputs = {}

    def stage(name, inputs, units, build, publish=None):
        """A stage table row. Its fn runs `name`'s units resumably, then
        reads unit `publish` back for the stages that list `name` as an
        input. A stage with no units is not in this run's plan."""

        def fn():
            r = run_stage(spark, log, name, units, build)
            if publish is not None:
                outputs[name] = spark.read.parquet(os.path.join(out, name, f"unit={publish}"))
            return r

        return name, tuple(inputs), fn if units else None

    # ---- ingest ----
    def build_images(_unit: str):
        if images_in:
            return spark.read.parquet(images_in)
        return generate_images(spark, rows, seed=seed)

    # ---- assign (unit per zoom) ----
    def build_assign(unit: str):
        z = int(unit)
        out_df = G.with_tile(outputs["ingest"].select("image_id", "lon", "lat"), wm, z)
        return (
            out_df.withColumn("zoom", F.lit(z))
            .repartitionByRange(max(spark.sparkContext.defaultParallelism, 8), "tile_x", "tile_y")
            .sortWithinPartitions("tile_x", "tile_y")
        )

    # ---- stats (salted per-tile aggregate over the deepest zoom) ----
    def build_stats(_unit: str):
        assigned = outputs["assign"].withColumn("zoom", F.lit(deep))
        counts = measure_tile_skew(assigned)
        if verbose:
            print("[stats] skew profile:", skew_stats(counts))
        return salted_tile_agg(
            assigned,
            {"n_images": (F.count("*"), F.sum("n_images"))},
            counts=counts,
            target_rows_per_task=1_000_000,
            id_col="image_id",
        )

    # ---- hotspot (Gi* significance layer over the deep-zoom tiles) ----
    def build_hotspot(_unit: str):
        return getis_ord_gi_star(outputs["ingest"].select("lon", "lat"), wm, deep)

    # ---- pyramid (cascading rollup of the per-tile stats) ----
    coarser = sorted({z for z in zooms if z < deep}, reverse=True)[:3]

    def build_pyramid(_unit: str):
        base = outputs["stats"].select("tile_x", "tile_y", "n_images")
        return tile_pyramid(base, deep, coarser, {"n_images": F.sum("n_images")})

    # ---- distinct-capture sketch (mergeable HLL per tile) ----
    def build_sketches(_unit: str):
        t = outputs["assign"].withColumn("zoom", F.lit(deep))
        sk = tile_hll_sketches(t, "image_id", keys=("zoom", "tile_x", "tile_y"))
        return sk.select(
            "zoom", "tile_x", "tile_y",
            F.hll_sketch_estimate("sketch").alias("n_distinct_est"),
        )

    # ---- polys (second input table for the multi-input join stage) ----
    def build_polys(_unit: str):
        return generate_polygons(spark, n_polys, seed=seed + 1)

    # ---- pip (shuffle-bearing, multi-input: ingest output x polys output) ----
    pip_zoom = min(deep, 8)

    def build_pip(_unit: str):
        pts = outputs["ingest"].select("image_id", "lon", "lat")
        # broadcast_polys=False: the tile-key SHUFFLE join path (rings
        # re-attached by poly_id after the narrow prefilter) — resume must
        # be proven on the plan shape that runs at 100 TB, not only on
        # narrow map-side stages
        return pip_join(pts, outputs["polys"], wm, pip_zoom, broadcast_polys=False)

    # ---- dedup (banded-shuffle caption near-dups) ----
    def build_dedup(_unit: str):
        docs = outputs["ingest"].select(
            F.col("image_id").alias("doc_id"), F.col("caption").alias("text")
        )
        return minhash_lsh_pairs(docs, k=16, bands=8, jaccard_threshold=0.4)

    # ---- cluster (pairs -> components -> keep-one mapping) ----
    def build_cluster(_unit: str):
        nodes = outputs["ingest"].select(F.col("image_id").alias("id"))
        comp = connected_components(outputs["dedup"], "id_a", "id_b", nodes=nodes)
        # the dedup verdict: keep component representatives only
        return comp.withColumn("keep", F.col("node") == F.col("component"))

    # ---- export (dedup verdicts -> stratified sample -> training shards) ----
    def build_export(_unit: str):
        keep = outputs["cluster"].filter(F.col("keep"))
        corpus = outputs["ingest"].join(
            keep.select(F.col("node").alias("image_id")), "image_id"
        )
        # caption-length strata: keep every long-caption image, half of
        # the short ones — md5-threshold verdicts, so a resumed or
        # incremental export re-selects the identical sample
        strata = F.when(F.length("caption") >= 40, F.lit("long")).otherwise(
            F.lit("short")
        )
        sampled = stratified_sample(
            corpus, "image_id", strata, {"long": 1.0}, default_rate=0.5,
            seed="export",
        )
        manifest = write_training_shards(
            sampled.select("image_id", "caption", "w", "h", "fmt"),
            os.path.join(out, "export_shards"),
            n_shards=4,
            id_col="image_id",
            sort_cols=("image_id",),
        )
        # from pandas (Arrow) the manifest is a JVM-side LocalRelation, so
        # its write starts no Python worker; a list of tuples would go
        # through a pickled Python RDD
        rows = pd.DataFrame(
            [
                (int(s), int(v["rows"]), str(v["fingerprint"]))
                for s, v in sorted(manifest["shards"].items())
            ],
            columns=["shard", "n_rows", "fingerprint"],
        )
        return spark.createDataFrame(rows, "shard INT, n_rows BIGINT, fingerprint STRING")

    # ---- raster (point density + image-footprint coverage units) ----
    rz = raster_zoom if raster_zoom is not None else min(deep, 6)

    def build_raster(unit: str):
        if unit.startswith("fp-"):
            return rasterize_footprints(outputs["ingest"], wm, rz, ground_px_m=100.0)
        return rasterize_points(outputs["ingest"], wm, rz)

    # ---- mvt (vector-tile payload export: the served artifact) ----
    def build_mvt(unit: str):
        # MVT feature ids are u64 in the spec; image_id is "img-%012d"
        # (datagen.py:113), so the numeric suffix is the natural fid.
        # Format + caption length ride along as tag-dictionary attrs.
        return encode_point_tiles(
            outputs["ingest"].select(
                F.substring("image_id", 5, 12).cast("bigint").alias("pid"),
                F.col("lon"),
                F.col("lat"),
                F.col("fmt"),
                F.length("caption").cast("bigint").alias("caption_len"),
            ),
            wm,
            rz,
            attr_cols=("fmt", "caption_len"),
        )

    # ---- mvt_pyramid (serve the upper zooms from the child binaries) ----
    def build_mvt_pyramid(unit: str):
        return rollup_point_tiles(outputs["mvt"], levels=rz - int(unit[1:]))

    table = [
        stage("ingest", [], ["images"], build_images, publish="images"),
        stage("assign", ["ingest"], [str(z) for z in zooms], build_assign, publish=deep),
        stage("stats", ["assign"], [f"z{deep}"], build_stats, publish=f"z{deep}"),
        stage("hotspot", ["ingest"], [f"z{deep}"], build_hotspot),
        stage("pyramid", ["stats"], [f"z{deep}->z{min(coarser)}"] if coarser else [],
              build_pyramid),
        stage("sketches", ["assign"], [f"z{deep}"], build_sketches),
        stage("polys", [], ["layer"], build_polys, publish="layer"),
        stage("pip", ["ingest", "polys"], [f"z{pip_zoom}"], build_pip),
        stage("dedup", ["ingest"], ["captions"], build_dedup, publish="captions"),
        stage("cluster", ["ingest", "dedup"], ["components"], build_cluster,
              publish="components"),
        stage("export", ["ingest", "cluster"], ["shards"], build_export),
        stage("raster", ["ingest"], [f"z{rz}", f"fp-z{rz}"], build_raster),
        stage("mvt", ["ingest"], [f"z{rz}"], build_mvt, publish=f"z{rz}"),
        stage("mvt_pyramid", ["mvt"], [f"z{z}" for z in range(max(rz - 3, 0), rz)],
              build_mvt_pyramid),
    ]
    names = [name for name, _, _ in table]
    if stop_after is not None:
        if stop_after not in names:
            raise ValueError(f"stop_after={stop_after!r} is not a stage; stages: {names}")
        table = table[: names.index(stop_after) + 1]

    def report(name, r):
        if verbose:
            print(f"[{name}] ran={r.ran_units} skipped={r.skipped_units} rows={r.rows}")

    results = run_dag(spark, [s for s in table if s[2] is not None], on_done=report)
    if len(table) == len(names):
        results["_log"] = log
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--rows", type=int, default=20000)
    ap.add_argument("--images", default=None, help="parquet path of an existing images table")
    ap.add_argument("--zooms", default="0-8")
    ap.add_argument("--raster-zoom", type=int, default=None)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    spark = build_session("tgs-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    results = run_pipeline(
        spark,
        args.out,
        rows=args.rows,
        images_in=args.images,
        zooms=parse_zooms(args.zooms),
        raster_zoom=args.raster_zoom,
        seed=args.seed,
    )
    print("[lineage]")
    results["_log"].summary().orderBy("ts").show(50, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
