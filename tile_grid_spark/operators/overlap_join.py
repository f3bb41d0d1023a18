"""Bbox-overlap (range) join: rectangle layer x rectangle layer.

SURVEY §2.B.3 "as-of/range flavor": the reference's `intersect_tms`
predicate (/root/reference/src/tms.rs:686-692, open-interval overlap)
lifted from scalar-vs-TMS to a distributed layer-vs-layer join.

Scale design — tile-bucketed equi prefilter + residual predicate:

    cover(left, z) ⋈_{tile_key} cover(right, z)
      -> dedup (l_id, r_id) candidate pairs
      -> exact open-interval overlap predicate

A naive theta-join on the 4 inequality predicates is a
BroadcastNestedLoopJoin / cartesian plan: O(|L| x |R|), dead at scale.
Tile bucketing makes it an equi shuffle/broadcast join whose cost is
O(cover tiles) + O(true-ish candidate pairs): two boxes can only
overlap if they share a covering tile at any zoom (the tile grid is a
partition of the plane), so recall is exact — no false negatives by
construction; false positives (shared tile, no overlap) are removed by
the residual predicate. Pick `zoom` so a typical box covers O(1-10)
tiles: too coarse -> everything in one bucket (skew), too fine ->
cover explosion. A mixed-size layer can union per-size-class covers;
dense hot tiles fall back to plans/skew salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.tms import Tms
from ..functions.grid_cols import tile_key
from .cover import cover_bbox_geographic

_BOX = ("minx", "miny", "maxx", "maxy")


def _split_wrap_arcs(df: DataFrame) -> DataFrame:
    """Decompose antimeridian-crossing boxes (minx > maxx) into two plain
    longitude arcs ([minx, 180], [-180, maxx]) so the open-interval
    overlap predicate stays linear. Pairs matched through both arcs
    collapse in the downstream distinct(). Two wrap boxes always share
    the seam neighborhood and correctly join through their [.., 180]
    arcs; boxes touching exactly AT the seam stay disjoint (open
    intervals), matching the reference's intersect_tms semantics."""
    arcs = F.when(
        F.col("minx") > F.col("maxx"),
        F.array(
            F.struct(F.col("minx").alias("lo"), F.lit(180.0).alias("hi")),
            F.struct(F.lit(-180.0).alias("lo"), F.col("maxx").alias("hi")),
        ),
    ).otherwise(
        F.array(F.struct(F.col("minx").alias("lo"), F.col("maxx").alias("hi")))
    )
    return (
        df.withColumn("_arc", F.explode(arcs))
        .withColumn("minx", F.col("_arc.lo"))
        .withColumn("maxx", F.col("_arc.hi"))
        .drop("_arc")
    )


def bbox_overlap_join(
    left: DataFrame,
    right: DataFrame,
    tms: Tms,
    zoom: int,
    left_id: str = "l_id",
    right_id: str = "r_id",
) -> DataFrame:
    """Pairs (left_id, right_id) whose boxes overlap (open intervals,
    matching the reference's intersect_tms: touching edges do NOT join).

    Both inputs need columns (id, minx, miny, maxx, maxy) in geographic
    degrees; antimeridian-crossing boxes (minx > maxx) are decomposed
    into two arcs row-locally, so wrap x plain and wrap x wrap pairs
    join correctly. The right cover is always broadcast, so pass the
    smaller layer as `right` (the left side then never shuffles).
    """
    lc = cover_bbox_geographic(
        _split_wrap_arcs(left.select(F.col(left_id).alias("_lid"), *_BOX)), tms, zoom
    ).select(
        tile_key("tile_x", "tile_y").alias("_tk"),
        F.col("_lid"),
        F.col("minx").alias("_lminx"),
        F.col("miny").alias("_lminy"),
        F.col("maxx").alias("_lmaxx"),
        F.col("maxy").alias("_lmaxy"),
    )
    rc = cover_bbox_geographic(
        _split_wrap_arcs(right.select(F.col(right_id).alias("_rid"), *_BOX)), tms, zoom
    ).select(
        tile_key("tile_x", "tile_y").alias("_tk"),
        F.col("_rid"),
        F.col("minx").alias("_rminx"),
        F.col("miny").alias("_rminy"),
        F.col("maxx").alias("_rmaxx"),
        F.col("maxy").alias("_rmaxy"),
    )

    overlap = (
        (F.col("_lminx") < F.col("_rmaxx"))
        & (F.col("_lmaxx") > F.col("_rminx"))
        & (F.col("_lminy") < F.col("_rmaxy"))
        & (F.col("_lmaxy") > F.col("_rminy"))
    )
    return (
        lc.join(F.broadcast(rc), "_tk")
        .filter(overlap)
        .select(F.col("_lid").alias(left_id), F.col("_rid").alias(right_id))
        .distinct()
    )
