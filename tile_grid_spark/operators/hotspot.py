"""Getis-Ord Gi* hot-spot detection over tile grids.

THE statistical question behind every density heat-map ("which tiles
are significantly hot, not just non-empty?"): Getis & Ord 1992/1995,
the local G_i^* statistic with binary 1-ring weights over the tile
lattice. For tile i over the study set N (the non-empty tiles):

    Gi* = (sum_ring x_j - xbar * W) / (S * sqrt((n*W - W^2)/(n - 1)))

where the ring is the 3x3 neighborhood INCLUDING i (the * variant),
W = ring tiles present in the study set, xbar/S the global mean/std
of per-tile counts. Values are ~N(0,1) under CSR: |Gi*| > 2.58 is a
99% hot/cold spot.

Determinism: every aggregate is an exact INTEGER (per-tile counts,
ring sums, ring cardinalities, global n/sum/sum-of-squares) — floats
enter only in the final per-row scalar expression, which both engines
evaluate over identical inputs with the identical IEEE tree, so Gi*
is bit-reproducible and the oracle value-hashes it at full precision
(the merc-formula precedent; no cross-row float accumulation
anywhere).

Scale shape (the 100-TB plan):
- ONE point-level exchange (the per-tile count agg); the counts frame
  localCheckpoints because three consumers (global moments, ring
  emission, final join) would each replay the point scan.
- Ring sums: 9-offset explode of the TILE frame (not the points) +
  one groupBy on the packed bigint tile key — shuffle volume is
  9 x |non-empty tiles|, independent of point count. The center
  offset (dx=dy=0) carries the tile's own count through the SAME
  aggregate, so study-set membership and x need no join back onto
  the counts frame (r6: one exchange + one hashed-relation build
  fewer than the previous base-ring bigint join).
- Final assembly: a broadcast 1-row global-moments frame only.
- Study domain is the reference clamp range [0, width-1] x
  [0, height-1]; rows landed on the saturating edge index (== width,
  reference xy_tile semantics for the exact right/bottom edge) are
  excluded from the study set in both engines.

Reference anchor: tile assignment is xy_tile (tms.rs:490-535) via
functions/grid_cols.with_tile; the 1-ring neighborhood mirrors
neighbors() (tms.rs:951-971) plus self. The statistic itself has no
reference counterpart — engine analytics surface (SURVEY.md §2.D).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.tms import Tms
from ..functions.grid_cols import tile_key, with_tile

__all__ = ["getis_ord_gi_star", "gi_star_from_counts"]


def getis_ord_gi_star(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-non-empty-tile Gi* at `zoom`. Returns (tile_x, tile_y, x,
    ring_sum, ring_n, gi) — gi NULL when the statistic is undefined
    (fewer than 2 study tiles, or zero count variance)."""
    p = tms.zoom_params(zoom)
    counts = (
        with_tile(
            points.select(F.col(lon).alias("lon"), F.col(lat).alias("lat")),
            tms,
            zoom,
        )
        .filter(
            (F.col("tile_x") <= F.lit(p.matrix_width - 1))
            & (F.col("tile_y") <= F.lit(p.matrix_height - 1))
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return gi_star_from_counts(counts, tms, zoom)


def gi_star_from_counts(counts: DataFrame, tms: Tms, zoom: int) -> DataFrame:
    """Gi* over a pre-aggregated per-tile count frame (tile_x, tile_y,
    x). getis_ord_gi_star calls it after counting points per tile, and
    the image_hotspot query with per-tile brightness sums: any exact
    integer weight works, and identical integers give bit-identical
    gi. Tiles outside the clamp domain [0, width-1] x [0, height-1] are
    excluded exactly like the points path.

    A row with NULL x is dropped from the output (a tile is in the study
    set only when its own x is non-NULL). It still counts toward the
    study-tile count n and toward its neighbours' ring_n, adding 0 to
    every sum; filter NULL rows out first if that is not wanted."""
    p = tms.zoom_params(zoom)
    counts = counts.filter(
        (F.col("tile_x") >= 0)
        & (F.col("tile_y") >= 0)
        & (F.col("tile_x") <= F.lit(p.matrix_width - 1))
        & (F.col("tile_y") <= F.lit(p.matrix_height - 1))
    ).localCheckpoint()  # 2 consumers; never replay the upstream scan
    g = counts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    # The center offset (dx=dy=0) contributes exactly the tile's own
    # count to its ring group, so the tile's x rides the SAME aggregate
    # as the ring sums (max over the single center element) and "tile is
    # in the study set" = "a center element exists" — the previous
    # base-side bigint join back onto the checkpointed counts is gone
    # (one exchange + one hashed-relation build fewer, same integers).
    ring = (
        counts.withColumn("_o", F.explode(offsets))
        .withColumns(
            {
                "nx": F.col("tile_x") + F.col("_o.dx"),
                "ny": F.col("tile_y") + F.col("_o.dy"),
            }
        )
        .filter(
            (F.col("nx") >= 0)
            & (F.col("ny") >= 0)
            & (F.col("nx") <= F.lit(p.matrix_width - 1))
            & (F.col("ny") <= F.lit(p.matrix_height - 1))
        )
        .groupBy(tile_key("nx", "ny").alias("_tk"))
        .agg(
            F.sum("x").alias("ring_sum"),
            F.count(F.lit(1)).alias("ring_n"),
            F.max(
                F.when(
                    (F.col("_o.dx") == 0) & (F.col("_o.dy") == 0), F.col("x")
                )
            ).alias("_cx"),
            F.max(
                F.when((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0), F.col("nx"))
            ).alias("_ctx"),
            F.max(
                F.when((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0), F.col("ny"))
            ).alias("_cty"),
        )
        .filter(F.col("_cx").isNotNull())
        .select(
            F.col("_ctx").alias("tile_x"),
            F.col("_cty").alias("tile_y"),
            F.col("_cx").alias("x"),
            "ring_sum",
            "ring_n",
        )
    )
    out = ring.crossJoin(F.broadcast(g))

    nd = F.col("n").cast("double")
    xbar = F.col("sx").cast("double") / F.col("n")
    s = F.sqrt(F.col("sxx").cast("double") / F.col("n") - xbar * xbar)
    w = F.col("ring_n").cast("double")
    num = F.col("ring_sum").cast("double") - xbar * w
    den = s * F.sqrt((nd * w - w * w) / (nd - F.lit(1.0)))
    gi = F.when((F.col("n") > 1) & (den > F.lit(0.0)), num / den)
    return out.select(
        "tile_x", "tile_y", "x", "ring_sum", "ring_n", gi.alias("gi")
    )
