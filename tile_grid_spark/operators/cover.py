"""Tile-cover enumeration: bbox columns -> exploded (zoom, tile_x, tile_y).

Spark form of the reference's tiles()/extent_limits/XyzIterator family
(/root/reference/src/tms.rs:706-824, src/tms_iterator.rs). Not an iterator:
`explode(sequence(...))` is a codegen'd generator, so nothing materializes
on the driver and cover rows stream straight into downstream joins.

Order parity with the reference iterators is a presentation concern:
`ORDER BY zoom, tile_x, tile_y` reproduces the golden sequences (z-major,
x-middle, y-fastest) when a test needs it; production plans never sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.model import LL_EPSILON
from ..core.tms import Tms
from ..functions.grid_cols import (
    mercator_x,
    mercator_y,
    xy_cols,
    xy_tile_x,
    xy_tile_y,
)


def cover_bbox_geographic(
    df: DataFrame,
    tms: Tms,
    zoom: int,
    west: str = "minx",
    south: str = "miny",
    east: str = "maxx",
    north: str = "maxy",
    out_x: str = "tile_x",
    out_y: str = "tile_y",
) -> DataFrame:
    """Explode each row into the tiles its geographic bbox overlaps at `zoom`.

    Columns west..north are geographic degrees. Reproduces the reference
    corner-tile + epsilon-inset algorithm (tms.rs:706-746): UL tile of
    (w+eps, n-eps), LR tile of (e-eps, s+eps), inclusive ranges.

    Antimeridian-crossing boxes (west > east) split into two x-ranges —
    (bbox.left -> east) and (west -> bbox.right) — exactly as the
    reference does (tms.rs:717-724, tested tests/tiles.rs:344-351); the
    two ranges explode from one array column, so the split stays row-local
    (no union of two plans, no second scan).

    Inverted ranges (bbox fully outside the TMS, sub-epsilon-thin box)
    produce ZERO tiles, matching the reference's `ul..=lr` empty range —
    without the guard, Spark's sequence() would generate a DESCENDING
    range of phantom tiles.
    """
    p = tms.zoom_params(zoom)
    bbox = tms.bbox()
    eps = F.lit(LL_EPSILON)

    s = F.greatest(F.col(south), F.lit(bbox.bottom)) + eps
    n = F.least(F.col(north), F.lit(bbox.top)) - eps

    def x_range(wcol, ecol):
        w_ = F.greatest(wcol, F.lit(bbox.left)) + eps
        e_ = F.least(ecol, F.lit(bbox.right)) - eps
        return F.struct(
            xy_tile_x(xy_cols(tms, w_, n)[0], p).alias("lo"),
            xy_tile_x(xy_cols(tms, e_, s)[0], p).alias("hi"),
        )

    ul_y = xy_tile_y(xy_cols(tms, F.col(west), n)[1], p)
    lr_y = xy_tile_y(xy_cols(tms, F.col(east), s)[1], p)

    wrap = F.col(west) > F.col(east)
    x_ranges = F.when(
        wrap,
        # reference order: left part (bbox.left -> east) first, then
        # (west -> bbox.right); duplicates at coarse zooms are faithful
        F.array(
            x_range(F.lit(bbox.left), F.col(east)),
            x_range(F.col(west), F.lit(bbox.right)),
        ),
    ).otherwise(F.array(x_range(F.col(west), F.col(east))))

    out = (
        df.withColumn("_xr", F.explode(x_ranges))
        .withColumn("_uly", ul_y)
        .withColumn("_lry", lr_y)
        .filter((F.col("_xr.lo") <= F.col("_xr.hi")) & (F.col("_uly") <= F.col("_lry")))
        .withColumn(out_x, F.explode(F.sequence(F.col("_xr.lo"), F.col("_xr.hi"))))
        .withColumn(out_y, F.explode(F.sequence(F.col("_uly"), F.col("_lry"))))
        .withColumn("zoom", F.lit(zoom))
        .drop("_xr", "_uly", "_lry")
    )
    return out


def cover_bbox_xy(
    df: DataFrame,
    tms: Tms,
    zoom: int,
    minx: str = "minx",
    miny: str = "miny",
    maxx: str = "maxx",
    maxy: str = "maxy",
) -> DataFrame:
    """CRS-space cover with the res/10 inset (tms.rs:785-807)."""
    p = tms.zoom_params(zoom)
    inset = F.lit(p.resolution / 10.0)
    b = tms.xy_bbox()
    w = F.greatest(F.col(minx), F.lit(b.left)) + inset
    s = F.greatest(F.col(miny), F.lit(b.bottom)) + inset
    e = F.least(F.col(maxx), F.lit(b.right)) - inset
    n = F.least(F.col(maxy), F.lit(b.top)) - inset
    return (
        df.withColumn("_ulx", xy_tile_x(w, p))
        .withColumn("_uly", xy_tile_y(n, p))
        .withColumn("_lrx", xy_tile_x(e, p))
        .withColumn("_lry", xy_tile_y(s, p))
        # inverted range (bbox outside TMS / thinner than the inset) ->
        # zero tiles, not sequence()'s descending phantom range
        .filter((F.col("_ulx") <= F.col("_lrx")) & (F.col("_uly") <= F.col("_lry")))
        .withColumn("tile_x", F.explode(F.sequence(F.col("_ulx"), F.col("_lrx"))))
        .withColumn("tile_y", F.explode(F.sequence(F.col("_uly"), F.col("_lry"))))
        .withColumn("zoom", F.lit(zoom))
        .drop("_ulx", "_uly", "_lrx", "_lry")
    )


def cover_bbox_xy_exact(
    df: DataFrame,
    tms: Tms,
    zoom: int,
    minx: str = "minx",
    miny: str = "miny",
    maxx: str = "maxx",
    maxy: str = "maxy",
) -> DataFrame:
    """INSET-FREE CRS-space cover: every tile whose area the bbox touches,
    by pure floor arithmetic (clamped to the matrix, inverted-range
    guarded). This is the ENGINE'S exact variant, not reference
    semantics: the reference's res/10 inset (cover_bbox_xy) exists for
    enumerating large extents without edge-tile noise, but it drops any
    bbox thinner than res/5 entirely — wrong for footprint rasterization,
    where a footprint always covers at least one pixel of one tile."""
    p = tms.zoom_params(zoom)
    b = tms.xy_bbox()
    w = F.greatest(F.col(minx), F.lit(b.left))
    s = F.greatest(F.col(miny), F.lit(b.bottom))
    e = F.least(F.col(maxx), F.lit(b.right))
    n = F.least(F.col(maxy), F.lit(b.top))
    # xy_tile_* keeps the reference's clamp-to-WIDTH quirk; a bbox edge
    # exactly on xy_bbox.right/bottom would enumerate the phantom tile
    # column/row `matrix_width` — cap at the last real tile instead
    mx = F.lit(p.matrix_width - 1)
    my = F.lit(p.matrix_height - 1)
    return (
        # a bbox entirely OUTSIDE the matrix must be rejected on the raw
        # coords: clamping would collapse its disjoint range onto an edge
        # tile and the inverted-range guard below could no longer see it
        # (edge-touch from outside keeps the interior edge-touch
        # semantics: >= / <= includes the boundary tile row/col)
        df.filter(
            (F.col(maxx) >= F.lit(b.left))
            & (F.col(minx) <= F.lit(b.right))
            & (F.col(maxy) >= F.lit(b.bottom))
            & (F.col(miny) <= F.lit(b.top))
        )
        .withColumn("_ulx", F.least(xy_tile_x(w, p), mx))
        .withColumn("_uly", F.least(xy_tile_y(n, p), my))
        .withColumn("_lrx", F.least(xy_tile_x(e, p), mx))
        .withColumn("_lry", F.least(xy_tile_y(s, p), my))
        .filter((F.col("_ulx") <= F.col("_lrx")) & (F.col("_uly") <= F.col("_lry")))
        .withColumn("tile_x", F.explode(F.sequence(F.col("_ulx"), F.col("_lrx"))))
        .withColumn("tile_y", F.explode(F.sequence(F.col("_uly"), F.col("_lry"))))
        .withColumn("zoom", F.lit(zoom))
        .drop("_ulx", "_uly", "_lrx", "_lry")
    )


def enumerate_legacy(spark, grid, extent, tolerance: int, minzoom: int, maxzoom: int) -> DataFrame:
    """Legacy GridIterator as a DataFrame: tile_limits (EXCLUSIVE maxx/maxy,
    /root/reference/src/wmts/grid_iterator.rs:51-71) -> explode. Golden
    order reproduced by ORDER BY zoom, tile_x, tile_y."""
    limits = grid.tile_limits(extent, tolerance)
    if minzoom > maxzoom or len(limits) <= minzoom:
        return spark.createDataFrame([], "zoom INT, tile_x BIGINT, tile_y BIGINT")
    maxzoom = min(maxzoom, len(limits) - 1)
    rows = [
        (z, limits[z].minx, limits[z].maxx - 1, limits[z].miny, limits[z].maxy - 1)
        for z in range(minzoom, maxzoom + 1)
    ]
    base = spark.createDataFrame(
        rows, "zoom INT, x_min BIGINT, x_max BIGINT, y_min BIGINT, y_max BIGINT"
    )
    return (
        base.withColumn("tile_x", F.explode(F.sequence("x_min", "x_max")))
        .withColumn("tile_y", F.explode(F.sequence("y_min", "y_max")))
        .select("zoom", "tile_x", "tile_y")
    )


def enumerate_tms(spark_df_or_session, tms: Tms, minzoom: int, maxzoom: int) -> DataFrame:
    """All tiles of a TMS between zooms — DataFrame form of XyzIterator over
    the whole xy_bbox (tms_iterator.rs golden: 21 rows for z0-2)."""
    from pyspark.sql import SparkSession

    spark = (
        spark_df_or_session
        if isinstance(spark_df_or_session, SparkSession)
        else spark_df_or_session.sparkSession
    )
    limits = tms.extent_limits_xy(tms.xy_bbox(), minzoom, maxzoom)
    rows = [
        (z, lim.x_min, lim.x_max, lim.y_min, lim.y_max)
        for z, lim in zip(range(minzoom, maxzoom + 1), limits)
    ]
    base = spark.createDataFrame(
        rows, "zoom INT, x_min BIGINT, x_max BIGINT, y_min BIGINT, y_max BIGINT"
    )
    return (
        base.withColumn("tile_x", F.explode(F.sequence("x_min", "x_max")))
        .withColumn("tile_y", F.explode(F.sequence("y_min", "y_max")))
        .select("zoom", "tile_x", "tile_y")
    )


def cover_polygon_exact(
    vertices: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "poly_id",
    ring_col: str = "ring_idx",
    seq_col: str = "vert_idx",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Tiles intersecting a POLYGON'S AREA at `zoom` — the interior-exact
    upgrade of the bbox covers above (a bbox cover of an L-shaped or
    holed polygon over-delivers its empty corners; a tile renderer wants
    the true mask). Input is the engine's exploded ring-vertex layout
    (ring 0 = exterior, others = holes, even-odd semantics — same
    contract as operators/geometry.py).

    Geometry runs in the TMS CRS (vertices forward-projected, edges
    straight in CRS space — what a renderer rasterizes; pip_join's
    geographic ray-cast is the lon/lat-space counterpart). A tile
    intersects the area iff (a) some polygon edge intersects the tile
    rect — separating-line test on the rect's corners against edges
    pre-bucketed by their OWN bbox cover, so boundary work is
    edge-local, never |tiles|x|edges| — or (b) the tile center is
    inside by even-odd crossing parity over all rings (catches interior
    tiles and excludes tiles wholly inside holes). Everything is native
    Column math (no UDF); the whole pipeline is SQL-replayable and the
    `polygon_cover` oracle value-hashes it.

    Scale shape: one window shuffle on (poly, ring) to build edges; the
    boundary test explodes each edge to the few tiles ITS bbox covers;
    the interior test joins the polygon's bbox-cover candidates with
    its edges on the polygon key — per-polygon cost O(bbox_tiles ·
    edges), the honest price of exact parity, bounded by choosing the
    serving zoom per polygon size (same zoom-picking contract as
    knn.radius_join).

    Returns (id, tile_x, tile_y, zoom, boundary, center_inside) with
    boundary OR center_inside true on every row.
    """
    from pyspark.sql.window import Window

    from ..functions.grid_cols import tile_bounds_cols

    srid = tms.crs().as_srid()
    if srid != 3857:
        raise ValueError(
            f"cover_polygon_exact supports EPSG:3857 TMS, got {tms.crs()}"
        )
    p = tms.zoom_params(zoom)

    v = vertices.select(
        F.col(id_col).alias("_pid"),
        F.col(ring_col).alias("_ring"),
        F.col(seq_col).alias("_seq"),
        mercator_x(lon).alias("_x"),
        mercator_y(lat).alias("_y"),
    )
    w = Window.partitionBy("_pid", "_ring").orderBy("_seq")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    edges = v.select(
        "_pid",
        F.col("_x").alias("x1"),
        F.col("_y").alias("y1"),
        F.coalesce(F.lead("_x").over(w), F.first("_x").over(full)).alias("x2"),
        F.coalesce(F.lead("_y").over(w), F.first("_y").over(full)).alias("y2"),
    )

    # (a) boundary tiles: edge-bbox cover -> exact segment/rect test
    eb = edges.withColumns(
        {
            "minx": F.least("x1", "x2"),
            "miny": F.least("y1", "y2"),
            "maxx": F.greatest("x1", "x2"),
            "maxy": F.greatest("y1", "y2"),
        }
    )
    cand_b = cover_bbox_xy_exact(eb, tms, zoom)
    rect = tile_bounds_cols("tile_x", "tile_y", p)

    def _side(cx: F.Column, cy: F.Column) -> F.Column:
        return (F.col("x2") - F.col("x1")) * (cy - F.col("y1")) - (
            F.col("y2") - F.col("y1")
        ) * (cx - F.col("x1"))

    d1 = _side(rect["minx"], rect["miny"])
    d2 = _side(rect["minx"], rect["maxy"])
    d3 = _side(rect["maxx"], rect["miny"])
    d4 = _side(rect["maxx"], rect["maxy"])
    hit = (F.least(d1, d2, d3, d4) <= 0) & (F.greatest(d1, d2, d3, d4) >= 0)
    boundary = (
        cand_b.filter(hit).select("_pid", "tile_x", "tile_y").distinct()
        .withColumn("boundary", F.lit(True))
    )

    # (b) interior tiles: polygon-bbox cover -> even-odd center parity
    pb = v.groupBy("_pid").agg(
        F.min("_x").alias("minx"),
        F.min("_y").alias("miny"),
        F.max("_x").alias("maxx"),
        F.max("_y").alias("maxy"),
    )
    cand_i = cover_bbox_xy_exact(pb, tms, zoom).select("_pid", "tile_x", "tile_y")
    uw = p.resolution * float(p.tile_width)
    uh = p.resolution * float(p.tile_height)
    cx = F.lit(p.origin_x) + (F.col("tile_x").cast("double") + 0.5) * F.lit(uw)
    cy = F.lit(p.origin_y) - (F.col("tile_y").cast("double") + 0.5) * F.lit(uh)
    pairs = cand_i.withColumns({"_cx": cx, "_cy": cy}).join(edges, "_pid")
    straddle = (F.col("y1") > F.col("_cy")) != (F.col("y2") > F.col("_cy"))
    xint = (F.col("x2") - F.col("x1")) * (F.col("_cy") - F.col("y1")) / (
        F.col("y2") - F.col("y1")
    ) + F.col("x1")
    crossing = F.when(straddle, (F.col("_cx") < xint).cast("int")).otherwise(F.lit(0))
    inside = (
        pairs.groupBy("_pid", "tile_x", "tile_y")
        .agg((F.sum(crossing) % 2 == 1).alias("center_inside"))
        .filter(F.col("center_inside"))
    )

    out = boundary.join(inside, ["_pid", "tile_x", "tile_y"], "full_outer").select(
        F.col("_pid").alias(id_col),
        "tile_x",
        "tile_y",
        F.lit(zoom).alias("zoom"),
        F.coalesce("boundary", F.lit(False)).alias("boundary"),
        F.coalesce("center_inside", F.lit(False)).alias("center_inside"),
    )
    return out
