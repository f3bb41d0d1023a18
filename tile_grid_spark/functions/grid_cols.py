"""Grid math as native Spark Column expressions (the fast path).

Every function here stays inside Tungsten whole-stage codegen — no Python
in the hot loop. Per-zoom constants are resolved on the driver from the
core Tms object and inlined as literals (single zoom) or joined in from a
tiny broadcast params DataFrame (multi zoom).

Formula sources (reference, reproduced exactly):
- forward Mercator: /root/reference/src/transform/basic.rs:50-56
- tile assignment (floor/clamp/inf semantics): /root/reference/src/tms.rs:490-535
- tile UL / bounds: /root/reference/src/tms.rs:561-590
- Mercator tile UL (geographic): /root/reference/src/transform/basic.rs:59-65
- quadkey digits: /root/reference/src/quadkey.rs:23-44
- neighbors/parent/children: /root/reference/src/tms.rs:951-1053
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.model import SEMI_MAJOR_METRE
from ..core.tms import Tms, ZoomParams

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Coordinate transforms
# ---------------------------------------------------------------------------

def mercator_x(lon: ColumnOrName) -> Column:
    """x = R * radians(lon)."""
    return F.lit(SEMI_MAJOR_METRE) * F.radians(_col(lon))


def mercator_y(lat: ColumnOrName) -> Column:
    """y = R * ln(tan(pi/4 + radians(lat)/2)) — exact expression tree."""
    return F.lit(SEMI_MAJOR_METRE) * F.log(
        F.tan(F.lit(math.pi * 0.25) + F.lit(0.5) * F.radians(_col(lat)))
    )


def inv_mercator_lon(x: ColumnOrName) -> Column:
    return F.degrees(_col(x) / F.lit(SEMI_MAJOR_METRE))


def inv_mercator_lat(y: ColumnOrName) -> Column:
    return F.degrees(F.atan(F.sinh(_col(y) / F.lit(SEMI_MAJOR_METRE))))


# ---------------------------------------------------------------------------
# Tile assignment
# ---------------------------------------------------------------------------

def _tile_index(coord: Column, raw: Column, max_index: Column) -> Column:
    """Reference clamp semantics: +-inf coord -> 0; NaN floor -> 0;
    negative -> 0; cap at matrix size (size, not size-1)."""
    idx = F.least(F.greatest(raw, F.lit(0).cast("bigint")), max_index.cast("bigint"))
    return (
        F.when(F.isnan(coord) | (F.abs(coord) == F.lit(float("inf"))), F.lit(0).cast("bigint"))
        .otherwise(F.coalesce(idx, F.lit(0).cast("bigint")))
    )


def xy_tile_x(x: ColumnOrName, p: ZoomParams) -> Column:
    """xtile = floor((x - origin_x) / (res * tile_width)), clamped."""
    xc = _col(x)
    raw = F.floor((xc - F.lit(p.origin_x)) / F.lit(p.resolution * float(p.tile_width)))
    return _tile_index(xc, raw, F.lit(p.matrix_width))


def xy_tile_y(y: ColumnOrName, p: ZoomParams) -> Column:
    yc = _col(y)
    raw = F.floor((F.lit(p.origin_y) - yc) / F.lit(p.resolution * float(p.tile_height)))
    return _tile_index(yc, raw, F.lit(p.matrix_height))


def xy_cols(tms: Tms, lon: ColumnOrName, lat: ColumnOrName) -> tuple[Column, Column]:
    """Geographic (lon, lat) -> (x, y) in the TMS CRS: the Column lift of
    Tms.xy (reference src/tms.rs:446-455) and the one place the engine
    decides that projection. EPSG:3857 is the forward Mercator,
    EPSG:4326 the identity; any other CRS raises ValueError naming it."""
    srid = tms.crs().as_srid()
    if srid == 3857:
        return mercator_x(lon), mercator_y(lat)
    if srid == 4326:
        return _col(lon), _col(lat)
    raise ValueError(f"lon/lat projection supports EPSG:3857/4326 TMS, got {tms.crs()}")


def with_tile(
    df: DataFrame,
    tms: Tms,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
    out_x: str = "tile_x",
    out_y: str = "tile_y",
) -> DataFrame:
    """Add (tile_x, tile_y) for one zoom — two narrow projections.

    The CRS transform is materialized into temp columns first so the
    clamp's CASE WHEN branches reference a column instead of re-evaluating
    radians/ln/tan (codegen does not CSE across when() branches).
    """
    gx, gy = xy_cols(tms, lon, lat)
    staged = df.withColumns({"_gx": gx, "_gy": gy})
    return with_tile_xy(staged, tms, zoom, "_gx", "_gy", out_x, out_y).drop("_gx", "_gy")


# bits per tile index in the packed key: [zoom:6][tile_x:28][tile_y:28]
_KEY_BITS = 28


def tile_key(
    tile_x: ColumnOrName, tile_y: ColumnOrName, zoom: ColumnOrName | int | None = None
) -> Column:
    """Pack (zoom?, tile_x, tile_y) into ONE BIGINT join key.

    Load-bearing at scale: Spark's broadcast hash joins take the
    LongHashedRelation fast path only for a single bigint key; joining on
    the 2-column (tile_x, tile_y) key falls back to UnsafeHashedRelation,
    measured 3-10x slower per probe on this engine's PIP plan AND
    anti-scaling with core count (allocation per probe). Always join on
    this packed key.

    Layout: [zoom:6][tile_x:28][tile_y:28] — valid for zoom <= 28 grids
    (indices < 2^28), which covers every registered TMS's predefined range.
    """
    tx = _col(tile_x).cast("bigint")
    ty = _col(tile_y).cast("bigint")
    key = tx * F.lit(1 << _KEY_BITS) + ty
    if zoom is not None:
        z = F.lit(zoom) if isinstance(zoom, int) else _col(zoom)
        key = key + z.cast("bigint") * F.lit(1 << (2 * _KEY_BITS))
    return key


def tile_key_in_sql(tiles) -> str:
    """The predicate `tile_key(tile_x, tile_y) IN (<tiles' keys>)` over
    the given (x, y) tiles, as ONE SQL string for `where(...)`: the
    parse is one py4j round trip, where the same IN-list built from
    Column literals costs ~3 per value (283 for a screen-sized
    viewport).

    Two per-column IN-lists over the tiles' own x and y values come
    first: a source pushes those down (.explain shows
    `PushedFilters: [In(tile_x, ...), In(tile_y, ...)]`, so parquet
    prunes row groups on column statistics). The packed-key IN (this
    module's tile_key layout) that trims the rectangle they let through
    follows, left out when the tiles fill it. No tiles select no row
    (`false`: SQL has no empty IN-list). A null tile_x or tile_y makes
    the predicate NULL, so negate it null-safely:
    `NOT coalesce(<predicate>, false)`."""
    pairs = {(int(x), int(y)) for x, y in tiles}
    if not pairs:
        return "false"
    if not all(0 <= v < 1 << _KEY_BITS for xy in pairs for v in xy):
        raise ValueError(f"tile indices must lie in [0, 2^{_KEY_BITS})")
    keys = sorted((tx << _KEY_BITS) + ty for tx, ty in pairs)
    xs = sorted({tx for tx, _ in pairs})
    ys = sorted({ty for _, ty in pairs})

    def in_list(expr: str, vals: list[int]) -> str:
        return f"{expr} IN ({', '.join(map(str, vals))})"

    pred = f"{in_list('tile_x', xs)} AND {in_list('tile_y', ys)}"
    if len(xs) * len(ys) > len(keys):
        key = f"(CAST(tile_x AS BIGINT) * {1 << _KEY_BITS} + CAST(tile_y AS BIGINT))"
        pred += f" AND {in_list(key, keys)}"
    return pred


def with_tile_xy(
    df: DataFrame,
    tms: Tms,
    zoom: int,
    x: str = "x",
    y: str = "y",
    out_x: str = "tile_x",
    out_y: str = "tile_y",
) -> DataFrame:
    """Tile assignment from coordinates ALREADY in the TMS CRS — works for
    any grid including custom ones (LV95/CH1903+), mirroring xy_tile
    (tms.rs:490-535) with no geographic transform."""
    p = tms.zoom_params(zoom)
    return df.withColumns(
        {out_x: xy_tile_x(_col(x), p), out_y: xy_tile_y(_col(y), p)}
    )


def with_tiles_multizoom(
    df: DataFrame,
    tms: Tms,
    zooms: Sequence[int],
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Assign every row to its tile at EVERY zoom in `zooms`.

    Strategy: materialize the CRS transform ONCE (it is zoom-invariant),
    then `explode` a literal array of per-zoom parameter structs — a pure
    codegen'd generator with no join machinery and no broadcast (measured
    ~25-30% faster than a broadcast crossJoin at 25 zooms x 600k rows).
    Output gains `zoom, tile_x, tile_y`; row count multiplies by
    len(zooms) by design.
    """
    gx, gy = xy_cols(tms, lon, lat)
    staged = df.withColumns({"_gx": gx, "_gy": gy})

    params = [tms.zoom_params(z) for z in zooms]
    if any(p.matrix_width >= 2**53 for p in params):
        raise ValueError("degenerate extended matrix not supported in columnar path")

    if _quadtree_shiftable(params):
        return _multizoom_by_shift(staged, params).drop("_gx", "_gy")

    arr = F.array(
        *[
            F.struct(
                F.lit(p.zoom).alias("zoom"),
                F.lit(p.resolution * float(p.tile_width)).alias("uw"),
                F.lit(p.resolution * float(p.tile_height)).alias("uh"),
                F.lit(p.origin_x).alias("ox"),
                F.lit(p.origin_y).alias("oy"),
                F.lit(p.matrix_width).alias("mw"),
                F.lit(p.matrix_height).alias("mh"),
            )
            for p in params
        ]
    )
    e = staged.withColumn("_p", F.explode(arr))
    x, y = F.col("_gx"), F.col("_gy")
    raw_x = F.floor((x - F.col("_p.ox")) / F.col("_p.uw"))
    raw_y = F.floor((F.col("_p.oy") - y) / F.col("_p.uh"))
    return (
        e.withColumns(
            {
                "zoom": F.col("_p.zoom"),
                "tile_x": _tile_index(x, raw_x, F.col("_p.mw")),
                "tile_y": _tile_index(y, raw_y, F.col("_p.mh")),
            }
        )
        .drop("_p", "_gx", "_gy")
    )


def _quadtree_shiftable(params) -> bool:
    """True iff every requested zoom is an exact power-of-2 refinement of
    the deepest one IN DOUBLES, so base-tile + bit-shift is bit-identical
    to the per-zoom floor formula (see _multizoom_by_shift proof)."""
    deepest = max(params, key=lambda p: p.zoom)
    for p in params:
        k = deepest.zoom - p.zoom
        if (
            p.origin_x != deepest.origin_x
            or p.origin_y != deepest.origin_y
            or p.tile_width != deepest.tile_width
            or p.tile_height != deepest.tile_height
            or p.matrix_width * 2**k != deepest.matrix_width
            or p.matrix_height * 2**k != deepest.matrix_height
            or p.resolution != deepest.resolution * float(2**k)
        ):
            return False
    return True


def _multizoom_by_shift(staged: DataFrame, params) -> DataFrame:
    """Quadtree fast path: ONE floor-division per point at the deepest
    zoom, coarser zooms derived by integer shift — 25x fewer divisions
    for a z0-24 sweep, the dominant cost of the 100 TB assignment scan.

    Bit-exactness vs the per-zoom formula (given _quadtree_shiftable):
    u_z == u_zmax * 2^k exactly in doubles, and dividing a double by an
    exact power of two commutes with round-to-nearest, so
    fl(a/u_z) == fl(a/u_zmax) / 2^k exactly; then
    floor(floor(v) / 2^k) == floor(v / 2^k) for any real v (floor
    nesting), so shifting the floored base index equals flooring the
    per-zoom quotient. Clamps: raw<0 -> 0 shifts to 0; raw>mw_zmax
    clamps to 2^zmax which shifts to exactly 2^z (the reference's
    clamp-at-width, tms.rs:522-532); NaN/inf -> 0 at the base, 0
    shifted."""
    deepest = max(params, key=lambda p: p.zoom)
    x, y = F.col("_gx"), F.col("_gy")
    uw = F.lit(deepest.resolution * float(deepest.tile_width))
    uh = F.lit(deepest.resolution * float(deepest.tile_height))
    raw_x = F.floor((x - F.lit(deepest.origin_x)) / uw)
    raw_y = F.floor((F.lit(deepest.origin_y) - y) / uh)
    based = staged.withColumns(
        {
            "_bx": _tile_index(x, raw_x, F.lit(deepest.matrix_width)),
            "_by": _tile_index(y, raw_y, F.lit(deepest.matrix_height)),
        }
    )
    arr = F.array(
        *[
            F.struct(
                F.lit(p.zoom).alias("zoom"),
                F.lit(deepest.zoom - p.zoom).alias("k"),
            )
            for p in params
        ]
    )
    e = based.withColumn("_p", F.explode(arr))
    return e.withColumns(
        {
            "zoom": F.col("_p.zoom"),
            "tile_x": F.expr("shiftright(_bx, _p.k)"),
            "tile_y": F.expr("shiftright(_by, _p.k)"),
        }
    ).drop("_p", "_bx", "_by")


# ---------------------------------------------------------------------------
# Tile -> coordinates
# ---------------------------------------------------------------------------

def tile_bounds_cols(
    tile_x: ColumnOrName, tile_y: ColumnOrName, p: ZoomParams
) -> dict[str, Column]:
    """CRS bbox of a tile: UL(tile) and UL(x+1, y+1), tms.rs:586-590."""
    tx = _col(tile_x).cast("double")
    ty = _col(tile_y).cast("double")
    uw = F.lit(p.resolution * float(p.tile_width))
    uh = F.lit(p.resolution * float(p.tile_height))
    return {
        "minx": F.lit(p.origin_x) + tx * uw,
        "maxy": F.lit(p.origin_y) - ty * uh,
        "maxx": F.lit(p.origin_x) + (tx + F.lit(1.0)) * uw,
        "miny": F.lit(p.origin_y) - (ty + F.lit(1.0)) * uh,
    }


def merc_tile_ul_lon(tile_x: ColumnOrName, zoom: ColumnOrName) -> Column:
    """lon = x / 2^z * 360 - 180 (geographic fast path, basic.rs:59-65)."""
    n = F.pow(F.lit(2.0), _col(zoom).cast("double"))
    return _col(tile_x).cast("double") / n * F.lit(360.0) - F.lit(180.0)


def merc_tile_ul_lat(tile_y: ColumnOrName, zoom: ColumnOrName) -> Column:
    """lat = degrees(atan(sinh(pi * (1 - 2y/2^z))))."""
    n = F.pow(F.lit(2.0), _col(zoom).cast("double"))
    return F.degrees(
        F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * _col(tile_y).cast("double") / n)))
    )


def geo_bounds_cols(
    tile_x: ColumnOrName, tile_y: ColumnOrName, zoom: ColumnOrName
) -> dict[str, Column]:
    """Geographic bbox of a WebMercator tile via two UL evaluations."""
    tx, ty = _col(tile_x), _col(tile_y)
    return {
        "west": merc_tile_ul_lon(tx, zoom),
        "north": merc_tile_ul_lat(ty, zoom),
        "east": merc_tile_ul_lon(tx + F.lit(1), zoom),
        "south": merc_tile_ul_lat(ty + F.lit(1), zoom),
    }


# ---------------------------------------------------------------------------
# Quadkey (pure column bit math — no UDF)
# ---------------------------------------------------------------------------

def quadkey_col(
    tile_x: ColumnOrName, tile_y: ColumnOrName, zoom: ColumnOrName, minzoom: int = 0
) -> Column:
    """Bing quadkey: digit at level i = bit(x, i-1) + 2*bit(y, i-1) for
    i from z down to minzoom+1 (quadkey.rs:23-44).

    Fast path (zoom <= 31): the quadkey IS the base-4 rendering of the
    Morton interleave of (x, y), left-padded with '0' to z digits — one
    integer Morton fold (31 unrolled shift/or pairs, plan-time
    literals), one conv(,10,4), one lpad. Measured 30-45x faster than
    the previous per-digit transform() (19.9s -> 0.45s for 8M z12 keys
    on local[32]): the lambda re-evaluated pow/floor DOUBLE math per
    digit and array_join allocated per element. Variable per-row zoom
    keeps working — tiles at zoom z satisfy x,y < 2^z, so higher Morton
    bits are zero and lpad supplies exactly the leading zeros.

    zoom > 31 rows (beyond int64 Morton range; no registered quadtree
    TMS goes there, but the reference accepts any u8) fall back to the
    transform path in the same expression."""
    tx, ty, tz = _col(tile_x), _col(tile_y), _col(zoom)

    morton = F.lit(0).cast("long")
    for k in range(31):
        morton = (
            morton
            + F.shiftleft(F.shiftright(tx, k).bitwiseAND(F.lit(1)), 2 * k)
            + F.shiftleft(F.shiftright(ty, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        )
    base4 = F.conv(morton.cast("string"), 10, 4)
    # F.lpad only takes a literal length; call the SQL function, whose
    # len argument is a real expression
    fast = F.call_function("lpad", base4, tz.cast("int"), F.lit("0"))

    seq = F.sequence(tz.cast("int"), F.lit(1), F.lit(-1))
    # bit(v, k) = floor(v / 2^k) % 2 — exact in double for zoom <= 52,
    # and shiftright() only accepts a literal shift amount in the DSL.

    def bit(v: Column, i: Column) -> Column:
        return F.pmod(
            F.floor(v.cast("double") / F.pow(F.lit(2.0), (i - F.lit(1)).cast("double"))),
            F.lit(2),
        )

    digits = F.transform(seq, lambda i: (bit(tx, i) + F.lit(2) * bit(ty, i)).cast("string"))
    slow = F.array_join(digits, "")

    qk = F.when(tz <= F.lit(31), fast).otherwise(slow)
    if minzoom > 0:
        qk = qk.substr(F.lit(1), (tz - F.lit(minzoom)).cast("int"))
    return F.when(tz <= F.lit(minzoom), F.lit("")).otherwise(qk)


def quadkey_to_tile_cols(qk: ColumnOrName) -> dict[str, Column]:
    """Inverse quadkey (quadkey.rs:50-78): '' -> (0,0,0); digit 1 sets x bit,
    2 sets y bit, 3 both; z = len(qk).

    Fast path (len <= 31): the quadkey read as a base-4 number IS the
    Morton code — conv(qk, 4, 10) then an unrolled integer
    de-interleave (the exact inverse of quadkey_col's compose; measured
    ~6x over the previous two per-char aggregate() lambdas doing
    pow-double math). Longer keys fall back to the aggregate path in
    the same expression.

    Malformed keys (any char outside '0'-'3') -> NULL tile_x/tile_y/zoom
    on BOTH paths. The reference panics on such input (quadkey.rs:60-66,
    QuadKeyError); NULL is the Column-API rendering of that error, and
    the rlike guard keeps the fast (conv) and slow (per-char) paths
    consistent instead of conv's lenient digit parsing silently
    diverging from treat-as-0."""
    q = _col(qk)
    valid = q.rlike("^[0-3]*$")
    n = F.length(q)

    m = F.conv(q, 4, 10).cast("long")
    fx = F.lit(0).cast("long")
    fy = F.lit(0).cast("long")
    for k in range(31):
        fx = fx + F.shiftleft(F.shiftright(m, 2 * k).bitwiseAND(F.lit(1)), k)
        fy = fy + F.shiftleft(F.shiftright(m, 2 * k + 1).bitwiseAND(F.lit(1)), k)

    idxs = F.sequence(F.lit(1), n)  # 1-based char positions

    def bits(digits: tuple[str, str]) -> Column:
        return F.aggregate(
            idxs,
            F.lit(0).cast("bigint"),
            lambda acc, i: acc
            + F.when(
                F.substring(q, i, 1).isin(*digits),
                F.pow(F.lit(2.0), (n - i).cast("double")).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )

    xbits = F.when(n <= F.lit(31), fx).otherwise(bits(("1", "3")))
    ybits = F.when(n <= F.lit(31), fy).otherwise(bits(("2", "3")))
    return {
        "tile_x": F.when(valid, F.coalesce(xbits, F.lit(0).cast("bigint"))),
        "tile_y": F.when(valid, F.coalesce(ybits, F.lit(0).cast("bigint"))),
        "zoom": F.when(valid, n.cast("int")),
    }


# ---------------------------------------------------------------------------
# Relatives (explode generators)
# ---------------------------------------------------------------------------

def explode_neighbors(
    df: DataFrame, p: ZoomParams, tile_x: str = "tile_x", tile_y: str = "tile_y"
) -> DataFrame:
    """1-ring neighbors (up to 8 valid), tms.rs:951-971. Adds nx, ny."""
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    e = df.withColumn("_o", F.explode(offsets))
    e = e.withColumns(
        {
            "nx": F.col(tile_x) + F.col("_o.dx"),
            "ny": F.col(tile_y) + F.col("_o.dy"),
        }
    ).drop("_o")
    return e.filter(
        (F.col("nx") >= 0)
        & (F.col("ny") >= 0)
        & (F.col("nx") <= F.lit(p.matrix_width - 1))
        & (F.col("ny") <= F.lit(p.matrix_height - 1))
    )


def children_cols(
    tile_x: ColumnOrName, tile_y: ColumnOrName, levels: int = 1
) -> dict[str, Column]:
    """Child index ranges for power-of-two (quadtree) TMS: x<<d .. (x+1)<<d - 1."""
    d = F.lit(levels)
    tx, ty = _col(tile_x), _col(tile_y)
    return {
        "child_x_min": F.shiftleft(tx, levels),
        "child_x_max": F.shiftleft(tx + F.lit(1), levels) - F.lit(1),
        "child_y_min": F.shiftleft(ty, levels),
        "child_y_max": F.shiftleft(ty + F.lit(1), levels) - F.lit(1),
    }


def parent_cols(
    tile_x: ColumnOrName, tile_y: ColumnOrName, levels: int = 1
) -> dict[str, Column]:
    """Parent tile for quadtree TMS: x >> d (tms.rs:982-1015 specialization)."""
    return {
        "parent_x": F.shiftright(_col(tile_x), levels),
        "parent_y": F.shiftright(_col(tile_y), levels),
    }
