"""Vector-tile payload production: points -> real MVT binaries per tile.

Completes the raster<->vector story (operators/raster.py paints raster
masks; this emits the vector side) on top of the reference's tile
addressing (/root/reference/src/tms.rs xy_bounds/tile semantics for the
local-coordinate transform). Payload format is the public Mapbox Vector
Tile 2.1 spec via the stdlib-only codec in functions/mvt.py.

Scale shape: ONE shuffle on the tile key, then the batched group kernel
(plans/grouped.batched_group_map) builds each tile's binary where its
rows landed; feature coords are quantized to tile-local integers with
native Column math BEFORE the shuffle, so only (tile, id, px, py) ints
move, never raw payloads. Dense tiles are real data skew: more than
MAX_FEATURES_PER_TILE input rows in one tile raises rather than OOM
inside a task — producers should roll up dense zooms first
(operators/rollup.py).

Every builder shares one per-tile frame: `_local_xy` quantizes to
tile-local integers, `_stage` projects the point and path builders'
lon/lat into the TMS CRS (grid_cols.xy_cols), assigns the tile and
quantizes, `_tiles` runs the per-tile build under the one budget check,
and `_tile_row` is the output row.

Store maintenance (upsert_point_tiles, behind
streaming.refresh_mvt_store) sends only the tiles a batch touches
across the Python boundary: the batch's distinct tile keys come to the
driver and become one parsed IN-list predicate
(grid_cols.tile_key_in_sql) that selects the stored tiles to merge, one
pass decodes those, overlays the batch points by fid and re-encodes;
every other stored tile passes the predicate's negation as its stored
bytes. No join, no shuffle: a refresh is the key collect plus the
store write.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.tms import Tms, ZoomParams
from ..functions.grid_cols import tile_key_in_sql, xy_cols, xy_tile_x, xy_tile_y
from ..functions.mvt import (
    DEFAULT_EXTENT,
    decode_line_tile,
    decode_point_tile,
    decode_poly_tile,
    encode_line_tile,
    encode_point_tile,
    encode_point_tile_np,
    encode_poly_tile,
)
from ..plans.grouped import batched_group_map
from .cover import cover_bbox_geographic

TILES_SCHEMA = "tile_x BIGINT, tile_y BIGINT, n_features INT, mvt BINARY"

# every tile build's budget of input rows: points, rects or path/ring
# vertices (in an upsert, the batch rows)
MAX_FEATURES_PER_TILE = 2_000_000

# the most distinct tiles one upsert_point_tiles batch may touch: their
# keys come to the driver and are parsed as one IN-list predicate, and
# their merge runs in one task
MAX_REFRESH_TILES = 10_000

# (JVM gateway, srid, ZoomParams, extent, lon, lat) -> _stage's Columns
_STAGING: dict = {}


def _stage(
    points: DataFrame, tms: Tms, zoom: int, lon: str, lat: str, extent: int
) -> DataFrame:
    """Rows + their TMS-CRS coordinates (_gx, _gy), tile (tile_x,
    tile_y) at `zoom` and clamped tile-local coordinates (_px, _py,
    from _local_xy): the staging the point and path builders share.

    The Columns are built once per (CRS, zoom, extent, lon, lat) and
    reused: each Column operation costs ~12 py4j round trips, so
    building these ~70 cost ~900 per call, most of a store refresh's
    plan building. A Column is an immutable expression, so a reused one
    gives the same plan; the JVM gateway is part of the key because a
    Column does not outlive its JVM."""
    from pyspark import SparkContext

    p = tms.zoom_params(zoom)
    key = (SparkContext._gateway, tms.crs().as_srid(), p, extent, lon, lat)
    cols = _STAGING.get(key)
    if cols is None:
        gx, gy = xy_cols(tms, lon, lat)
        px, py = _local_xy(F.col("_gx"), F.col("_gy"), p, extent, clamp=True)
        cols = (
            {"_gx": gx, "_gy": gy},
            {"tile_x": xy_tile_x(F.col("_gx"), p), "tile_y": xy_tile_y(F.col("_gy"), p)},
            {"_px": px, "_py": py},
        )
        if len(_STAGING) >= 64:  # a bound, not an eviction policy
            _STAGING.clear()
        _STAGING[key] = cols
    for c in cols:
        points = points.withColumns(c)
    return points


def _local_xy(
    gx: Column, gy: Column, p: ZoomParams, extent: int, clamp: bool
) -> tuple[Column, Column]:
    """The one tile-local quantizer: TMS-CRS (gx, gy) -> INT
    floor(frac_within_tile * extent) against the row's (tile_x, tile_y).
    Points and paths clamp to [0, extent-1]; bbox and ring polygons do
    not, since their vertices may lie outside the tile (the MVT
    clip-buffer convention) — pure floor math a SQL oracle replays."""

    def local(frac: Column, tile: str) -> Column:
        raw = F.floor((frac - F.col(tile)) * F.lit(float(extent)))
        if clamp:
            raw = F.least(F.greatest(raw, F.lit(0)), F.lit(extent - 1))
        return raw.cast("int")

    span_x = p.resolution * float(p.tile_width)
    span_y = p.resolution * float(p.tile_height)
    return (
        local((gx - F.lit(p.origin_x)) / F.lit(span_x), "tile_x"),
        local((F.lit(p.origin_y) - gy) / F.lit(span_y), "tile_y"),
    )


def _tile_row(pdf: pd.DataFrame, n_features: int, mvt: bytes) -> pd.DataFrame:
    """The one output row of a tile build (TILES_SCHEMA) at the group's
    (tile_x, tile_y); no row when the tile has no features."""
    row = pd.DataFrame(
        {
            "tile_x": [int(pdf.tile_x.iloc[0])],
            "tile_y": [int(pdf.tile_y.iloc[0])],
            "n_features": [n_features],
            "mvt": [mvt],
        }
    )
    return row if n_features else row.iloc[:0]


def _tiles(rows: DataFrame, build, single_task: bool = False) -> DataFrame:
    """Run `build(tile_pdf) -> _tile_row(...)` once per (tile_x, tile_y)
    group through the batched group kernel, behind the one budget
    check: a tile with more than MAX_FEATURES_PER_TILE input rows raises
    (rows with a stored `mvt`, in an upsert, do not count). The budget
    is read when the plan is built."""
    limit = MAX_FEATURES_PER_TILE

    def checked(pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf.mvt.isna().sum()) if "mvt" in pdf.columns else len(pdf)
        if n > limit:
            raise ValueError(
                f"tile ({pdf.tile_x.iloc[0]},{pdf.tile_y.iloc[0]}) has {n} rows "
                f"> max_features_per_tile={limit} — roll up or simplify before encoding"
            )
        return build(pdf)

    return batched_group_map(
        rows, ("tile_x", "tile_y"), checked, TILES_SCHEMA, single_task=single_task
    )


def _point_rows(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str,
    lon: str,
    lat: str,
    extent: int,
    attr_cols: tuple[str, ...],
):
    """The JVM staging every point-tile build shares: (id, lon, lat,
    *attrs) -> (tile_x, tile_y, fid, px, py, *attr_cols) rows with the
    tile-local coordinates quantized (clamped) by `_local_xy`, plus
    `tags(pdf)`, the per-row {attr: value} dicts the encoder's tag
    dictionaries take.

    Nullable integral/bool columns arrive in pandas as float64 (NaN for
    null), so `tags` restores the declared Spark type to get python
    natives for the codec's int/bool/float/str switch; null and NaN are
    both elided from the feature's tags."""
    attr_casts = {
        c: (
            int
            if isinstance(
                points.schema[c].dataType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
            )
            else bool
            if isinstance(points.schema[c].dataType, T.BooleanType)
            else float
            if isinstance(points.schema[c].dataType, (T.FloatType, T.DoubleType))
            else None
        )
        for c in attr_cols
    }
    rows = _stage(points, tms, zoom, lon, lat, extent).selectExpr(
        "tile_x", "tile_y", f"`{id_col}` AS fid", "_px AS px", "_py AS py",
        *[f"`{c}`" for c in attr_cols],
    )

    def tags(pdf: pd.DataFrame) -> list[dict]:
        def clean(c: str) -> list:
            cast = attr_casts[c]
            out = []
            for v in pdf[c].tolist():
                if v is None or (isinstance(v, float) and math.isnan(v)):
                    out.append(None)
                else:
                    out.append(cast(v) if cast else v)
            return out

        cols = {c: clean(c) for c in attr_cols}
        return [
            {c: cols[c][i] for c in attr_cols if cols[c][i] is not None}
            for i in range(len(pdf))
        ]

    return rows, tags


def _encode_features(feats: dict, layer: str, extent: int) -> bytes:
    """{fid: (px, py, tags)} -> one point tile with features sorted by
    fid; the numpy encoder when no feature has tags, encode_point_tile
    (tag dictionaries) when some do. Both are byte-identical on
    tag-less input, so a tile's bytes are a function of its fid-sorted
    features alone."""
    fids = sorted(feats)
    attrs = [feats[f][2] for f in fids]
    if any(attrs):
        return encode_point_tile(
            [(f, feats[f][0], feats[f][1]) for f in fids], layer, extent, attrs=attrs
        )
    return encode_point_tile_np(
        np.asarray(fids, dtype=np.int64),
        np.asarray([feats[f][0] for f in fids], dtype=np.int64),
        np.asarray([feats[f][1] for f in fids], dtype=np.int64),
        layer,
        extent,
    )


def _point_tile_build(tags, attr_cols: tuple[str, ...], layer: str, extent: int):
    """The one per-tile point encode rule, shared by encode_point_tiles
    and upsert_point_tiles. A group is one tile's batch rows (`mvt`
    absent or null) plus, in an upsert, the tile's stored binary (`mvt`
    set); `_tiles` bounds the batch rows.

    A fid that appears more than once among the batch rows keeps ONE
    copy, the one that sorts last by (fid, px, py, *attr_cols) — nulls
    first — so the bytes depend on neither partitioning nor arrival
    order (MVT ids should be unique within a layer). The stored tile is
    decoded (tags included) and the batch copies overlay it by fid, the
    batch winning. Features are written sorted by fid: the vectorized
    numpy encoder when nothing is stored and there are no attr_cols,
    else _encode_features."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        if "mvt" in pdf.columns:  # an upsert group: batch rows + the stored tile
            payloads, batch = pdf.mvt.dropna().tolist(), pdf[pdf.mvt.isna()]
        else:
            payloads, batch = [], pdf
        fid, px, py = (batch[c].to_numpy() for c in ("fid", "px", "py"))
        order = np.lexsort((py, px, fid))  # stable: (fid, px, py) ties keep row order
        tg = tags(batch) if attr_cols else None
        if tg is not None and (fid[order][1:] == fid[order][:-1]).any():
            # copies of one fid also rank by their attrs, nulls first
            order = np.asarray(sorted(order, key=lambda i: (
                fid[i], px[i], py[i], *[(c in tg[i], tg[i].get(c)) for c in attr_cols]
            )))
        f = fid[order]
        win = order[np.append(f[1:] != f[:-1], True)]  # the last copy of a fid
        if tg is None and not payloads:
            # no tag dictionaries: the whole feature stream is three
            # varints per row around fixed key bytes — vectorized numpy
            # encoder, byte-identical (parity pytest), ~10x the scalar
            # per-point loop that dominated the MVT production bench
            return _tile_row(
                pdf, len(win), encode_point_tile_np(fid[win], px[win], py[win], layer, extent)
            )
        feats: dict = {}
        for payload in payloads:
            (lyr,) = decode_point_tile(bytes(payload), with_attrs=True)["layers"]
            if lyr["extent"] != extent:
                raise ValueError(
                    f"stored tile ({pdf.tile_x.iloc[0]},{pdf.tile_y.iloc[0]}) "
                    f"has extent {lyr['extent']}, the batch {extent}"
                )
            for fi, x, y, a in lyr["features"]:
                feats[fi] = (x, y, a)
        for i in win:
            feats[int(fid[i])] = (int(px[i]), int(py[i]), tg[i] if tg is not None else {})
        return _tile_row(pdf, len(feats), _encode_features(feats, layer, extent))

    return build


def encode_point_tiles(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    extent: int = DEFAULT_EXTENT,
    layer: str = "points",
    attr_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, lon, lat) -> one row per non-empty tile at `zoom`:
    (tile_x, tile_y, n_features, mvt). Features are sorted by id inside
    each tile, so the binaries are deterministic; an id that appears
    more than once in a tile keeps one copy, the one that sorts last by
    (id, px, py, *attr_cols) (_point_tile_build). Local coordinates are
    floor((frac_within_tile) * extent) clamped to [0, extent-1] — the
    formula a SQL oracle replays verbatim.

    `attr_cols` columns ride the shuffle and land in the payload as the
    spec's tag dictionaries (per-layer key/value tables, per-feature
    index pairs; string/int64/double/bool). Null attribute values are
    elided from that feature's tags."""
    attr_cols = tuple(attr_cols)
    rows, tags = _point_rows(points, tms, zoom, id_col, lon, lat, extent, attr_cols)
    return _tiles(rows, _point_tile_build(tags, attr_cols, layer, extent))


def encode_bbox_poly_tiles(
    rects: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "rid",
    west: str = "minx",
    south: str = "miny",
    east: str = "maxx",
    north: str = "maxy",
    extent: int = DEFAULT_EXTENT,
    layer: str = "polys",
) -> DataFrame:
    """Geographic bboxes -> polygon MVT binaries, one row per covered
    tile. Each rect lands UNCLIPPED in every tile its bbox covers
    (cover_bbox_geographic — the reference's epsilon-inset cover), so a
    tile's ring vertices may lie outside [0, extent): that is the MVT
    clip-buffer convention renderers expect, and it keeps the local
    quantization pure floor math a SQL oracle can replay with no clamp.
    Rings wind (w,n)->(e,n)->(e,s)->(w,s): clockwise in the y-down tile
    frame = exterior per spec. Same one-exchange shape as
    encode_point_tiles: quantize with native Columns, shuffle only
    (tile, id, 4 ints), build bytes where the rows land."""
    p = tms.zoom_params(zoom)
    pxw, pyn = _local_xy(*xy_cols(tms, west, north), p, extent, clamp=False)
    pxe, pys = _local_xy(*xy_cols(tms, east, south), p, extent, clamp=False)
    covered = cover_bbox_geographic(rects, tms, zoom, west, south, east, north)
    rows = covered.select(
        "tile_x",
        "tile_y",
        F.col(id_col).alias("fid"),
        pxw.alias("pxw"),
        pxe.alias("pxe"),
        pyn.alias("pyn"),
        pys.alias("pys"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("fid")
        feats = [
            (
                int(f),
                [[(int(xw), int(yn)), (int(xe), int(yn)),
                  (int(xe), int(ys)), (int(xw), int(ys))]],
            )
            for f, xw, xe, yn, ys in zip(pdf.fid, pdf.pxw, pdf.pxe, pdf.pyn, pdf.pys)
        ]
        return _tile_row(pdf, len(feats), encode_poly_tile(feats, layer, extent))

    return _tiles(rows, build)


def encode_path_tiles(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "tid",
    order_col: str = "seq",
    lon: str = "lon",
    lat: str = "lat",
    extent: int = DEFAULT_EXTENT,
    layer: str = "lines",
) -> DataFrame:
    """Ordered trajectories -> LINESTRING MVT binaries, one row per tile
    a path visits. Semantics are VERTEX-RUN tiling, not geometric
    clipping: a trajectory is split into maximal runs of consecutive
    vertices that land in the same tile, each surviving run (>= 2
    vertices) becomes one part of that tile's feature for the
    trajectory, and the segment that crosses a tile border is drawn in
    neither tile. That keeps every step pure column math + two window
    functions a SQL oracle replays verbatim (no line/edge intersection),
    and is the standard cheap trajectory-tiling trade renderers accept
    at high zooms. A path that re-enters a tile yields a multi-part
    (MULTILINESTRING) feature — the spec's repeated MoveTo/LineTo stream
    (functions/mvt.encode_line_tile).

    Scale shape: one exchange for the per-trajectory windows (hash by
    `id_col` — trajectories are the natural partition key and fit
    executors by construction), then the same tile exchange any
    per-tile sink needs; only (tile, id, run, seq, px, py) ints ever
    shuffle. Runs shorter than 2 vertices are dropped inside the tile
    build (no extra window pass). Reference addressing: tile/local
    coords re-derive /root/reference/src/tms.rs xy_tile + xy_bounds
    semantics, as in encode_point_tiles."""
    from pyspark.sql import Window

    staged = _stage(points, tms, zoom, lon, lat, extent)
    w = Window.partitionBy(id_col).orderBy(order_col)
    # first row of a trajectory (lag null) starts run 1, as does every
    # tile change; the cumulative sum is the run index
    chg = (
        F.coalesce(
            (F.lag("tile_x").over(w) != F.col("tile_x"))
            | (F.lag("tile_y").over(w) != F.col("tile_y")),
            F.lit(True),
        )
    ).cast("int")
    staged = staged.withColumn("_chg", chg).withColumn(
        "run_id", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    rows = staged.select(
        "tile_x",
        "tile_y",
        F.col(id_col).alias("fid"),
        "run_id",
        F.col(order_col).alias("vseq"),
        F.col("_px").alias("px"),
        F.col("_py").alias("py"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["fid", "run_id", "vseq"])
        feats = []
        for fid, g in pdf.groupby("fid", sort=True):
            parts = [
                [(int(x), int(y)) for x, y in zip(r.px, r.py)]
                for _, r in g.groupby("run_id", sort=True)
                if len(r) >= 2
            ]
            if parts:
                feats.append((int(fid), parts))
        return _tile_row(pdf, len(feats), encode_line_tile(feats, layer, extent))

    return _tiles(rows, build)


DECODED_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_features INT, min_id BIGINT, "
    "max_id BIGINT, sum_px BIGINT, sum_py BIGINT, extent INT"
)


def _decode_stats(
    tiles: DataFrame,
    schema: str,
    decode: Callable[[bytes], dict],
    stats: Callable[[list], tuple],
) -> DataFrame:
    """Shared driver of the decode_*_stats checks: re-parse each tile's
    MVT with `decode` and emit one row per tile — the passthrough tile
    address, `stats(features)` of its single layer, then the layer
    extent — under `schema` ("name TYPE, ..." in that column order)."""
    cols = [f.split()[0] for f in schema.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for tx, ty, payload in zip(b["tile_x"], b["tile_y"], b["mvt"]):
                (layer,) = decode(bytes(payload))["layers"]
                fs = layer["features"]
                rows.append((int(tx), int(ty), *stats(fs), int(layer["extent"])))
            yield pd.DataFrame(rows, columns=cols)

    return tiles.select("tile_x", "tile_y", "mvt").mapInPandas(run, schema)


def _id_range(fs: list) -> tuple[int, int]:
    return min(f[0] for f in fs), max(f[0] for f in fs)


def _vertex_stats(fs: list) -> tuple:
    """(n_vertices, min_id, max_id, sum_px, sum_py) over features whose
    geometry is a list of vertex sequences (polygon rings, line parts)."""
    verts = [v for _, geom in fs for seq in geom for v in seq]
    return len(verts), *_id_range(fs), sum(v[0] for v in verts), sum(v[1] for v in verts)


def decode_tile_stats(tiles: DataFrame) -> DataFrame:
    """Re-parse the MVT binaries and aggregate what they CONTAIN —
    everything except the passthrough tile address is recomputed from
    the bytes, so any encoder/wire bug surfaces as a value mismatch."""
    return _decode_stats(tiles, DECODED_SCHEMA, decode_point_tile, lambda fs: (
        len(fs), *_id_range(fs), sum(f[1] for f in fs), sum(f[2] for f in fs)
    ))


POLY_DECODED_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_features INT, n_vertices INT, "
    "min_id BIGINT, max_id BIGINT, sum_px BIGINT, sum_py BIGINT, extent INT"
)


def decode_poly_stats(tiles: DataFrame) -> DataFrame:
    """Polygon twin of decode_tile_stats: re-parse the command streams
    (cumulative deltas and all) and aggregate the absolute ring vertices
    the bytes encode — the oracle re-derives the same quantities from
    the quantization formula, so a delta/winding/wire bug mismatches."""
    return _decode_stats(
        tiles, POLY_DECODED_SCHEMA, decode_poly_tile, lambda fs: (len(fs), *_vertex_stats(fs))
    )


LINE_DECODED_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_features INT, n_parts INT, "
    "n_vertices INT, min_id BIGINT, max_id BIGINT, sum_px BIGINT, "
    "sum_py BIGINT, extent INT"
)


def decode_line_stats(tiles: DataFrame) -> DataFrame:
    """Linestring twin of decode_poly_stats: re-parse the MoveTo/LineTo
    command streams (cumulative deltas across parts) and aggregate the
    absolute vertices the bytes encode — the oracle re-derives the same
    quantities from the quantization + run-split windows, so a delta,
    part-boundary, or wire bug mismatches on values."""
    return _decode_stats(tiles, LINE_DECODED_SCHEMA, decode_line_tile, lambda fs: (
        len(fs), sum(len(parts) for _, parts in fs), *_vertex_stats(fs)
    ))


def rollup_point_tiles(tiles: DataFrame, levels: int = 1, layer: str = "points") -> DataFrame:
    """One pyramid step (applied `levels` times): z -> z-1 POINT MVT
    tiles built purely from the CHILD BINARIES — decode each child's
    features, re-quantize into the parent's pixel frame, merge the <= 4
    children, re-encode. Tile-store maintenance without re-reading base
    data: the shape a serving pyramid refresh needs (children are
    already materialized; the base table may be 100 TB away).

    The parent-local coordinate is exact integer halving:
      px' = (child_x & 1) * (extent/2) + px // 2
    which equals floor(frac_parent * extent) whenever the TMS halves
    resolutions exactly between zooms (computed custom TMS; for
    JSON-loaded WebMercatorQuad the decimal-rounded denominators can be
    1 ulp off the direct z-1 quantization — same caveat as the
    multizoom quadtree fast path, see functions/grid_cols). Duplicate
    feature ids across children are kept (same id may appear once per
    child); features sort by (id, px, py) for deterministic bytes. Tag
    attributes survive the rollup (decoded with the dictionaries and
    re-encoded); attr-less children produce byte-identical attr-less
    parents.

    Scale shape: ONE exchange per level (the parent tile key, <= 4 rows
    per group); decode/encode run where the rows land, through the
    batched group kernel.
    """
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        extent = DEFAULT_EXTENT
        for cx, cy, payload in zip(pdf.child_x, pdf.child_y, pdf.mvt):
            (lyr,) = decode_point_tile(bytes(payload), with_attrs=True)["layers"]
            extent = lyr["extent"]
            half = extent // 2
            ox = (int(cx) & 1) * half
            oy = (int(cy) & 1) * half
            rows += [
                (fid, ox + px // 2, oy + py // 2, a)
                for fid, px, py, a in lyr["features"]
            ]
        rows.sort(key=lambda r: r[:3])
        feats = [(f, x, y) for f, x, y, _ in rows]
        attrs = [a for *_, a in rows]
        mvt = encode_point_tile(feats, layer, extent, attrs=attrs if any(attrs) else None)
        return _tile_row(pdf, len(feats), mvt)

    out = tiles
    for _ in range(levels):
        parented = out.select(
            F.shiftright("tile_x", 1).alias("tile_x"),
            F.shiftright("tile_y", 1).alias("tile_y"),
            F.col("tile_x").alias("child_x"),
            F.col("tile_y").alias("child_y"),
            "mvt",
        )
        out = _tiles(parented, build)
    return out


ATTR_DECODED_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_features INT, min_id BIGINT, "
    "max_id BIGINT, sum_attr BIGINT, n_cats INT, max_cat STRING, extent INT"
)


def decode_attr_stats(tiles: DataFrame, int_key: str, str_key: str) -> DataFrame:
    """Attribute twin of decode_tile_stats: re-parse the binaries WITH
    the tag dictionaries and aggregate what the tags contain — the sum
    of an int64 attribute, the distinct count and lexicographic max of a
    string attribute — so a dictionary-index, value-typing, or tag-pair
    bug mismatches against the oracle's relational re-derivation."""

    def stats(fs: list) -> tuple:
        cats = sorted({f[3][str_key] for f in fs if str_key in f[3]})
        return (
            len(fs),
            *_id_range(fs),
            sum(f[3].get(int_key, 0) for f in fs),
            len(cats),
            cats[-1] if cats else None,
        )

    return _decode_stats(
        tiles, ATTR_DECODED_SCHEMA, lambda b: decode_point_tile(b, with_attrs=True), stats
    )


def encode_ring_poly_tiles(
    vertices: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "rid",
    ring_col: str = "ring_idx",
    order_col: str = "vert_idx",
    lon: str = "lon",
    lat: str = "lat",
    extent: int = DEFAULT_EXTENT,
    layer: str = "polys",
) -> DataFrame:
    """Arbitrary-ring polygons (exploded vertex rows: one row per
    (polygon, ring, vertex), ring 0 = exterior, later rings = holes) ->
    polygon MVT binaries, one row per tile the polygon's BBOX covers
    (the reference epsilon-inset cover). Rings land UNCLIPPED in every
    covered tile — the clip-buffer convention, same as
    encode_bbox_poly_tiles — so local coords are pure unclamped floor
    math a SQL oracle replays. Every ring must have >= 3 vertices (the
    codec raises otherwise).

    Scale shape: per-polygon bbox via groupBy(id) min/max (exchange 1);
    the bbox rows explode through the cover and join back to the vertex
    rows on the SAME id key (both sides arrive hash-partitioned by id,
    so the join adds no exchange); then the per-tile exchange any tile
    sink needs (exchange 2). The real cost is the honest one — each
    polygon's vertex list replicates into each covered tile — which is
    exactly what clip-buffer payloads require; producers simplify rings
    first (operators/simplify) to bound it."""
    p = tms.zoom_params(zoom)
    px, py = _local_xy(*xy_cols(tms, "_lon", "_lat"), p, extent, clamp=False)
    v = vertices.select(
        F.col(id_col).alias("fid"),
        F.col(ring_col).alias("ring"),
        F.col(order_col).alias("vert"),
        F.col(lon).alias("_lon"),
        F.col(lat).alias("_lat"),
    )
    boxes = v.groupBy("fid").agg(
        F.min("_lon").alias("minx"),
        F.min("_lat").alias("miny"),
        F.max("_lon").alias("maxx"),
        F.max("_lat").alias("maxy"),
    )
    covered = cover_bbox_geographic(boxes, tms, zoom).select("fid", "tile_x", "tile_y")
    rows = covered.join(v, "fid").select(
        "tile_x", "tile_y", "fid", "ring", "vert", px.alias("px"), py.alias("py")
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["fid", "ring", "vert"])
        feats = []
        for fid, g in pdf.groupby("fid", sort=True):
            rings = [
                [(int(x), int(y)) for x, y in zip(r.px, r.py)]
                for _, r in g.groupby("ring", sort=True)
            ]
            feats.append((int(fid), rings))
        return _tile_row(pdf, len(feats), encode_poly_tile(feats, layer, extent))

    return _tiles(rows, build)


def upsert_point_tiles(
    old_tiles: DataFrame | None,
    points: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "pid",
    attr_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Upsert a batch of (id, lon, lat[, attrs]) points BY FEATURE ID
    into a point-MVT tile set (TILES_SCHEMA rows of layer "points" at
    the default extent); `old_tiles=None` builds the set from the batch
    alone, which is encode_point_tiles. Returns the whole new tile set.

    Only the tiles the batch touches cross into Python. The batch's
    distinct tile keys are collected to the driver (one Spark job, no
    shuffle; as Arrow, 16 bytes a batch row) and become one parsed
    predicate, grid_cols.tile_key_in_sql, whose per-column IN-lists a
    parquet store prunes row groups with. The stored tiles it selects
    and the batch's quantized point rows (the staging
    encode_point_tiles uses) go through ONE batched group pass, in one
    task, with encode_point_tiles' per-tile rule (_point_tile_build):
    decode the stored tile (tags included), overlay the batch points by
    fid — the batch wins — and re-encode sorted by fid. Every other
    stored tile passes the predicate's null-safe negation as its stored
    bytes, never decoded: the encoder writes features sorted by fid, so
    re-encoding an untouched tile would give back the bytes it already
    has. A batch that touches more than MAX_REFRESH_TILES distinct
    tiles raises ValueError while the plan is built, before anything
    runs on the tiles.

    Duplicate fids inside one batch tile resolve deterministically: the
    copy that sorts last by (fid, px, py, *attr_cols) — nulls first —
    wins, so the bytes depend on neither partitioning nor arrival
    order. The merge is per tile: a point that moves to another tile
    leaves its old feature in the old tile. MAX_FEATURES_PER_TILE
    bounds a tile's batch rows. Replaying the same batch reproduces
    identical bytes — the idempotence the streaming store refresh
    relies on."""
    attr_cols = tuple(attr_cols)
    if old_tiles is None:
        return encode_point_tiles(points, tms, zoom, id_col=id_col, attr_cols=attr_cols)
    extent = DEFAULT_EXTENT
    rows, tags = _point_rows(points, tms, zoom, id_col, "lon", "lat", extent, attr_cols)
    keys = rows.selectExpr("tile_x", "tile_y").toArrow()
    touched = np.unique(
        np.stack([keys["tile_x"].to_numpy(), keys["tile_y"].to_numpy()], axis=1), axis=0
    )
    if len(touched) > MAX_REFRESH_TILES:
        raise ValueError(
            f"batch touches {len(touched)} tiles > MAX_REFRESH_TILES={MAX_REFRESH_TILES} "
            "— split the batch, or rebuild the store with encode_point_tiles"
        )
    pred = tile_key_in_sql(touched)
    # stored rows carry typed non-null fillers in the point columns:
    # a null would turn an integral column into float64 in pandas
    fill = [
        f"CAST({'0' if isinstance(f.dataType, (T.NumericType, T.BooleanType)) else 'NULL'}"
        f" AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in rows.schema.fields[2:]
    ]
    stored = old_tiles.where(pred).selectExpr("tile_x", "tile_y", *fill, "mvt")
    merge_in = rows.selectExpr("*", "CAST(NULL AS BINARY) AS mvt").unionByName(stored)
    untouched = old_tiles.where(f"NOT coalesce({pred}, false)").selectExpr(
        "tile_x", "tile_y", "n_features", "mvt"
    )
    build = _point_tile_build(tags, attr_cols, "points", extent)
    return _tiles(merge_in, build, single_task=True).unionByName(untouched)


def tiles_for_viewport(
    tiles: DataFrame,
    tms: Tms,
    west: float,
    south: float,
    east: float,
    north: float,
    zoom: int,
) -> DataFrame:
    """Serving read path: the store rows for every tile a geographic
    viewport covers at `zoom` (the reference epsilon-inset cover,
    antimeridian split included). The cover is enumerated DRIVER-side
    with the core library (viewports are a few hundred tiles by
    construction — a renderer fetches one screen) and applied as one
    parsed predicate, grid_cols.tile_key_in_sql: per-column IN-lists on
    raw tile_x/tile_y, which ARE source-pushable (.explain shows them
    under PushedFilters, so a parquet/Iceberg store prunes row groups on
    column statistics; the rectangle-union over-selection is bounded by
    the cover's bbox), and the exact packed-key IN that trims the rows
    the pushable rectangle lets through. The predicate is one string,
    so building it is one py4j round trip where Column literals took
    ~280. Raises if the viewport covers more than 4096 tiles — that
    means the caller wants a lower zoom, not a bigger scan."""
    cover = list(tms.tiles(west, south, east, north, [zoom], truncate=False))
    if len(cover) > 4096:
        raise ValueError(
            f"viewport covers {len(cover)} tiles at z{zoom} — render a "
            "lower zoom (serving reads are screen-sized by construction)"
        )
    return tiles.where(tile_key_in_sql((t.x, t.y) for t in cover))
