"""Raster <-> vector tile operators.

North-rule operator. Rasterization: per-(zoom, tile_x, tile_y) group,
paint a tile_px x tile_px uint8 raster from the points (density mask or
coverage counts) through the batched group kernel
(plans/grouped.batched_group_map) — numpy index arithmetic only; the
tile's pixel grid comes from xy_bounds/resolution exactly as the core
derives them. Inverse (vector <- raster): per-tile mask -> GeoJSON
features via bbox_to_feature semantics in native to_json columns.

Scale notes: groups are bounded by points-per-tile; dense tiles should be
salted upstream (plans/skew.py) or rasterized at a deeper zoom. The
output (one row per tile: ~65 KB zlib mask) is written partitioned by
zoom, range-sorted by (tile_x, tile_y).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.tms import Tms
from ..functions.grid_cols import (
    geo_bounds_cols,
    mercator_x,
    mercator_y,
    with_tile_xy,
    xy_cols,
)
from ..plans.grouped import batched_group_map

RASTER_SCHEMA = (
    "zoom INT, tile_x BIGINT, tile_y BIGINT, n_points BIGINT, "
    "mask BINARY, max_count INT"
)

_KEYS = ("zoom", "tile_x", "tile_y")


def rasterize_points(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    tile_px: int = 256,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Density raster per tile: mask[py, px] = clip(count, 0, 255) uint8,
    zlib-compressed row-major. One output row per non-empty tile. Tiles
    and pixels are both placed in the TMS CRS (grid_cols.xy_cols), so a
    geographic TMS paints in its own degree frame."""
    p = tms.zoom_params(zoom)
    unit = p.resolution * float(p.tile_width)
    px_res = unit / float(tile_px)
    ox, oy = p.origin_x, p.origin_y

    gx, gy = xy_cols(tms, lon, lat)
    pts = with_tile_xy(
        points.withColumns({"_gx": gx, "_gy": gy, "zoom": F.lit(zoom)}), tms, zoom, "_gx", "_gy"
    )

    def paint(pdf: pd.DataFrame) -> pd.DataFrame:
        z, tx, ty = (int(pdf[k].iloc[0]) for k in _KEYS)
        ix = np.floor((pdf["_gx"].to_numpy() - (ox + tx * unit)) / px_res).astype(np.int64)
        iy = np.floor(((oy - ty * unit) - pdf["_gy"].to_numpy()) / px_res).astype(np.int64)
        img = np.zeros((tile_px, tile_px), dtype=np.int64)
        np.add.at(img, (np.clip(iy, 0, tile_px - 1), np.clip(ix, 0, tile_px - 1)), 1)
        return pd.DataFrame(
            {
                "zoom": [z],
                "tile_x": [tx],
                "tile_y": [ty],
                "n_points": [len(pdf)],
                "mask": [zlib.compress(np.clip(img, 0, 255).astype(np.uint8).tobytes(), 1)],
                "max_count": [int(img.max())],
            }
        )

    return batched_group_map(pts.select(*_KEYS, "_gx", "_gy"), _KEYS, paint, RASTER_SCHEMA)


FOOTPRINT_SCHEMA = (
    "zoom INT, tile_x BIGINT, tile_y BIGINT, n_footprints BIGINT, "
    "mask BINARY, max_cover INT, covered_px_sum BIGINT"
)


def rasterize_footprints(
    images: DataFrame,
    tms: Tms,
    zoom: int,
    ground_px_m: float = 1.0,
    tile_px: int = 256,
    lon: str = "lon",
    lat: str = "lat",
    w: str = "w",
    h: str = "h",
) -> DataFrame:
    """Coverage raster of image FOOTPRINTS (north-star: raster<->vector
    rasterization of image footprints, not just point hits).

    Each image covers a ground rectangle of (w*ground_px_m x
    h*ground_px_m) Mercator meters centered on its point. Footprints
    explode to the tiles they touch (cover_bbox_xy_exact — inset-free,
    so a footprint always lands somewhere), then each tile paints
    per-pixel coverage COUNTS with a 2D difference array: +1/-1 at the
    four clipped rect corners, two cumsums — O(n + tile_px^2) per tile,
    no per-footprint pixel loops, footprints of any size cost the same.

    Output per non-empty tile: zlib uint8 mask (counts clipped to 255),
    n_footprints, true max_cover, and covered_px_sum = sum over pixels
    of the UNclipped count == sum over footprints of their clipped pixel
    area — the SQL-expressible invariant the DuckDB oracle checks.

    ground_px_m is metres, so the TMS must be EPSG:3857; any other CRS
    raises ValueError before a job runs.
    """
    from .cover import cover_bbox_xy_exact

    if tms.crs().as_srid() != 3857:
        raise ValueError(f"rasterize_footprints supports EPSG:3857 TMS, got {tms.crs()}")
    p = tms.zoom_params(zoom)
    unit = p.resolution * float(p.tile_width)
    px_res = unit / float(tile_px)
    ox, oy = p.origin_x, p.origin_y

    hw = F.col(w).cast("double") * F.lit(ground_px_m / 2.0)
    hh = F.col(h).cast("double") * F.lit(ground_px_m / 2.0)
    fp = images.withColumns(
        {"_mx": mercator_x(lon), "_my": mercator_y(lat)}
    ).withColumns(
        {
            "_fminx": F.col("_mx") - hw,
            "_fmaxx": F.col("_mx") + hw,
            "_fminy": F.col("_my") - hh,
            "_fmaxy": F.col("_my") + hh,
        }
    )
    cov = cover_bbox_xy_exact(
        fp, tms, zoom, minx="_fminx", miny="_fminy", maxx="_fmaxx", maxy="_fmaxy"
    ).select("zoom", "tile_x", "tile_y", "_fminx", "_fmaxx", "_fminy", "_fmaxy")

    def paint(pdf: pd.DataFrame) -> pd.DataFrame:
        z, tx, ty = (int(pdf[k].iloc[0]) for k in _KEYS)
        tminx = ox + tx * unit
        tmaxy = oy - ty * unit

        def px(d):  # clipped pixel index of a tile-relative CRS offset
            return np.clip(np.floor(d / px_res).astype(np.int64), 0, tile_px - 1)

        x0 = px(pdf["_fminx"].to_numpy() - tminx)
        x1 = px(pdf["_fmaxx"].to_numpy() - tminx)
        y0 = px(tmaxy - pdf["_fmaxy"].to_numpy())
        y1 = px(tmaxy - pdf["_fminy"].to_numpy())
        diff = np.zeros((tile_px + 1, tile_px + 1), dtype=np.int64)
        np.add.at(diff, (y0, x0), 1)
        np.add.at(diff, (y0, x1 + 1), -1)
        np.add.at(diff, (y1 + 1, x0), -1)
        np.add.at(diff, (y1 + 1, x1 + 1), 1)
        img = diff.cumsum(axis=0).cumsum(axis=1)[:tile_px, :tile_px]
        return pd.DataFrame(
            {
                "zoom": [z],
                "tile_x": [tx],
                "tile_y": [ty],
                "n_footprints": [len(pdf)],
                "mask": [zlib.compress(np.clip(img, 0, 255).astype(np.uint8).tobytes(), 1)],
                "max_cover": [int(img.max())],
                "covered_px_sum": [int(img.sum())],
            }
        )

    return batched_group_map(cov, _KEYS, paint, FOOTPRINT_SCHEMA)


def decode_mask(mask: bytes, tile_px: int = 256) -> np.ndarray:
    return np.frombuffer(zlib.decompress(mask), dtype=np.uint8).reshape(tile_px, tile_px)


def vectorize_tiles(tiles: DataFrame) -> DataFrame:
    """Vector <- raster: per-tile GeoJSON Polygon feature of the tile
    footprint (bbox_to_feature ring order, /root/reference/src/tile.rs:63-70)
    as native to_json columns — no UDF."""
    b = geo_bounds_cols("tile_x", "tile_y", "zoom")
    w, s, e, n = b["west"], b["south"], b["east"], b["north"]
    ring = F.array(
        F.array(w, s), F.array(w, n), F.array(e, n), F.array(e, s), F.array(w, s)
    )
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.concat_ws(
                "/", F.col("zoom").cast("string"),
                F.col("tile_x").cast("string"), F.col("tile_y").cast("string")
            ).alias("id"),
            F.struct(
                F.lit("Polygon").alias("type"),
                F.array(ring).alias("coordinates"),
            ).alias("geometry"),
        )
    )
    return tiles.withColumn("feature", feature)
