"""Point-in-polygon join: tile-cover prefilter + vectorized ray casting.

North-rule operator (no reference counterpart; BASELINE.json north_star).

Plan shape:
  polygons --cover(zoom)--> (tile_x, tile_y, poly payload)   [explode]
  points   --with_tile(zoom)--> (tile_x, tile_y, lon, lat)
  equi-join on (tile_x, tile_y)    [broadcast if the layer is small,
                                    sort-merge/shuffle hash otherwise]
  exact even-odd ray cast           [Arrow-vectorized pandas UDF]

The tile prefilter is a strict superset of containment (a contained point's
tile always intersects the polygon bbox), so the exact test only removes
rows — join output is exact.

Ray-cast semantics: even-odd crossing number (points exactly ON an edge are
half-open ambiguous; callers needing closed-edge semantics should buffer).
Vectorization: within each Arrow batch, rows are grouped by poly_id so the
crossing test runs as a points x edges numpy broadcast per polygon — no
per-row Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..core.tms import Tms
from ..functions.grid_cols import with_tile
from .cover import cover_bbox_geographic


def point_in_ring_batch(
    px: np.ndarray, py: np.ndarray, ring_x: np.ndarray, ring_y: np.ndarray
) -> np.ndarray:
    """Even-odd crossing test, vectorized points x edges.

    ring arrays may be closed (first==last) or open; both work because a
    zero-length closing edge contributes no crossings.
    """
    x1 = ring_x[:-1][None, :]
    y1 = ring_y[:-1][None, :]
    x2 = ring_x[1:][None, :]
    y2 = ring_y[1:][None, :]
    pyv = py[:, None]
    pxv = px[:, None]
    straddle = (y1 > pyv) != (y2 > pyv)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (pyv - y1) / (y2 - y1) + x1
    crossings = straddle & (pxv < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def _ray_cast_udf():
    @F.pandas_udf(BooleanType())
    def inside(
        lon: pd.Series, lat: pd.Series, ring_lon: pd.Series, ring_lat: pd.Series, pid: pd.Series
    ) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        if len(lon) == 0:
            return pd.Series(out)
        px = lon.to_numpy(dtype=np.float64)
        py = lat.to_numpy(dtype=np.float64)
        # group rows by polygon so each ring is tested once, vectorized
        for _, idx in pd.Series(range(len(pid))).groupby(pid.to_numpy()).groups.items():
            ii = np.asarray(idx)
            rx = np.asarray(ring_lon.iloc[ii[0]], dtype=np.float64)
            ry = np.asarray(ring_lat.iloc[ii[0]], dtype=np.float64)
            out[ii] = point_in_ring_batch(px[ii], py[ii], rx, ry)
        return pd.Series(out)

    return inside


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    tms: Tms,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    ring_lon: str = "ring_lon",
    ring_lat: str = "ring_lat",
    broadcast_polys: bool = True,
    keep_point_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Join points to the polygons containing them. Returns point columns +
    poly_id (inner join; one output row per containing polygon).

    `polygons` needs bbox columns minx/miny/maxx/maxy (add with
    `with_ring_bbox` if absent). For small layers keep broadcast_polys=True
    (broadcast hash join); for large layers set False to get a shuffle join
    on the tile key — both sides already share the (tile_x, tile_y)
    partitioning domain, and AQE handles skewed tiles. In that shuffle
    path the ring arrays DO NOT ride the tile-key shuffle (they would be
    duplicated once per cover tile): the prefilter joins on
    (tile_key, poly_id) only, and ring geometry re-attaches by poly_id
    afterwards — one narrow shuffle of candidates plus one |polygons|-
    sized shuffle (or AQE broadcast) of the rings. Bytes stay out of
    wide shuffles, same rule the engine applies to image payloads.
    """
    from ..functions.grid_cols import tile_key

    pts = with_tile(points, tms, zoom, lon=lon, lat=lat).withColumn(
        "_tk", tile_key("tile_x", "tile_y")
    )
    # single packed bigint key -> LongHashedRelation fast path (3-10x
    # faster probes than the two-column key; see grid_cols.tile_key)
    # dropDuplicates on (_tk, poly_id): an antimeridian-crossing bbox's
    # two split x-ranges can land on the SAME tile at coarse zooms (the
    # cover faithfully emits the duplicate, like the reference iterator);
    # without the dedup every point in that tile would match twice
    if broadcast_polys:
        cover = cover_bbox_geographic(polygons, tms, zoom)
        poly_side = F.broadcast(
            cover.select(
                tile_key("tile_x", "tile_y").alias("_tk"), poly_id, ring_lon, ring_lat
            ).dropDuplicates(["_tk", poly_id])
        )
        joined = pts.join(poly_side, on="_tk", how="inner")
    else:
        slim = polygons.select(poly_id, "minx", "miny", "maxx", "maxy")
        cover = cover_bbox_geographic(slim, tms, zoom)
        pre = pts.join(
            cover.select(
                tile_key("tile_x", "tile_y").alias("_tk"), poly_id
            ).dropDuplicates(["_tk", poly_id]),
            on="_tk",
            how="inner",
        )
        rings = polygons.select(poly_id, ring_lon, ring_lat)
        joined = pre.join(rings, on=poly_id, how="inner")

    inside = _ray_cast_udf()
    exact = joined.filter(
        inside(F.col(lon), F.col(lat), F.col(ring_lon), F.col(ring_lat), F.col(poly_id))
    )
    keep = list(keep_point_cols) if keep_point_cols else [
        c for c in points.columns
    ]
    return exact.select(*keep, poly_id)


def rect_contains_join(
    points: DataFrame,
    rects: DataFrame,
    tms: Tms,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
    rect_id: str = "rect_id",
    west: str = "minx",
    south: str = "miny",
    east: str = "maxx",
    north: str = "maxy",
) -> DataFrame:
    """Point-in-rectangle join where rectangles may CROSS THE ANTIMERIDIAN
    (west > east, reference split semantics tms.rs:717-724).

    Plan: cover prefilter (cover_bbox_geographic splits wrap boxes into two
    x-ranges row-locally) -> equi-join on the packed tile key -> exact
    wrap-aware longitude test, all native Columns (no UDF). The rect
    cover is always broadcast, so the points never shuffle. The cover's two
    split ranges can land on the same tile at coarse zooms (faithful
    duplicate in the reference iterator), so the prefilter dedupes
    (tile, rect) pairs to keep join output exact.

    The exact predicate is CLOSED-interval but the reference cover is
    epsilon-INSET (tms.rs:706-746): a point sitting exactly on a rect
    boundary that coincides with a tile boundary floors into the tile
    just OUTSIDE the inset cover and would be silently dropped. floor()
    assigns a boundary point to the tile on its east/south side, so only
    the EAST (tile_x grows east) and SOUTH (tile_y grows south) rect
    edges can lose it — the prefilter covers a bbox PADDED by
    2*LL_EPSILON on exactly those edges, keeping the cover a strict
    superset of the inclusive predicate (west/north boundary points
    floor INTO the covered tile already). The pad can add one candidate
    tile column/row per rect; exactness is unaffected. Degenerate
    caveat: a wrap rect whose west-east gap is thinner than the pad
    flips to non-wrap — sub-1e-10-degree gaps are below the engine's
    resolution everywhere else too.
    """
    from ..core.model import LL_EPSILON
    from ..functions.grid_cols import tile_key

    pts = with_tile(points, tms, zoom, lon=lon, lat=lat).withColumn(
        "_tk", tile_key("tile_x", "tile_y")
    )
    pad = F.lit(2.0 * LL_EPSILON)
    rects_pad = rects.withColumns(
        {"_e_pad": F.col(east) + pad, "_s_pad": F.col(south) - pad}
    )
    cov = cover_bbox_geographic(
        rects_pad, tms, zoom, west=west, south="_s_pad", east="_e_pad", north=north
    )
    rect_side = cov.select(
        tile_key("tile_x", "tile_y").alias("_tk"), rect_id, west, south, east, north
    ).dropDuplicates(["_tk", rect_id])
    lon_ok = F.when(
        F.col(west) <= F.col(east),
        (F.col(lon) >= F.col(west)) & (F.col(lon) <= F.col(east)),
    ).otherwise((F.col(lon) >= F.col(west)) | (F.col(lon) <= F.col(east)))
    lat_ok = (F.col(lat) >= F.col(south)) & (F.col(lat) <= F.col(north))
    return (
        pts.join(F.broadcast(rect_side), on="_tk", how="inner")
        .filter(lon_ok & lat_ok)
        .select(*points.columns, rect_id)
    )


def with_ring_bbox(
    polygons: DataFrame,
    ring_lon: str = "ring_lon",
    ring_lat: str = "ring_lat",
) -> DataFrame:
    """Add minx/miny/maxx/maxy prefilter columns from ring arrays (native
    array_min/array_max — no UDF). NaN-safe: multi-ring arrays use NaN
    separators (sources/geojson holes='evenodd') and Spark sorts NaN
    LAST, so array_max would return the sentinel — filter them out."""

    def _clean(col: str) -> F.Column:
        return F.filter(F.col(col), lambda x: ~F.isnan(x))

    return polygons.withColumns(
        {
            "minx": F.array_min(_clean(ring_lon)),
            "maxx": F.array_max(_clean(ring_lon)),
            "miny": F.array_min(_clean(ring_lat)),
            "maxy": F.array_max(_clean(ring_lat)),
        }
    )


def generate_polygons(
    spark,
    n: int,
    seed: int = 42,
    centers: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """Deterministic synthetic polygon layer (FIXTURES.md §2): star-convex
    rings of 4-32 vertices around cluster centers, plus every 4th polygon a
    rectangle (bbox-equivalent, DuckDB-oracle-expressible)."""
    from ..sources.datagen import CITY_CENTERS

    centers = centers or CITY_CENTERS

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            rows = {"poly_id": [], "ring_lon": [], "ring_lat": [], "is_rect": []}
            for rid in ids:
                rng = np.random.Generator(np.random.PCG64(seed * 1000003 + int(rid)))
                cx, cy = centers[int(rng.integers(0, len(centers)))]
                cx += float(rng.normal(0, 3.0))
                cy = float(np.clip(cy + rng.normal(0, 2.0), -80.0, 80.0))
                if rid % 4 == 0:
                    wdeg = float(rng.uniform(0.5, 6.0))
                    hdeg = float(rng.uniform(0.5, 4.0))
                    lon = [cx - wdeg, cx + wdeg, cx + wdeg, cx - wdeg, cx - wdeg]
                    lat = [cy - hdeg, cy - hdeg, cy + hdeg, cy + hdeg, cy - hdeg]
                    rect = True
                else:
                    k = int(rng.integers(4, 33))
                    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
                    rad = rng.uniform(0.3, 5.0, k)
                    lon = (cx + rad * np.cos(ang)).tolist()
                    lat = np.clip(cy + rad * np.sin(ang), -84.9, 84.9).tolist()
                    lon.append(lon[0])
                    lat.append(lat[0])
                    rect = False
                rows["poly_id"].append(f"poly-{int(rid):06d}")
                rows["ring_lon"].append(lon)
                rows["ring_lat"].append(lat)
                rows["is_rect"].append(rect)
            yield pd.DataFrame(rows)

    df = spark.range(n).mapInPandas(
        gen,
        "poly_id STRING, ring_lon ARRAY<DOUBLE>, ring_lat ARRAY<DOUBLE>, is_rect BOOLEAN",
    )
    return with_ring_bbox(df)
