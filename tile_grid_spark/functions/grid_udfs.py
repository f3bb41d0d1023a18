"""Arrow-vectorized pandas-UDF surface over the bit-exact numpy core.

The Column-expression path (grid_cols) is the throughput path, but its
transcendentals run on JVM Math (<=1 ulp from libm). When BIT-EXACT parity
with the reference is required per row — golden replays, cross-engine
fingerprints — these UDFs run the same numpy kernels the golden suite
pins, batched through Arrow.

Every UDF closes over a Tms resolved on the driver; executors receive the
per-zoom scalars inside the serialized closure (tiny), never the registry.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.tms import Tms

TILE_STRUCT = StructType(
    [StructField("tile_x", LongType()), StructField("tile_y", LongType())]
)
BOUNDS_STRUCT = StructType(
    [
        StructField("left", DoubleType()),
        StructField("bottom", DoubleType()),
        StructField("right", DoubleType()),
        StructField("top", DoubleType()),
    ]
)


def tile_udf(tms: Tms, zoom: int):
    """(lon, lat) -> struct(tile_x, tile_y), numpy core semantics."""

    @F.pandas_udf(TILE_STRUCT)
    def f(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        xt, yt = tms.tile_arrays(lon.to_numpy(), lat.to_numpy(), zoom)
        return pd.DataFrame({"tile_x": xt, "tile_y": yt})

    return f


def xy_tile_udf(tms: Tms, zoom: int):
    """(x, y) in CRS units -> struct(tile_x, tile_y)."""

    @F.pandas_udf(TILE_STRUCT)
    def f(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        xt, yt = tms.xy_tile_arrays(x.to_numpy(), y.to_numpy(), zoom)
        return pd.DataFrame({"tile_x": xt, "tile_y": yt})

    return f


def xy_bounds_udf(tms: Tms, zoom: int):
    """(tile_x, tile_y) -> CRS bbox struct — bit-exact vs the reference
    xy_bounds (pure multiply/add on float64, identical on every backend)."""

    @F.pandas_udf(BOUNDS_STRUCT)
    def f(tx: pd.Series, ty: pd.Series) -> pd.DataFrame:
        left, top = tms.xy_ul_arrays(tx.to_numpy().astype("float64"), ty.to_numpy().astype("float64"), zoom)
        right, bottom = tms.xy_ul_arrays(
            (tx.to_numpy() + 1).astype("float64"), (ty.to_numpy() + 1).astype("float64"), zoom
        )
        return pd.DataFrame({"left": left, "bottom": bottom, "right": right, "top": top})

    return f


def quadkey_udf(tms: Tms):
    """(tile_x, tile_y, zoom) -> quadkey string (numpy bit ops)."""

    @F.pandas_udf(StringType())
    def f(tx: pd.Series, ty: pd.Series, tz: pd.Series) -> pd.Series:
        out = tms.quadkey_arrays(tx.to_numpy(), ty.to_numpy(), tz.to_numpy())
        return pd.Series(out)

    return f


def cover_limits_udf(tms: Tms, zoom: int):
    """Geographic bbox -> inclusive tile-range struct (extent_limits
    semantics at one zoom, numpy-exact). Explode downstream with
    sequence() to enumerate."""
    schema = StructType(
        [
            StructField("x_min", LongType()),
            StructField("x_max", LongType()),
            StructField("y_min", LongType()),
            StructField("y_max", LongType()),
        ]
    )

    from ..core.model import LL_EPSILON

    @F.pandas_udf(schema)
    def f(w: pd.Series, s: pd.Series, e: pd.Series, n: pd.Series) -> pd.DataFrame:
        import numpy as np

        bbox = tms.bbox()
        ww = np.maximum(w.to_numpy(), bbox.left) + LL_EPSILON
        ss = np.maximum(s.to_numpy(), bbox.bottom) + LL_EPSILON
        ee = np.minimum(e.to_numpy(), bbox.right) - LL_EPSILON
        nn = np.minimum(n.to_numpy(), bbox.top) - LL_EPSILON
        ulx, uly = tms.tile_arrays(ww, nn, zoom)
        lrx, lry = tms.tile_arrays(ee, ss, zoom)
        return pd.DataFrame({"x_min": ulx, "x_max": lrx, "y_min": uly, "y_max": lry})

    return f
