"""tile_grid_spark — a PySpark-native spatial-join + tiling engine.

Brand-new engine with the query/data-processing capabilities of the
reference tile-math library pka/tile-grid (OGC Two Dimensional Tile Matrix
Set, 17-083r4), lifted to Spark DataFrames over web-scale image+caption
tables, plus the north-rule operators the reference does not have:
H3/S2 cell indexing, point-in-polygon joins, cell-ring kNN and
raster<->vector tile rasterization.

Layout:
- core/       bit-exact grid math (pure numpy; no Spark)
- functions/  Column-expression + pandas-UDF surface of the grid math
- operators/  distributed operators (cover, PIP join, kNN, raster, dedup, ANN)
- sources/    IO seam (parquet now, iceberg in production) + synthetic datagen
- plans/      session config, lineage/checkpoint, skew handling
- streaming/  the served MVT store and the one stream that maintains it
"""

__version__ = "0.1.0"
