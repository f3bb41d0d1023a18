"""Spark Column-expression surface vs the bit-exact core (and reference goldens).

Strategy: generate a deterministic point sample, run the native-Column path
on Spark, and compare tile indices 1:1 against the numpy core (which the
golden suite already pins to the reference). Scalar goldens from the
reference tests are asserted directly on collected rows.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tile_grid_spark.core import Xyz, lookup, tms
from tile_grid_spark.functions import grid_cols as G
from tile_grid_spark.operators import cover as C


@pytest.fixture(scope="module")
def wm():
    return tms().lookup("WebMercatorQuad")


def sample_points(n=2000, seed=7):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-179.9, 179.9, n)
    lat = rng.uniform(-85.0, 85.0, n)
    return lon, lat


class TestTileAssignment:
    def test_matches_core_all_zooms(self, spark, wm):
        lon, lat = sample_points()
        pdf = spark.createDataFrame(
            list(zip(range(len(lon)), lon.tolist(), lat.tolist())), "id INT, lon DOUBLE, lat DOUBLE"
        )
        for zoom in (0, 4, 12, 24):
            got = (
                G.with_tile(pdf, wm, zoom)
                .select("id", "tile_x", "tile_y")
                .toPandas()
                .sort_values("id")
            )
            ex, ey = wm.tile_arrays(lon, lat, zoom)
            assert (got["tile_x"].to_numpy() == ex).all(), f"x mismatch z{zoom}"
            assert (got["tile_y"].to_numpy() == ey).all(), f"y mismatch z{zoom}"

    def test_reference_goldens(self, spark, wm):
        df = spark.createDataFrame(
            [(-179.0, 85.0, 5), (20.0, 15.0, 5), (159.31, -42.0, 4)],
            "lon DOUBLE, lat DOUBLE, zoom INT",
        )
        rows = {}
        for z in (4, 5):
            out = G.with_tile(df.filter(F.col("zoom") == z), wm, z).select(
                F.col("tile_x").alias("x"), F.col("tile_y").alias("y")
            )
            rows[z] = [(r.x, r.y) for r in out.collect()]
        assert rows[5] == [(0, 0), (17, 14)]  # tests/tiles.rs:90-96
        assert rows[4] == [(15, 10)]  # tests/tms.rs:201-202

    def test_multizoom(self, spark, wm):
        lon, lat = sample_points(500)
        pdf = spark.createDataFrame(
            list(zip(range(len(lon)), lon.tolist(), lat.tolist())), "id INT, lon DOUBLE, lat DOUBLE"
        )
        zooms = list(range(0, 9))
        out = (
            G.with_tiles_multizoom(pdf, wm, zooms)
            .groupBy("zoom")
            .agg(F.count("*").alias("n"), F.max("tile_x").alias("mx"))
            .orderBy("zoom")
            .collect()
        )
        assert len(out) == len(zooms)
        assert all(r.n == 500 for r in out)
        for r in out:
            assert r.mx <= 2**r.zoom - 1

    def test_multizoom_shift_path_equals_per_zoom(self, spark, wm):
        """The quadtree fast path (base tile at zmax + bit shift) must be
        bit-identical to the per-zoom floor formula, including clamps,
        poles, antimeridian edges, exact tile boundaries and inf/NaN.

        JSON-loaded WebMercatorQuad must NOT take the fast path: its
        scale denominators were serialized with decimal rounding, so the
        per-zoom resolutions are ~1 ulp off exact halving and the shift
        identity breaks at tile boundaries. A computed custom TMS halves
        exactly (scaling by 2^-z commutes with IEEE rounding through the
        whole sd round-trip) and must take it."""
        from tile_grid_spark.core.tms import Tms
        from tile_grid_spark.core.model import Crs

        assert not G._quadtree_shiftable([wm.zoom_params(z) for z in range(0, 25)])

        wm = Tms.custom(
            [-20037508.3427892, -20037508.3427892, 20037508.3427892, 20037508.3427892],
            Crs.from_epsg(3857),
            id="CustomMercQuad",
        )
        assert G._quadtree_shiftable([wm.zoom_params(z) for z in range(0, 25)])

        lon, lat = sample_points(800, seed=13)
        edge = [
            (-180.0, 0.0), (180.0, 0.0), (0.0, 85.0511287798066),
            (0.0, -85.0511287798066), (0.0, 0.0), (-179.999999, 84.999999),
            (float("inf"), 1.0), (1.0, float("-inf")), (float("nan"), 1.0),
        ]
        # exact z10 tile boundaries in mercator -> lon of tile edges
        edge += [(-180.0 + 360.0 * k / 1024.0, 41.7) for k in range(0, 1024, 97)]
        pts = list(zip(lon.tolist(), lat.tolist())) + edge
        pdf = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(pts)], "id INT, lon DOUBLE, lat DOUBLE"
        )
        zooms = [0, 3, 7, 10, 15, 24]
        fast = {
            (r.id, r.zoom): (r.tile_x, r.tile_y)
            for r in G.with_tiles_multizoom(pdf, wm, zooms).collect()
        }
        for z in zooms:
            slow = G.with_tile(pdf, wm, z).select(
                "id", F.col("tile_x").alias("x"), F.col("tile_y").alias("y")
            ).collect()
            for r in slow:
                assert fast[(r.id, z)] == (r.x, r.y), (r.id, z)

    def test_inf_nan_semantics(self, spark, wm):
        # reference: +-inf coord -> tile 0; NaN floor -> 0 (tms.rs:506-520)
        p = wm.zoom_params(3)
        df = spark.createDataFrame(
            [(float("inf"),), (float("-inf"),), (float("nan",),)], "x DOUBLE"
        )
        got = [r.t for r in df.select(G.xy_tile_x("x", p).alias("t")).collect()]
        assert got == [0, 0, 0]


class TestBoundsAndQuadkey:
    def test_xy_bounds_golden(self, spark, wm):
        # morecantile example: xy_bounds(10,10,4), tests/tms.rs:177-187
        p = wm.zoom_params(4)
        df = spark.createDataFrame([(10, 10)], "tile_x BIGINT, tile_y BIGINT")
        b = df.withColumns(G.tile_bounds_cols("tile_x", "tile_y", p)).collect()[0]
        assert b.minx == 5009377.085697308
        assert b.miny == -7514065.628545959
        assert b.maxx == 7514065.628545959
        assert b.maxy == -5009377.085697308

    def test_geo_bounds_golden(self, spark):
        # bounds(10,10,4) golden, tests/tms.rs:190-195 (JVM sinh/atan may
        # differ from libm by 1 ulp -> compare at the reference's own
        # round-to-7 tolerance, tests/tiles.rs:105-107)
        df = spark.createDataFrame([(10, 10, 4)], "tile_x BIGINT, tile_y BIGINT, zoom INT")
        b = df.withColumns(G.geo_bounds_cols("tile_x", "tile_y", "zoom")).collect()[0]
        assert round(b.west - 45.0, 7) == 0.0
        assert round(b.south - (-55.77657301866769), 7) == 0.0
        assert round(b.east - 67.5, 7) == 0.0
        assert round(b.north - (-40.97989806962013), 7) == 0.0

    def test_quadkey_roundtrip_golden(self, spark, wm):
        df = spark.createDataFrame([(486, 332, 10)], "tile_x BIGINT, tile_y BIGINT, zoom INT")
        qk = df.select(G.quadkey_col("tile_x", "tile_y", "zoom").alias("qk")).collect()[0].qk
        assert qk == "0313102310"  # tests/quadkey.rs:34-39
        back = (
            spark.createDataFrame([(qk,), ("",)], "qk STRING")
            .withColumns(G.quadkey_to_tile_cols("qk"))
            .collect()
        )
        assert (back[0].tile_x, back[0].tile_y, back[0].zoom) == (486, 332, 10)
        assert (back[1].tile_x, back[1].tile_y, back[1].zoom) == (0, 0, 0)

    def test_quadkey_malformed_is_null_both_paths(self, spark):
        """r3 ADVICE: conv()'s lenient digit parsing made the fast path
        diverge from the slow path on bad keys; the reference PANICS on a
        digit outside 0-3 (quadkey.rs:60-66). Column rendering of that
        error: NULL x/y/z on both the <=31 and >31-char paths."""
        rows = [
            ("0313102310",),          # valid, fast path
            ("031310231z",),          # letter, fast path length
            ("4313102310",),          # digit 4, fast path length
            ("0" * 35,),              # valid, slow path
            ("0" * 34 + "7",),        # digit 7, slow path length
        ]
        back = (
            spark.createDataFrame(rows, "qk STRING")
            .withColumns(G.quadkey_to_tile_cols("qk"))
            .collect()
        )
        assert (back[0].tile_x, back[0].tile_y, back[0].zoom) == (486, 332, 10)
        for r in (back[1], back[2], back[4]):
            assert r.tile_x is None and r.tile_y is None and r.zoom is None
        assert (back[3].tile_x, back[3].tile_y, back[3].zoom) == (0, 0, 35)

    def test_quadkey_matches_core_bulk(self, spark, wm):
        rng = np.random.default_rng(3)
        z = 12
        xs = rng.integers(0, 2**z, 300)
        ys = rng.integers(0, 2**z, 300)
        df = spark.createDataFrame(
            [(int(a), int(b), z) for a, b in zip(xs, ys)],
            "tile_x BIGINT, tile_y BIGINT, zoom INT",
        )
        got = [r.qk for r in df.select(G.quadkey_col("tile_x", "tile_y", "zoom").alias("qk")).collect()]
        expected = [wm.quadkey(Xyz(int(a), int(b), z)) for a, b in zip(xs, ys)]
        assert got == expected


    def test_quadkey_deep_zoom_and_zero_and_variable(self, spark, wm):
        # fast/slow boundary: z=31 uses morton+conv, z=35 the transform
        # fallback; z=0 -> ""; variable per-row zoom in one column
        rows = [
            (0, 0, 0),
            (1, 0, 1),
            (0, 1, 1),              # digit 2
            (2**31 - 1, 0, 31),     # max morton-path index, all-1 x bits
            (123456789, 987654321, 35),   # beyond the morton path
            (486, 332, 10),
        ]
        df = spark.createDataFrame(rows, "tile_x BIGINT, tile_y BIGINT, zoom INT")
        got = [
            r.qk
            for r in df.select(
                G.quadkey_col("tile_x", "tile_y", "zoom").alias("qk")
            ).collect()
        ]

        def scalar_qk(x, y, z):
            return "".join(
                str(((x >> (i - 1)) & 1) + 2 * ((y >> (i - 1)) & 1))
                for i in range(z, 0, -1)
            )

        expected = [scalar_qk(x, y, z) for x, y, z in rows]
        assert got == expected
        assert got[0] == "" and len(got[3]) == 31 and len(got[4]) == 35

    def test_quadkey_minzoom_truncation(self, spark, wm):
        df = spark.createDataFrame(
            [(486, 332, 10), (3, 3, 2)], "tile_x BIGINT, tile_y BIGINT, zoom INT"
        )
        got = [
            r.qk
            for r in df.select(
                G.quadkey_col("tile_x", "tile_y", "zoom", minzoom=2).alias("qk")
            ).collect()
        ]
        # digits from z down to minzoom+1 (quadkey.rs:23-44)
        assert got == ["03131023", ""]


    def test_quadkey_parse_deep_and_roundtrip_bulk(self, spark, wm):
        # parse fast/slow boundary + '' + roundtrip at z=31 and z=35
        def scalar_qk(x, y, z):
            return "".join(
                str(((x >> (i - 1)) & 1) + 2 * ((y >> (i - 1)) & 1))
                for i in range(z, 0, -1)
            )

        cases = [(0, 0, 0), (2**31 - 1, 2**30, 31), (123456789, 987654321, 35), (486, 332, 10)]
        df = spark.createDataFrame(
            [(scalar_qk(x, y, z),) for x, y, z in cases], "qk STRING"
        ).withColumns(G.quadkey_to_tile_cols("qk"))
        got = [(r.tile_x, r.tile_y, r.zoom) for r in df.collect()]
        assert got == cases




class TestCover:
    def test_cover_matches_reference(self, spark, wm):
        # tests/tiles.rs:305-310: (-105.0, 39.99, -104.99, 40.0) z14 -> 2 tiles
        df = spark.createDataFrame(
            [(-105.0, 39.99, -104.99, 40.0)], "minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE"
        )
        got = sorted(
            (r.tile_x, r.tile_y)
            for r in C.cover_bbox_geographic(df, wm, 14).select("tile_x", "tile_y").collect()
        )
        assert got == [(3413, 6202), (3413, 6203)]

    def test_cover_world_z0(self, spark, wm):
        df = spark.createDataFrame(
            [(-180.0, -90.0, 180.0, 90.0)], "minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE"
        )
        got = C.cover_bbox_geographic(df, wm, 0).select("tile_x", "tile_y").collect()
        assert [(r.tile_x, r.tile_y) for r in got] == [(0, 0)]

    def test_enumerate_tms_order_golden(self, spark, wm):
        # src/tms_iterator.rs:84-114: 21 tiles z0-2 in (z, x, y) order
        got = [
            (r.zoom, r.tile_x, r.tile_y)
            for r in C.enumerate_tms(spark, wm, 0, 2).orderBy("zoom", "tile_x", "tile_y").collect()
        ]
        expected = [(0, 0, 0)] + [(1, x, y) for x in range(2) for y in range(2)] + [
            (2, x, y) for x in range(4) for y in range(4)
        ]
        assert got == expected
        assert len(list(C.enumerate_tms(spark, wm, 2, 3).collect())) == 80

    def test_cover_antimeridian_split(self, spark, wm):
        # tests/tiles.rs:344-351: (175, 5, -175, 10) z2 -> 2 tiles; the
        # distributed cover must split west>east into two x-ranges like
        # the scalar core (tms.rs:717-724)
        df = spark.createDataFrame(
            [(175.0, 5.0, -175.0, 10.0)],
            "minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE",
        )
        got = sorted(
            (r.tile_x, r.tile_y)
            for r in C.cover_bbox_geographic(df, wm, 2).select("tile_x", "tile_y").collect()
        )
        expected = sorted((t.x, t.y) for t in wm.tiles(175.0, 5.0, -175.0, 10.0, [2], False))
        assert got == expected == [(0, 1), (3, 1)]

    def test_cover_antimeridian_vs_core_multi(self, spark, wm):
        boxes = [(170.0, -20.0, -170.0, -10.0), (179.5, 40.0, -179.5, 41.0),
                 (90.0, 0.0, -90.0, 5.0)]
        df = spark.createDataFrame(
            [(i, *b) for i, b in enumerate(boxes)],
            "bid INT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE",
        )
        for z in (3, 7):
            got = {
                r.bid: sorted((t.tile_x, t.tile_y) for t in r.ts)
                for r in C.cover_bbox_geographic(df, wm, z)
                .groupBy("bid")
                .agg(F.collect_list(F.struct("tile_x", "tile_y")).alias("ts"))
                .collect()
            }
            for i, (w, s, e, n) in enumerate(boxes):
                expected = sorted((t.x, t.y) for t in wm.tiles(w, s, e, n, [z], False))
                assert got[i] == expected, (i, z)

    def test_cover_degenerate_boxes(self, spark, wm):
        # Sub-epsilon box straddling a tile boundary: after the +/- eps
        # inset ul_x > lr_x, so the reference's ul..=lr range is EMPTY;
        # unguarded sequence() would emit a reversed phantom range.
        # Box fully west of the bbox: x clamps to 0 on both corners, so
        # the scalar core yields one clamped tile — parity, not empty.
        df = spark.createDataFrame(
            [
                (0, -1e-13, 10.0, 1e-13, 10.0 + 1e-13),  # straddles x=128 @ z8
                (1, -200.0, 10.0, -190.0, 11.0),         # fully west of bbox
            ],
            "bid INT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE",
        )
        rows = (
            C.cover_bbox_geographic(df, wm, 8)
            .select("bid", "tile_x", "tile_y")
            .collect()
        )
        by_bid = {}
        for r in rows:
            by_bid.setdefault(r.bid, []).append((r.tile_x, r.tile_y))
        assert 0 not in by_bid  # scalar: t.tiles(-1e-13,10,1e-13,10+1e-13,[8]) == []
        assert by_bid[1] == [(0, 120)]  # scalar parity (x clamped)

    def test_cover_vs_core_random(self, spark, wm):
        rng = np.random.default_rng(11)
        boxes = []
        for _ in range(50):
            w = rng.uniform(-170, 160)
            s = rng.uniform(-80, 70)
            boxes.append((w, s, w + rng.uniform(0.01, 10), s + rng.uniform(0.01, 10)))
        for _ in range(20):  # random antimeridian-crossing boxes (w > e)
            w = rng.uniform(150, 179.9)
            e = rng.uniform(-179.9, -150)
            s = rng.uniform(-80, 70)
            boxes.append((w, s, e, s + rng.uniform(0.01, 10)))
        df = spark.createDataFrame(boxes, "minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE")
        z = 9
        got = (
            C.cover_bbox_geographic(df.withColumn("bid", F.monotonically_increasing_id()), wm, z)
            .groupBy("bid")
            .count()
            .orderBy("bid")
            .collect()
        )
        # core oracle
        for row, (w, s, e, n) in zip(got, boxes):
            expected = len(list(wm.tiles(w, s, e, n, [z], False)))
            assert row["count"] == expected


class TestRelatives:
    def test_parent_children_cols(self, spark, wm):
        df = spark.createDataFrame([(486, 332, 10)], "tile_x BIGINT, tile_y BIGINT, zoom INT")
        r = df.withColumns(G.parent_cols("tile_x", "tile_y", 2)).collect()[0]
        assert (r.parent_x, r.parent_y) == (121, 83)  # tests/tiles.rs:440-446
        r = df.withColumns(G.children_cols("tile_x", "tile_y", 1)).collect()[0]
        assert (r.child_x_min, r.child_x_max) == (972, 973)
        assert (r.child_y_min, r.child_y_max) == (664, 665)

    def test_neighbors(self, spark, wm):
        p = wm.zoom_params(2)
        df = spark.createDataFrame([(0, 0), (2, 2)], "tile_x BIGINT, tile_y BIGINT")
        out = G.explode_neighbors(df, p).groupBy("tile_x", "tile_y").count().collect()
        m = {(r.tile_x, r.tile_y): r["count"] for r in out}
        assert m[(0, 0)] == 3
        assert m[(2, 2)] == 8


class TestTileKeyPredicate:
    def test_selects_what_tile_key_isin_selects(self, spark):
        """tile_key_in_sql(keys) picks the same rows as the Column
        tile_key(...).isin(packed keys), on random keys with the index
        range ends 0 and 2^28 - 1, for dense and sparse key sets."""
        top = (1 << 28) - 1
        rng = np.random.default_rng(17)
        ends = [[0, 0], [0, top], [top, 0], [top, top]]
        pool = np.concatenate([rng.integers(0, 1 << 28, (40, 2)), ends])
        # candidate rows: the pool's x and y values crossed, so the
        # per-column INs alone let through rows the packed-key IN trims
        rows = sorted({(int(x), int(y)) for x in pool[:, 0] for y in pool[:, 1]})
        df = spark.createDataFrame(rows, "tile_x BIGINT, tile_y BIGINT").union(
            spark.createDataFrame([(None, 0), (0, None)], "tile_x BIGINT, tile_y BIGINT")
        )
        for picked in (pool[:25], pool[-4:], pool[[0, 40, 43]], pool[:0]):
            keys = {(int(x), int(y)) for x, y in picked}
            packed = [(x << 28) + y for x, y in keys]
            pred = G.tile_key_in_sql(keys)
            isin = G.tile_key("tile_x", "tile_y").isin(packed)
            want = sorted(map(tuple, df.where(isin).collect()))
            got = sorted(map(tuple, df.where(pred).collect()))
            assert got == want and len(got) == len(keys)
            # the null-safe negation keeps every other row, null keys included
            rest = df.where(f"NOT coalesce({pred}, false)").count()
            assert rest == df.count() - len(keys)
        with pytest.raises(ValueError, match="tile indices"):
            G.tile_key_in_sql([(0, 1 << 28)])
