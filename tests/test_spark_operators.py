"""Distributed-operator tests: PIP join and kNN vs brute-force oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tile_grid_spark.core import tms
import tile_grid_spark.operators.knn as K
from tile_grid_spark.operators.knn import knn_join
from tile_grid_spark.operators.pip_join import (
    generate_polygons,
    pip_join,
    point_in_ring_batch,
    with_ring_bbox,
)


@pytest.fixture(scope="module")
def wm():
    return tms().lookup("WebMercatorQuad")


def make_points(spark, n=3000, seed=5, lon_range=(-60, 60), lat_range=(-50, 60)):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(*lon_range, n)
    lat = rng.uniform(*lat_range, n)
    return (
        spark.createDataFrame(
            list(zip(range(n), lon.tolist(), lat.tolist())),
            "pid BIGINT, lon DOUBLE, lat DOUBLE",
        ),
        lon,
        lat,
    )


class TestRayCast:
    def test_unit_square(self):
        rx = np.array([0.0, 1.0, 1.0, 0.0, 0.0])
        ry = np.array([0.0, 0.0, 1.0, 1.0, 0.0])
        px = np.array([0.5, 1.5, -0.1, 0.99, 0.0001])
        py = np.array([0.5, 0.5, 0.5, 0.01, 0.9999])
        got = point_in_ring_batch(px, py, rx, ry)
        assert got.tolist() == [True, False, False, True, True]

    def test_concave(self):
        # C-shape: point in the notch is outside
        rx = np.array([0, 4, 4, 1, 1, 4, 4, 0, 0], dtype=float)
        ry = np.array([0, 0, 1, 1, 3, 3, 4, 4, 0], dtype=float)
        px = np.array([2.0, 0.5, 2.0])
        py = np.array([2.0, 2.0, 0.5])
        got = point_in_ring_batch(px, py, rx, ry)
        assert got.tolist() == [False, True, True]


class TestPipJoin:
    def test_vs_bruteforce(self, spark, wm):
        pts, lon, lat = make_points(spark)
        polys = generate_polygons(spark, 40, seed=9)
        got = (
            pip_join(pts, polys, wm, zoom=7)
            .select("pid", "poly_id")
            .toPandas()
            .sort_values(["pid", "poly_id"])
            .reset_index(drop=True)
        )
        # brute-force oracle with the same ray-cast kernel
        rings = polys.select("poly_id", "ring_lon", "ring_lat").collect()
        exp = []
        for r in rings:
            rx = np.array(r.ring_lon)
            ry = np.array(r.ring_lat)
            inside = point_in_ring_batch(lon, lat, rx, ry)
            for pid in np.nonzero(inside)[0]:
                exp.append((int(pid), r.poly_id))
        exp = sorted(exp)
        assert list(map(tuple, got.itertuples(index=False))) == exp
        assert len(exp) > 50  # non-trivial

    def test_rect_polys_match_between(self, spark, wm):
        pts, lon, lat = make_points(spark, n=1500, seed=17)
        polys = generate_polygons(spark, 24, seed=3).filter("is_rect")
        got = pip_join(pts, polys, wm, zoom=6).select("pid", "poly_id")
        bbox = polys.select("poly_id", "minx", "miny", "maxx", "maxy")
        exp = (
            pts.crossJoin(bbox)
            .filter(
                (F.col("lon") > F.col("minx"))
                & (F.col("lon") < F.col("maxx"))
                & (F.col("lat") > F.col("miny"))
                & (F.col("lat") < F.col("maxy"))
            )
            .select("pid", "poly_id")
        )
        assert got.exceptAll(exp).isEmpty() and exp.exceptAll(got).isEmpty()


class TestRectContainsAntimeridian:
    def test_wrap_rects_vs_bruteforce(self, spark, wm):
        from tile_grid_spark.operators.pip_join import rect_contains_join

        # points clustered around the seam on both sides
        pts, lon, lat = make_points(
            spark, n=2000, seed=17, lon_range=(-180, 180), lat_range=(-60, 60)
        )
        rects = [
            # (id, minx, miny, maxx, maxy); first three cross lon=+/-180
            (0, 170.0, -10.0, -170.0, 10.0),
            (1, 179.5, 20.0, -179.5, 40.0),
            (2, 150.0, -50.0, -150.0, -30.0),
            (3, -10.0, -10.0, 10.0, 10.0),   # plain rect as control
        ]
        rdf = spark.createDataFrame(
            rects, "rect_id INT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE"
        )
        got = sorted(
            (r.pid, r.rect_id)
            for r in rect_contains_join(pts, rdf, wm, zoom=4).collect()
        )
        expected = []
        for pid, (x, y) in enumerate(zip(lon, lat)):
            for rid, w, s, e, n in rects:
                lon_ok = (w <= x <= e) if w <= e else (x >= w or x <= e)
                if lon_ok and s <= y <= n:
                    expected.append((pid, rid))
        assert got == sorted(expected)
        # the wide wrap rects must match points on BOTH sides of the seam
        # (rect 1's 0.5-degree windows may be empty at n=2000 by chance)
        for rid in (0, 2):
            matched_lons = [lon[p] for p, r in expected if r == rid]
            assert any(v > 0 for v in matched_lons) and any(v < 0 for v in matched_lons)

    def test_boundary_point_on_tile_edge_inclusive(self, spark, wm):
        # regression (r2 ADVICE): a point exactly ON a rect max edge that
        # coincides with a tile boundary fell outside the epsilon-inset
        # cover and was silently dropped despite the closed-interval
        # predicate. z3 tile edges: lon multiples of 45, merc-y=0 (equator).
        from tile_grid_spark.operators.pip_join import rect_contains_join

        pts = spark.createDataFrame(
            [
                (0, 45.0, 10.0),   # east edge == tile column boundary
                (1, 20.0, 0.0),    # south edge == equator row boundary
                (2, 45.0, 0.0),    # corner: both at once
                (3, 20.0, 10.0),   # interior control
                (4, 45.1, 10.0),   # just outside east -> excluded
                (5, 20.0, -0.1),   # just below south -> excluded
            ],
            "pid BIGINT, lon DOUBLE, lat DOUBLE",
        )
        rdf = spark.createDataFrame(
            [(0, 0.0, 0.0, 45.0, 30.0)],
            "rect_id INT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE",
        )
        got = sorted(
            r.pid for r in rect_contains_join(pts, rdf, wm, zoom=3).collect()
        )
        assert got == [0, 1, 2, 3]


class TestKnn:
    def test_vs_bruteforce(self, spark, wm):
        q, qlon, qlat = make_points(spark, n=60, seed=21)
        c, clon, clat = make_points(spark, n=4000, seed=22)
        q = q.withColumnRenamed("pid", "query_id")
        c = c.withColumnRenamed("pid", "cand_id")
        k = 5
        got = knn_join(q, c, wm, zoom=8, k=k).toPandas()
        # numpy brute force in the same Mercator metric
        R = 6378137.0

        def merc(lon_, lat_):
            x = R * np.radians(lon_)
            y = R * np.log(np.tan(np.pi * 0.25 + 0.5 * np.radians(lat_)))
            return x, y

        qx, qy = merc(qlon, qlat)
        cx, cy = merc(clon, clat)
        for qid in range(60):
            d = np.hypot(qx[qid] - cx, qy[qid] - cy)
            order = np.lexsort((np.arange(len(d)), d))[:k]
            mine = got[got.query_id == qid].sort_values("rank")
            assert mine.cand_id.tolist() == [int(i) for i in order], f"query {qid}"

    def test_antimeridian_wrap(self, spark, wm):
        # queries hug lon=+180, nearest candidates sit across the seam:
        # ring tiles must wrap modulo matrix_width and the metric must
        # take the short way around
        rng = np.random.default_rng(41)
        qlon = np.concatenate([rng.uniform(178.0, 180.0, 15), rng.uniform(-180.0, -178.0, 15)])
        qlat = rng.uniform(-40.0, 40.0, 30)
        clon = np.concatenate([rng.uniform(176.0, 180.0, 200), rng.uniform(-180.0, -176.0, 200)])
        clat = rng.uniform(-45.0, 45.0, 400)
        q = spark.createDataFrame(
            list(zip(range(30), qlon.tolist(), qlat.tolist())),
            "query_id BIGINT, lon DOUBLE, lat DOUBLE",
        )
        c = spark.createDataFrame(
            list(zip(range(400), clon.tolist(), clat.tolist())),
            "cand_id BIGINT, lon DOUBLE, lat DOUBLE",
        )
        k = 4
        got = knn_join(q, c, wm, zoom=7, k=k).toPandas()
        R = 6378137.0
        world = 2 * np.pi * R

        def merc(lon_, lat_):
            return R * np.radians(lon_), R * np.log(
                np.tan(np.pi * 0.25 + 0.5 * np.radians(lat_))
            )

        qx, qy = merc(qlon, qlat)
        cx, cy = merc(clon, clat)
        n_cross = 0
        for qid in range(30):
            adx = np.abs(qx[qid] - cx)
            d = np.hypot(np.minimum(adx, world - adx), qy[qid] - cy)
            order = np.lexsort((np.arange(len(d)), d))[:k]
            mine = got[got.query_id == qid].sort_values("rank")
            assert mine.cand_id.tolist() == [int(i) for i in order], f"query {qid}"
            n_cross += sum(
                1 for i in order if (qlon[qid] > 0) != (clon[int(i)] > 0)
            )
        assert n_cross > 0  # the fixture genuinely exercises the seam

    def test_antimeridian_wrap_wgs84_units(self, spark):
        # regression (r2 ADVICE): on a global EPSG:4326 TMS the wrap width
        # was taken in CRS units (360 degrees) while distances are Mercator
        # meters, so least(adx_m, 360 - adx_m) corrupted ALL distances.
        # Same oracle as the WebMercator wrap test, WGS84 grid.
        wgs = tms().lookup("WorldCRS84Quad")
        rng = np.random.default_rng(43)
        qlon = np.concatenate([rng.uniform(178.0, 180.0, 10), rng.uniform(-180.0, -178.0, 10)])
        qlat = rng.uniform(-40.0, 40.0, 20)
        clon = np.concatenate([rng.uniform(176.0, 180.0, 150), rng.uniform(-180.0, -176.0, 150)])
        clat = rng.uniform(-45.0, 45.0, 300)
        q = spark.createDataFrame(
            list(zip(range(20), qlon.tolist(), qlat.tolist())),
            "query_id BIGINT, lon DOUBLE, lat DOUBLE",
        )
        c = spark.createDataFrame(
            list(zip(range(300), clon.tolist(), clat.tolist())),
            "cand_id BIGINT, lon DOUBLE, lat DOUBLE",
        )
        k = 4
        got = knn_join(q, c, wgs, zoom=6, k=k).toPandas()
        R = 6378137.0
        world = 2 * np.pi * R

        def merc(lon_, lat_):
            return R * np.radians(lon_), R * np.log(
                np.tan(np.pi * 0.25 + 0.5 * np.radians(lat_))
            )

        qx, qy = merc(qlon, qlat)
        cx, cy = merc(clon, clat)
        n_cross = 0
        for qid in range(20):
            adx = np.abs(qx[qid] - cx)
            d = np.hypot(np.minimum(adx, world - adx), qy[qid] - cy)
            order = np.lexsort((np.arange(len(d)), d))[:k]
            mine = got[got.query_id == qid].sort_values("rank")
            assert mine.cand_id.tolist() == [int(i) for i in order], f"query {qid}"
            n_cross += sum(1 for i in order if (qlon[qid] > 0) != (clon[int(i)] > 0))
        assert n_cross > 0

    def test_tail_broadcasts_and_caps(self, spark, wm, monkeypatch):
        # far-apart queries/candidates with MAX_RING=1 -> brute-force tail;
        # the small candidate side must be broadcast (BNLJ), and the pair
        # cap must refuse oversized cartesians instead of running them
        q, *_ = make_points(spark, n=10, seed=51, lon_range=(100, 110), lat_range=(0, 10))
        c, *_ = make_points(spark, n=50, seed=52, lon_range=(-110, -100), lat_range=(0, 10))
        q = q.withColumnRenamed("pid", "query_id")
        c = c.withColumnRenamed("pid", "cand_id")
        monkeypatch.setattr(K, "MAX_RING", 1)
        got = knn_join(q, c, wm, zoom=10, k=2)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan
        assert got.groupBy("query_id").count().filter("count != 2").isEmpty()
        monkeypatch.setattr(K, "MAX_TAIL_PAIRS", 10)
        with pytest.raises(ValueError, match="MAX_TAIL_PAIRS=10"):
            knn_join(q, c, wm, zoom=10, k=2)

    def test_all_queries_get_k(self, spark, wm, monkeypatch):
        q, *_ = make_points(spark, n=40, seed=31, lon_range=(100, 170), lat_range=(-80, 80))
        c, *_ = make_points(spark, n=500, seed=32, lon_range=(-170, -100), lat_range=(-80, 80))
        # candidates far from queries: forces escalation + brute-force tail
        monkeypatch.setattr(K, "MAX_RING", 4)
        got = knn_join(
            q.withColumnRenamed("pid", "query_id"),
            c.withColumnRenamed("pid", "cand_id"),
            wm,
            zoom=10,
            k=3,
        )
        counts = got.groupBy("query_id").count().collect()
        assert len(counts) == 40
        assert all(r["count"] == 3 for r in counts)


class TestRadiusJoin:
    def test_vs_bruteforce(self, spark, wm):
        from tile_grid_spark.operators.knn import radius_join

        l, llon, llat = make_points(spark, n=80, seed=31)
        r, rlon, rlat = make_points(spark, n=1500, seed=32)
        l = l.withColumnRenamed("pid", "left_id")
        r = r.withColumnRenamed("pid", "right_id")
        radius = 300_000.0
        got = radius_join(l, r, wm, radius).toPandas()
        pairs = list(zip(got.left_id, got.right_id))
        assert len(pairs) == len(set(pairs)), "pair emitted more than once"
        R = 6378137.0
        lx, ly = R * np.radians(llon), R * np.log(
            np.tan(np.pi * 0.25 + 0.5 * np.radians(llat))
        )
        rx, ry = R * np.radians(rlon), R * np.log(
            np.tan(np.pi * 0.25 + 0.5 * np.radians(rlat))
        )
        expect = {
            (i, j)
            for i in range(80)
            for j in np.nonzero(np.hypot(lx[i] - rx, ly[i] - ry) <= radius)[0]
        }
        assert set(pairs) == expect
        assert expect  # fixture produces matches

    def test_antimeridian_pairs_found(self, spark, wm):
        from tile_grid_spark.operators.knn import radius_join

        rng = np.random.default_rng(7)
        llon = rng.uniform(178.5, 180.0, 25)
        rlon = rng.uniform(-180.0, -178.5, 40)
        llat = rng.uniform(-30.0, 30.0, 25)
        rlat = rng.uniform(-30.0, 30.0, 40)
        l = spark.createDataFrame(
            list(zip(range(25), llon.tolist(), llat.tolist())),
            "left_id BIGINT, lon DOUBLE, lat DOUBLE",
        )
        r = spark.createDataFrame(
            list(zip(range(40), rlon.tolist(), rlat.tolist())),
            "right_id BIGINT, lon DOUBLE, lat DOUBLE",
        )
        radius = 250_000.0
        got = {
            (row.left_id, row.right_id)
            for row in radius_join(l, r, wm, radius).collect()
        }
        R = 6378137.0
        world = 2 * np.pi * R
        lx, ly = R * np.radians(llon), R * np.log(
            np.tan(np.pi * 0.25 + 0.5 * np.radians(llat))
        )
        rx, ry = R * np.radians(rlon), R * np.log(
            np.tan(np.pi * 0.25 + 0.5 * np.radians(rlat))
        )
        expect = set()
        for i in range(25):
            adx = np.abs(lx[i] - rx)
            d = np.hypot(np.minimum(adx, world - adx), ly[i] - ry)
            expect |= {(i, int(j)) for j in np.nonzero(d <= radius)[0]}
        assert got == expect
        assert expect, "seam fixture must produce wrapped matches"

    def test_zoom_autopick_covers_radius(self, spark, wm):
        from tile_grid_spark.operators.knn import radius_join

        # boundary: radius just under one tile edge at z5 must pick z>=5;
        # behavioral check — widening radius can only ADD pairs
        l, _, _ = make_points(spark, n=30, seed=33)
        r, _, _ = make_points(spark, n=300, seed=34)
        l = l.withColumnRenamed("pid", "left_id")
        r = r.withColumnRenamed("pid", "right_id")
        small = {
            (row.left_id, row.right_id)
            for row in radius_join(l, r, wm, 100_000.0).collect()
        }
        big = {
            (row.left_id, row.right_id)
            for row in radius_join(l, r, wm, 1_000_000.0).collect()
        }
        assert small <= big and len(big) > len(small)

    def test_near_global_radius_raises(self, spark, wm):
        from tile_grid_spark.operators.knn import radius_join

        l, _, _ = make_points(spark, n=3, seed=35)
        with pytest.raises(ValueError, match="radius_join"):
            radius_join(
                l.withColumnRenamed("pid", "left_id"),
                l.withColumnRenamed("pid", "right_id"),
                wm,
                25_000_000.0,
            )

    def test_plan_is_equi_join(self, spark, wm):
        from tile_grid_spark.operators.knn import radius_join

        l, _, _ = make_points(spark, n=5, seed=36)
        r, _, _ = make_points(spark, n=5, seed=37)
        plan = (
            radius_join(
                l.withColumnRenamed("pid", "left_id"),
                r.withColumnRenamed("pid", "right_id"),
                wm,
                200_000.0,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
