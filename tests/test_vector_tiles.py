"""MVT codec + point-tile encoder vs from-scratch oracles."""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pytest

from tile_grid_spark.functions.mvt import (
    _varint,
    _zigzag,
    decode_point_tile,
    decode_poly_tile,
    encode_point_tile,
    encode_poly_tile,
)


@pytest.fixture(scope="module")
def wm():
    from tile_grid_spark.core.registry import tms

    return tms().lookup("WebMercatorQuad")


class TestMvtCodec:
    def test_np_encoder_byte_parity(self):
        """The vectorized point-tile encoder must be BYTE-identical to
        the scalar one on adversarial ids/coords (varint length
        boundaries, 64-bit ids, empty tile)."""
        from tile_grid_spark.functions.mvt import encode_point_tile_np

        rng = np.random.default_rng(7)
        fids = np.concatenate(
            [
                rng.integers(0, 128, 50),
                rng.integers(0, 1 << 20, 50),
                rng.integers(0, 1 << 62, 20),
                np.array([0, 127, 128, 16383, 16384, (1 << 63) - 1]),
            ]
        )
        px = rng.integers(0, 4096, len(fids))
        py = np.concatenate(
            [rng.integers(0, 4096, len(fids) - 4), np.array([0, 63, 64, 4095])]
        )
        scalar = encode_point_tile(
            [(int(f), int(x), int(y)) for f, x, y in zip(fids, px, py)],
            "pts",
            4096,
        )
        assert encode_point_tile_np(fids, px, py, "pts", 4096) == scalar
        assert encode_point_tile_np([], [], [], "pts", 4096) == encode_point_tile(
            [], "pts", 4096
        )
        with pytest.raises(ValueError, match="outside extent"):
            encode_point_tile_np([1], [4096], [0], "pts", 4096)
        with pytest.raises(ValueError, match="non-negative"):
            encode_point_tile_np([-1], [0], [0], "pts", 4096)

    @pytest.mark.parametrize("n", [0, 1, 3, 63, 64, 65])
    def test_np_encoder_parity_by_size(self, n):
        """Byte parity at the tile sizes where a size-dependent path
        would switch, for one-byte and multi-byte varint widths."""
        from tile_grid_spark.functions.mvt import encode_point_tile_np

        rng = np.random.default_rng(n)
        for id_hi, extent in ((100, 64), (1 << 40, 4096), (1 << 63, 1 << 30)):
            fids = np.sort(rng.integers(0, id_hi, n, dtype=np.uint64).astype(np.int64))
            px = rng.integers(0, extent, n)
            py = rng.integers(0, extent, n)
            scalar = encode_point_tile(
                [(int(f), int(x), int(y)) for f, x, y in zip(fids, px, py)], "p", extent
            )
            assert encode_point_tile_np(fids, px, py, "p", extent) == scalar

    def test_roundtrip(self):
        feats = [(0, 0, 0), (7, 4095, 4095), (1 << 40, 2048, 17)]
        d = decode_point_tile(encode_point_tile(feats, "pts", 4096))
        (layer,) = d["layers"]
        assert layer["features"] == feats
        assert layer["name"] == "pts"
        assert layer["extent"] == 4096
        assert layer["version"] == 2

    def test_wire_golden(self):
        # one feature (id=1, point (3,5)) in layer "a", extent 4096 —
        # bytes derived by hand from the MVT 2.1 + protobuf specs
        b = encode_point_tile([(1, 3, 5)], "a", 4096)
        expect = bytes(
            [0x1A, 0x13]            # tile field 3, len 19 (layer below)
            + [0x78, 0x02]          # layer: version=2
            + [0x0A, 0x01, 0x61]    # name "a"
            + [0x28, 0x80, 0x20]    # extent 4096
            + [0x12, 0x09]          # feature, len 9
            + [0x08, 0x01]          # id 1
            + [0x18, 0x01]          # type POINT
            + [0x22, 0x03, 0x09, 0x06, 0x0A]  # geometry [9, zz(3), zz(5)]
        )
        assert b == expect

    def test_varint_zigzag(self):
        assert _varint(0) == b"\x00"
        assert _varint(300) == b"\xac\x02"
        assert _zigzag(0) == 0 and _zigzag(-1) == 1 and _zigzag(1) == 2
        assert _zigzag(-4096) == 8191

    def test_unknown_fields_skipped(self):
        # splice an unknown varint field + fixed32 field into the layer
        b = bytearray(encode_point_tile([(1, 3, 5)], "a", 4096))
        extra = bytes([0x58, 0x07])  # field 11 varint — unknown in our subset
        spliced = bytes([0x1A, b[1] + len(extra)]) + extra + bytes(b[2:])
        d = decode_point_tile(spliced)
        assert d["layers"][0]["features"] == [(1, 3, 5)]

    def test_out_of_extent_raises(self):
        with pytest.raises(ValueError, match="extent"):
            encode_point_tile([(1, 4096, 0)], "a", 4096)

    def test_non_point_geometry_raises(self):
        # hand-build a feature with type=2 (LINESTRING)
        body = bytes([0x08, 0x01, 0x18, 0x02, 0x22, 0x01, 0x09])
        layer = bytes([0x78, 0x02, 0x0A, 0x01, 0x61, 0x12, len(body)]) + body
        tile = bytes([0x1A, len(layer)]) + layer
        with pytest.raises(NotImplementedError, match="geometry type 2"):
            decode_point_tile(tile)


class TestMvtPolyCodec:
    def test_wire_golden_triangle(self):
        # id=1, one ring (0,0)->(10,0)->(10,10), layer "a" — bytes
        # re-derived by hand: MoveTo(1)=9, LineTo(2)=(2)|(2<<3)=18,
        # ClosePath=15, zigzag(10)=20
        b = encode_poly_tile([(1, [[(0, 0), (10, 0), (10, 10)]])], "a", 4096)
        expect = bytes(
            [0x1A, 0x19]            # tile field 3, len 25
            + [0x78, 0x02]          # version=2
            + [0x0A, 0x01, 0x61]    # name "a"
            + [0x28, 0x80, 0x20]    # extent 4096
            + [0x12, 0x0F]          # feature, len 15
            + [0x08, 0x01]          # id 1
            + [0x18, 0x03]          # type POLYGON
            + [0x22, 0x09]          # geometry, len 9
            + [0x09, 0x00, 0x00]    # MoveTo (0,0)
            + [0x12, 0x14, 0x00, 0x00, 0x14]  # LineTo d(10,0), d(0,10)
            + [0x0F]                # ClosePath
        )
        assert b == expect

    def test_roundtrip_with_hole_and_negatives(self):
        # exterior + hole; second feature starts at a fresh cursor but
        # deltas are cumulative WITHIN a feature across rings; negative
        # (clip-buffer) coords must survive
        f1 = (7, [
            [(-64, -32), (4200, -32), (4200, 4200), (-64, 4200)],  # buffered ext
            [(100, 100), (100, 200), (200, 200), (200, 100)],      # hole (CCW)
        ])
        f2 = (1 << 33, [[(0, 0), (10, 0), (10, 10)]])
        d = decode_poly_tile(encode_poly_tile([f1, f2], "polys"))
        (layer,) = d["layers"]
        assert layer["features"] == [f1, f2]
        assert layer["version"] == 2 and layer["extent"] == 4096

    def test_point_decoder_rejects_polygons(self):
        b = encode_poly_tile([(1, [[(0, 0), (1, 0), (1, 1)]])], "a")
        with pytest.raises(NotImplementedError, match="POINT only"):
            decode_point_tile(b)

    def test_poly_decoder_rejects_points(self):
        b = encode_point_tile([(1, 3, 5)], "a")
        with pytest.raises(NotImplementedError, match="POLYGON only"):
            decode_poly_tile(b)

    def test_short_ring_raises(self):
        with pytest.raises(ValueError, match="ring"):
            encode_poly_tile([(1, [[(0, 0), (1, 1)]])], "a")


class TestMvtLineCodec:
    def test_wire_golden(self):
        # id=1, one part (0,0)->(10,0)->(10,10), layer "a" — same hand
        # derivation as the polygon golden minus ClosePath, type=2
        from tile_grid_spark.functions.mvt import decode_line_tile, encode_line_tile

        b = encode_line_tile([(1, [[(0, 0), (10, 0), (10, 10)]])], "a", 4096)
        expect = bytes(
            [0x1A, 0x18]            # tile field 3, len 24
            + [0x78, 0x02]          # version=2
            + [0x0A, 0x01, 0x61]    # name "a"
            + [0x28, 0x80, 0x20]    # extent 4096
            + [0x12, 0x0E]          # feature, len 14
            + [0x08, 0x01]          # id 1
            + [0x18, 0x02]          # type LINESTRING
            + [0x22, 0x08]          # geometry, len 8
            + [0x09, 0x00, 0x00]    # MoveTo (0,0)
            + [0x12, 0x14, 0x00, 0x00, 0x14]  # LineTo d(10,0), d(0,10)
        )
        assert b == expect
        (layer,) = decode_line_tile(b)["layers"]
        assert layer["features"] == [(1, [[(0, 0), (10, 0), (10, 10)]])]

    def test_multipart_roundtrip_negatives(self):
        # a MULTILINESTRING feature (cursor persists across parts) plus
        # a second feature continuing from a fresh feature's cursor=0;
        # clip-buffer negatives must survive the zigzag round trip
        from tile_grid_spark.functions.mvt import decode_line_tile, encode_line_tile

        f1 = (7, [
            [(-64, -32), (4200, -32)],
            [(100, 100), (200, 250), (300, 50)],
        ])
        f2 = (1 << 33, [[(0, 4095), (4095, 0)]])
        d = decode_line_tile(encode_line_tile([f1, f2], "lines"))
        (layer,) = d["layers"]
        assert layer["features"] == [f1, f2]
        assert layer["version"] == 2 and layer["extent"] == 4096

    def test_short_part_raises(self):
        from tile_grid_spark.functions.mvt import encode_line_tile

        with pytest.raises(ValueError, match="part"):
            encode_line_tile([(1, [[(0, 0)]])], "a")

    def test_line_decoder_rejects_other_types(self):
        from tile_grid_spark.functions.mvt import decode_line_tile

        with pytest.raises(NotImplementedError, match="LINESTRING only"):
            decode_line_tile(encode_point_tile([(1, 3, 5)], "a"))
        with pytest.raises(NotImplementedError, match="LINESTRING only"):
            decode_line_tile(encode_poly_tile([(1, [[(0, 0), (1, 0), (1, 1)]])], "a"))

    def test_closepath_in_line_stream_rejected(self):
        from tile_grid_spark.functions.mvt import decode_line_tile, encode_poly_tile

        # hand-build a LINESTRING-typed feature whose stream sneaks in a
        # ClosePath: take the polygon bytes and flip the type field
        b = bytearray(encode_poly_tile([(1, [[(0, 0), (10, 0), (10, 10)]])], "a"))
        i = b.index(bytes([0x18, 0x03]))
        b[i + 1] = 0x02
        with pytest.raises(ValueError, match="ClosePath is illegal"):
            decode_line_tile(bytes(b))


class TestEncodeBboxPolyTiles:
    def test_matches_core_cover_and_quantization(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import (
            decode_poly_stats,
            encode_bbox_poly_tiles,
        )

        zoom, extent = 5, 4096
        rng = np.random.default_rng(23)
        rows = []
        for i in range(40):
            w = float(rng.uniform(-170, 150))
            s = float(rng.uniform(-75, 60))
            rows.append((i, w, s, w + float(rng.uniform(0.5, 25)),
                         s + float(rng.uniform(0.5, 12))))
        rects = spark.createDataFrame(
            rows, "rid BIGINT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE"
        )
        enc = encode_bbox_poly_tiles(rects, wm, zoom, extent=extent)
        got = {(r.tile_x, r.tile_y): r for r in decode_poly_stats(enc).collect()}

        # python oracle: core tiles() cover + explicit quantization
        import math as m

        p = wm.zoom_params(zoom)
        span = p.resolution * 256.0
        R = 6378137.0

        def merc(lon, lat):
            return (R * m.radians(lon),
                    R * m.log(m.tan(m.pi * 0.25 + 0.5 * m.radians(lat))))

        expect: dict = {}
        for rid, w, s, e, n in rows:
            for t in wm.tiles(w, s, e, n, [zoom], False):
                mxw, _ = merc(w, 0)
                mxe, _ = merc(e, 0)
                _, myn = merc(0, n)
                _, mys = merc(0, s)
                pxw = m.floor(((mxw - p.origin_x) / span - t.x) * extent)
                pxe = m.floor(((mxe - p.origin_x) / span - t.x) * extent)
                pyn = m.floor(((p.origin_y - myn) / span - t.y) * extent)
                pys = m.floor(((p.origin_y - mys) / span - t.y) * extent)
                ent = expect.setdefault((t.x, t.y), [])
                ent.append((rid, pxw, pxe, pyn, pys))
        assert set(got) == set(expect)
        for key, feats in expect.items():
            r = got[key]
            assert r.n_features == len(feats)
            assert r.n_vertices == 4 * len(feats)
            assert r.min_id == min(f[0] for f in feats)
            assert r.sum_px == sum(2 * (f[1] + f[2]) for f in feats)
            assert r.sum_py == sum(2 * (f[3] + f[4]) for f in feats)

    def test_buffer_coords_exceed_extent(self, spark, wm):
        # one rect spanning 2 tiles at z1: the east tile sees a negative
        # west edge, the west tile an east edge beyond the extent
        from tile_grid_spark.operators.vector_tiles import encode_bbox_poly_tiles

        rects = spark.createDataFrame(
            [(0, -40.0, -20.0, 40.0, 20.0)],
            "rid BIGINT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE",
        )
        out = {
            (r.tile_x, r.tile_y): decode_poly_tile(bytes(r.mvt))
            for r in encode_bbox_poly_tiles(rects, wm, 1).collect()
        }
        assert set(out) == {(0, 0), (1, 0), (0, 1), (1, 1)}
        (_, rings), = out[(1, 1)]["layers"][0]["features"]
        xs = [v[0] for v in rings[0]]
        ys = [v[1] for v in rings[0]]
        assert min(xs) < 0  # west edge lies one tile to the west
        assert min(ys) < 0  # north edge lies one tile up


class TestEncodePointTiles:
    def test_matches_core_grid_math(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import encode_point_tiles

        rng = np.random.default_rng(11)
        n = 400
        lon = rng.uniform(-170, 170, n)
        lat = rng.uniform(-80, 80, n)
        pts = spark.createDataFrame(
            list(zip(range(n), lon.tolist(), lat.tolist())),
            "pid BIGINT, lon DOUBLE, lat DOUBLE",
        )
        zoom, extent = 4, 4096
        tiles = {
            (r.tile_x, r.tile_y): r
            for r in encode_point_tiles(pts, wm, zoom, extent=extent).collect()
        }
        # python oracle: core tms assignment + the documented local formula
        p = wm.zoom_params(zoom)
        span = p.resolution * 256.0
        R = 6378137.0
        mx = R * np.radians(lon)
        my = R * np.log(np.tan(np.pi * 0.25 + 0.5 * np.radians(lat)))
        fx = (mx - p.origin_x) / span
        fy = (p.origin_y - my) / span
        tx = np.clip(np.floor(fx), 0, p.matrix_width - 1).astype(int)
        ty = np.clip(np.floor(fy), 0, p.matrix_height - 1).astype(int)
        px = np.clip(np.floor((fx - tx) * extent), 0, extent - 1).astype(int)
        py = np.clip(np.floor((fy - ty) * extent), 0, extent - 1).astype(int)
        expect: dict = {}
        for i in range(n):
            expect.setdefault((tx[i], ty[i]), []).append((i, int(px[i]), int(py[i])))
        assert set(tiles) == set(expect)
        for key, rows in expect.items():
            d = decode_point_tile(bytes(tiles[key].mvt))
            assert d["layers"][0]["features"] == sorted(rows)
            assert tiles[key].n_features == len(rows)

    def test_decode_stats_roundtrip(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import (
            decode_tile_stats,
            encode_point_tiles,
        )

        pts = spark.createDataFrame(
            [(i, -30.0 + i, 10.0 + i / 3.0) for i in range(30)],
            "pid BIGINT, lon DOUBLE, lat DOUBLE",
        )
        enc = encode_point_tiles(pts, wm, 3)
        got = decode_tile_stats(enc).collect()
        assert sum(r.n_features for r in got) == 30
        assert all(r.extent == 4096 for r in got)

    def test_dense_tile_budget_raises(self, spark, wm, monkeypatch):
        from tile_grid_spark.operators import vector_tiles
        from tile_grid_spark.operators.vector_tiles import encode_point_tiles

        pts = spark.createDataFrame(
            [(i, 1.0, 1.0) for i in range(50)], "pid BIGINT, lon DOUBLE, lat DOUBLE"
        )
        monkeypatch.setattr(vector_tiles, "MAX_FEATURES_PER_TILE", 10)
        with pytest.raises(Exception, match="max_features_per_tile"):
            encode_point_tiles(pts, wm, 3).collect()

    def test_single_exchange_plan(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import encode_point_tiles

        pts = spark.createDataFrame(
            [(0, 1.0, 1.0)], "pid BIGINT, lon DOUBLE, lat DOUBLE"
        )
        plan = (
            encode_point_tiles(pts, wm, 3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1


class TestEncodePathTiles:
    def test_run_split_and_multipart_vs_python_oracle(self, spark, wm):
        from tile_grid_spark.functions.mvt import decode_line_tile
        from tile_grid_spark.operators.vector_tiles import encode_path_tiles

        # random walks: steps big enough to cross z4 tiles repeatedly,
        # including re-entries (direction flips)
        rng = np.random.default_rng(23)
        rows = []
        for tid in range(12):
            lon = rng.uniform(-150, 150)
            lat = rng.uniform(-60, 60)
            for seq in range(40):
                rows.append((tid, seq, float(lon), float(lat)))
                lon = float(np.clip(lon + rng.uniform(-9, 11), -179.9, 179.9))
                lat = float(np.clip(lat + rng.uniform(-5, 5), -80, 80))
        pts = spark.createDataFrame(rows, "tid BIGINT, seq BIGINT, lon DOUBLE, lat DOUBLE")
        zoom, extent = 4, 4096
        got = {
            (r.tile_x, r.tile_y): r
            for r in encode_path_tiles(pts, wm, zoom, extent=extent).collect()
        }

        # python oracle: per-vertex tile+local quantization, then the
        # run split done imperatively
        p = wm.zoom_params(zoom)
        span = p.resolution * 256.0
        R = 6378137.0
        expect: dict = {}
        for tid in range(12):
            vs = [r for r in rows if r[0] == tid]
            vs.sort(key=lambda r: r[1])
            run = []
            prev_tile = None
            runs = []
            for _, _, lo, la in vs:
                mx = R * np.radians(lo)
                my = R * np.log(np.tan(np.pi * 0.25 + 0.5 * np.radians(la)))
                fx = (mx - p.origin_x) / span
                fy = (p.origin_y - my) / span
                tx = int(np.clip(np.floor(fx), 0, p.matrix_width - 1))
                ty = int(np.clip(np.floor(fy), 0, p.matrix_height - 1))
                px = int(np.clip(np.floor((fx - tx) * extent), 0, extent - 1))
                py = int(np.clip(np.floor((fy - ty) * extent), 0, extent - 1))
                if prev_tile != (tx, ty):
                    run = []
                    runs.append(((tx, ty), run))
                    prev_tile = (tx, ty)
                run.append((px, py))
            for tile, run in runs:
                if len(run) >= 2:
                    expect.setdefault(tile, {}).setdefault(tid, []).append(run)

        assert set(got) == set(expect)
        for tile, feats in expect.items():
            (layer,) = decode_line_tile(bytes(got[tile].mvt))["layers"]
            assert layer["features"] == [
                (tid, parts) for tid, parts in sorted(feats.items())
            ]
            assert got[tile].n_features == len(feats)
        # the walk must actually produce at least one multi-part feature
        assert any(
            len(parts) > 1 for feats in expect.values() for parts in feats.values()
        )

    def test_decode_line_stats_roundtrip(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import (
            decode_line_stats,
            encode_path_tiles,
        )

        pts = spark.createDataFrame(
            [(i % 3, i // 3, -60.0 + i * 2.5, 15.0 + (i % 7)) for i in range(60)],
            "tid BIGINT, seq BIGINT, lon DOUBLE, lat DOUBLE",
        )
        enc = encode_path_tiles(pts, wm, 3)
        got = decode_line_stats(enc).collect()
        assert all(r.extent == 4096 for r in got)
        assert all(r.n_parts >= r.n_features for r in got)
        # every kept vertex is inside its tile: run-split semantics
        assert all(r.n_vertices >= 2 * r.n_parts for r in got)


class TestRollupPointTiles:
    def test_matches_halving_oracle(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import (
            encode_point_tiles,
            rollup_point_tiles,
        )

        rng = np.random.default_rng(31)
        n = 300
        lon = rng.uniform(-170, 170, n)
        lat = rng.uniform(-80, 80, n)
        pts = spark.createDataFrame(
            list(zip(range(n), lon.tolist(), lat.tolist())),
            "pid BIGINT, lon DOUBLE, lat DOUBLE",
        )
        zoom, extent = 4, 4096
        base = encode_point_tiles(pts, wm, zoom, extent=extent)
        up = {
            (r.tile_x, r.tile_y): r
            for r in rollup_point_tiles(base, levels=1).collect()
        }

        # python oracle: z4 quantization (independent numpy derivation,
        # as in TestEncodePointTiles) then the documented halving
        p = wm.zoom_params(zoom)
        span = p.resolution * 256.0
        R = 6378137.0
        mx = R * np.radians(lon)
        my = R * np.log(np.tan(np.pi * 0.25 + 0.5 * np.radians(lat)))
        fx = (mx - p.origin_x) / span
        fy = (p.origin_y - my) / span
        tx = np.clip(np.floor(fx), 0, p.matrix_width - 1).astype(int)
        ty = np.clip(np.floor(fy), 0, p.matrix_height - 1).astype(int)
        px = np.clip(np.floor((fx - tx) * extent), 0, extent - 1).astype(int)
        py = np.clip(np.floor((fy - ty) * extent), 0, extent - 1).astype(int)
        expect: dict = {}
        for i in range(n):
            key = (tx[i] >> 1, ty[i] >> 1)
            expect.setdefault(key, []).append(
                (i, (tx[i] & 1) * 2048 + px[i] // 2, (ty[i] & 1) * 2048 + py[i] // 2)
            )
        assert set(up) == set(expect)
        for key, rows in expect.items():
            d = decode_point_tile(bytes(up[key].mvt))
            assert d["layers"][0]["features"] == sorted(rows)

    def test_two_levels_composes(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import (
            encode_point_tiles,
            rollup_point_tiles,
        )

        pts = spark.createDataFrame(
            [(i, -150.0 + i * 11.0, -60.0 + i * 4.5) for i in range(25)],
            "pid BIGINT, lon DOUBLE, lat DOUBLE",
        )
        base = encode_point_tiles(pts, wm, 5)
        once_twice = {
            (r.tile_x, r.tile_y): bytes(r.mvt)
            for r in rollup_point_tiles(rollup_point_tiles(base), levels=1).collect()
        }
        direct = {
            (r.tile_x, r.tile_y): bytes(r.mvt)
            for r in rollup_point_tiles(base, levels=2).collect()
        }
        assert once_twice == direct

    def test_bad_levels_raises(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import rollup_point_tiles

        with pytest.raises(ValueError, match="levels"):
            rollup_point_tiles(spark.range(1).toDF("x"), levels=0)


class TestMvtTags:
    def test_codec_roundtrip_and_dictionary_dedup(self):
        from tile_grid_spark.functions.mvt import decode_point_tile, encode_point_tile

        feats = [(1, 10, 20), (2, 30, 40), (3, 50, 60)]
        attrs = [
            {"cat": "web", "n": 5},
            {"cat": "web", "n": -7, "score": 0.25},
            {"ok": True},
        ]
        b = encode_point_tile(feats, "pts", 4096, attrs=attrs)
        (layer,) = decode_point_tile(b, with_attrs=True)["layers"]
        assert layer["features"] == [f + (a,) for f, a in zip(feats, attrs)]
        # dictionaries: keys first-seen (sorted within a feature),
        # values deduped ("web" once); bool is not conflated with int 1
        assert layer["keys"] == ["cat", "n", "score", "ok"]
        assert layer["values"] == ["web", 5, -7, 0.25, True]
        # default decode keeps the legacy 3-tuple contract
        assert decode_point_tile(b)["layers"][0]["features"] == feats
        # attr-less encode is byte-identical to the pre-tags encoder
        assert encode_point_tile(feats, "pts", 4096) == encode_point_tile(
            feats, "pts", 4096, attrs=None
        )

    def test_value_types_and_int64_negatives(self):
        from tile_grid_spark.functions.mvt import decode_point_tile, encode_point_tile

        attrs = [{"i": -(1 << 40), "f": -2.5, "s": "", "b": False}]
        b = encode_point_tile([(9, 0, 0)], "a", attrs=attrs)
        (layer,) = decode_point_tile(b, with_attrs=True)["layers"]
        got = layer["features"][0][3]
        assert got == attrs[0]
        assert isinstance(got["b"], bool) and isinstance(got["i"], int)

    def test_attrs_length_mismatch_raises(self):
        from tile_grid_spark.functions.mvt import encode_point_tile

        with pytest.raises(ValueError, match="parallel"):
            encode_point_tile([(1, 0, 0)], "a", attrs=[{}, {}])

    def test_operator_attr_cols(self, spark, wm):
        from tile_grid_spark.functions.mvt import decode_point_tile
        from tile_grid_spark.operators.vector_tiles import encode_point_tiles

        pts = spark.createDataFrame(
            [
                (1, 10.0, 10.0, "a", 5),
                (2, 10.2, 10.2, "b", None),   # null int attr elided
                (3, 120.0, -40.0, None, 7),   # null str attr elided
            ],
            "pid BIGINT, lon DOUBLE, lat DOUBLE, seg STRING, wgt BIGINT",
        )
        tiles = encode_point_tiles(pts, wm, 2, attr_cols=("seg", "wgt"))
        feats = {}
        for r in tiles.collect():
            (layer,) = decode_point_tile(bytes(r.mvt), with_attrs=True)["layers"]
            for fid, _px, _py, a in layer["features"]:
                feats[fid] = a
        assert feats[1] == {"seg": "a", "wgt": 5}
        assert feats[2] == {"seg": "b"}
        assert feats[3] == {"wgt": 7}


class TestNewOperatorPlanShapes:
    def test_path_tiles_two_exchanges(self, spark, wm):
        # one hash exchange for the per-trajectory windows + the
        # groupBy-tile exchange any per-tile sink needs — nothing else
        from tile_grid_spark.operators.vector_tiles import encode_path_tiles

        pts = spark.createDataFrame(
            [(1, 0, 10.0, 10.0)], "tid BIGINT, seq BIGINT, lon DOUBLE, lat DOUBLE"
        )
        plan = (
            encode_path_tiles(pts, wm, 4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 2

    def test_rollup_one_exchange_per_level(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import (
            encode_point_tiles,
            rollup_point_tiles,
        )

        pts = spark.createDataFrame(
            [(1, 10.0, 10.0)], "pid BIGINT, lon DOUBLE, lat DOUBLE"
        )
        base = encode_point_tiles(pts, wm, 4)  # 1 exchange
        for levels in (1, 2):
            plan = (
                rollup_point_tiles(base, levels)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count("Exchange hashpartitioning") == 1 + levels


class TestEncodeRingPolyTiles:
    def test_rings_and_holes_vs_python_oracle(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import encode_ring_poly_tiles

        # two polygons: a big diamond with a square hole spanning
        # several z3 tiles, and a small triangle inside one tile
        polys = {
            1: [
                [(-40.0, 0.0), (0.0, 35.0), (40.0, 0.0), (0.0, -35.0)],
                [(-5.0, 0.0), (0.0, 5.0), (5.0, 0.0), (0.0, -5.0)],
            ],
            2: [[(100.0, 10.0), (110.0, 10.0), (105.0, 20.0)]],
        }
        rows = [
            (pid, ri, vi, x, y)
            for pid, rings in polys.items()
            for ri, ring in enumerate(rings)
            for vi, (x, y) in enumerate(ring)
        ]
        v = spark.createDataFrame(
            rows, "rid BIGINT, ring_idx INT, vert_idx INT, lon DOUBLE, lat DOUBLE"
        )
        zoom, extent = 3, 4096
        got = {
            (r.tile_x, r.tile_y): r
            for r in encode_ring_poly_tiles(v, wm, zoom).collect()
        }

        # python oracle: epsilon-inset cover of the bbox (core library)
        # + unclamped per-vertex quantization
        p = wm.zoom_params(zoom)
        span = p.resolution * 256.0
        R = 6378137.0

        def merc(lo, la):
            return (
                R * np.radians(lo),
                R * np.log(np.tan(np.pi * 0.25 + 0.5 * np.radians(la))),
            )

        expect: dict = {}
        for pid, rings in polys.items():
            xs = [x for ring in rings for x, _ in ring]
            ys = [y for ring in rings for _, y in ring]
            cover = list(wm.tiles(min(xs), min(ys), max(xs), max(ys), [zoom], False))
            for t in cover:
                q_rings = []
                for ring in rings:
                    q = []
                    for lo, la in ring:
                        mx, my = merc(lo, la)
                        px = int(np.floor(((mx - p.origin_x) / span - t.x) * extent))
                        py = int(np.floor(((p.origin_y - my) / span - t.y) * extent))
                        q.append((px, py))
                    q_rings.append(q)
                expect.setdefault((t.x, t.y), {})[pid] = q_rings
        assert set(got) == set(expect)
        for key, feats in expect.items():
            d = decode_poly_tile(bytes(got[key].mvt))
            assert d["layers"][0]["features"] == sorted(feats.items())
        # the diamond must actually span multiple tiles and keep its hole
        multi = [k for k, f in expect.items() if 1 in f]
        assert len(multi) > 1
        assert all(len(expect[k][1]) == 2 for k in multi)


class TestMvtProperties:
    """Hypothesis round-trip properties: whatever goes in comes out —
    ids, geometry (incl. clip-buffer negatives), typed attributes."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    _coord = st.integers(min_value=-(1 << 20), max_value=(1 << 20) - 1)
    _fid = st.integers(min_value=0, max_value=(1 << 63) - 1)
    _val = st.one_of(
        st.booleans(),
        st.integers(min_value=-(1 << 62), max_value=(1 << 62)),
        st.text(max_size=12),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    )
    _attrs = st.dictionaries(st.text(min_size=1, max_size=8), _val, max_size=4)

    @given(
        st.lists(
            st.tuples(
                _fid,
                st.integers(min_value=0, max_value=4095),
                st.integers(min_value=0, max_value=4095),
                _attrs,
            ),
            min_size=1,
            max_size=20,
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_point_roundtrip(self, rows):
        from tile_grid_spark.functions.mvt import decode_point_tile, encode_point_tile

        feats = [(f, x, y) for f, x, y, _ in rows]
        attrs = [a for *_, a in rows]
        b = encode_point_tile(feats, "l", 4096, attrs=attrs)
        (layer,) = decode_point_tile(b, with_attrs=True)["layers"]
        assert layer["features"] == [f + (a,) for f, a in zip(feats, attrs)]

    @given(
        st.lists(
            st.tuples(
                _fid,
                st.lists(
                    st.lists(st.tuples(_coord, _coord), min_size=2, max_size=8),
                    min_size=1,
                    max_size=3,
                ),
            ),
            min_size=1,
            max_size=8,
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_line_roundtrip(self, feats):
        from tile_grid_spark.functions.mvt import decode_line_tile, encode_line_tile

        b = encode_line_tile(feats, "l")
        (layer,) = decode_line_tile(b)["layers"]
        assert layer["features"] == feats

    @given(
        st.lists(
            st.tuples(
                _fid,
                st.lists(
                    st.lists(st.tuples(_coord, _coord), min_size=3, max_size=8),
                    min_size=1,
                    max_size=3,
                ),
            ),
            min_size=1,
            max_size=8,
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_poly_roundtrip(self, feats):
        from tile_grid_spark.functions.mvt import decode_poly_tile, encode_poly_tile

        b = encode_poly_tile(feats, "l")
        (layer,) = decode_poly_tile(b)["layers"]
        assert layer["features"] == feats


class TestRollupPreservesAttrs:
    def test_attrs_survive_rollup(self, spark, wm):
        from tile_grid_spark.functions.mvt import decode_point_tile
        from tile_grid_spark.operators.vector_tiles import (
            encode_point_tiles,
            rollup_point_tiles,
        )

        pts = spark.createDataFrame(
            [(i, -150.0 + i * 11.0, -60.0 + i * 4.5, f"s{i % 3}") for i in range(20)],
            "pid BIGINT, lon DOUBLE, lat DOUBLE, seg STRING",
        )
        base = encode_point_tiles(pts, wm, 5, attr_cols=("seg",))
        up = rollup_point_tiles(base, levels=2)
        got = {}
        for r in up.collect():
            (layer,) = decode_point_tile(bytes(r.mvt), with_attrs=True)["layers"]
            for fid, _x, _y, a in layer["features"]:
                got[fid] = a
        assert got == {i: {"seg": f"s{i % 3}"} for i in range(20)}


class TestViewportFetch:
    def test_matches_core_cover_and_pushes_filters(self, spark, wm, tmp_path):
        from tile_grid_spark.operators.vector_tiles import (
            encode_point_tiles,
            tiles_for_viewport,
        )

        pts = spark.createDataFrame(
            [(i, -170.0 + i * 8.0, -70.0 + i * 3.0) for i in range(40)],
            "pid BIGINT, lon DOUBLE, lat DOUBLE",
        )
        store = str(tmp_path / "tiles")
        encode_point_tiles(pts, wm, 5).write.parquet(store)
        stored = spark.read.parquet(store)

        w, s, e, n, z = -60.0, -30.0, 50.0, 40.0, 5
        got = {
            (r.tile_x, r.tile_y) for r in tiles_for_viewport(stored, wm, w, s, e, n, z).collect()
        }
        cover = {(t.x, t.y) for t in wm.tiles(w, s, e, n, [z], False)}
        have = {(r.tile_x, r.tile_y) for r in stored.collect()}
        assert got == cover & have and got

        # the raw-column IN prefilters must reach the parquet scan
        plan = (
            tiles_for_viewport(stored, wm, w, s, e, n, z)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PushedFilters: [In(tile_x" in plan

    def test_oversized_viewport_raises(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import tiles_for_viewport

        df = spark.range(1).selectExpr("id as tile_x", "id as tile_y", "1 as n_features")
        with pytest.raises(ValueError, match="lower zoom"):
            tiles_for_viewport(df, wm, -180.0, -85.0, 180.0, 85.0, 12)


def _store_bytes(spark, path):
    return {(r.tile_x, r.tile_y): bytes(r.mvt) for r in spark.read.parquet(path).collect()}


class TestUpsertPointTiles:
    """upsert_point_tiles / refresh_mvt_store: only touched tiles are
    re-encoded, and the store equals a fresh encode of its points."""

    SCHEMA = "pid BIGINT, lon DOUBLE, lat DOUBLE, seg STRING"

    def _fixture(self, wm):
        """Six z4 tiles of five points; every seg in tile 2 is null. The
        batch moves points only within their tile, adds one point to
        tile 1 and one to a new tile 7: touched {0, 1, 2, 7}."""
        base = [
            (t * 10 + k, -168.0 + 22.5 * t + 1.3 * k, 5.0 + 1.1 * k,
             None if t == 2 else f"s{k % 2}")
            for t in range(6)
            for k in range(5)
        ]
        batch = [
            (1, -168.0 + 1.3 + 0.2, 5.0 + 1.1 + 0.3, "moved"),  # tile 0
            (100, -168.0 + 22.5 + 0.7, 6.0, "new"),              # tile 1
            (22, -168.0 + 45.0 + 2.6 + 0.4, 5.0 + 2.2, None),    # tile 2, still null
            (700, -168.0 + 22.5 * 7 + 1.0, 7.0, "far"),          # new tile 7
        ]
        tile = {p: wm.tile(x, y, 4) for p, x, y, _ in base}
        for p, x, y, _ in batch:
            assert p not in tile or wm.tile(x, y, 4) == tile[p]  # moves stay in-tile
        return base, batch

    @pytest.mark.parametrize("attr_cols", [("seg",), ()])
    def test_store_byte_parity(self, spark, wm, tmp_path, attr_cols):
        from tile_grid_spark.operators.vector_tiles import (
            _encode_features,
            encode_point_tiles,
        )
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        base, batch = self._fixture(wm)
        store = str(tmp_path / "store")
        refresh_mvt_store(store, spark.createDataFrame(base, self.SCHEMA), wm, 4,
                          attr_cols=attr_cols)
        before = _store_bytes(spark, store)
        n_files = len(glob.glob(store + "/part-*"))
        refresh_mvt_store(store, spark.createDataFrame(batch, self.SCHEMA), wm, 4,
                          attr_cols=attr_cols)
        after = _store_bytes(spark, store)
        assert len(glob.glob(store + "/part-*")) == n_files  # a refresh adds no file

        touched = {(t.x, t.y) for t in (wm.tile(x, y, 4) for _, x, y, _ in batch)}
        assert len(touched) == 4 and set(after) == set(before) | touched
        # (a) untouched tiles carry their stored bytes
        for k in set(before) - touched:
            assert after[k] == before[k]
        # (b) ... which are also the merge rule's re-encode of their decode
        for k in set(before) - touched:
            (lyr,) = decode_point_tile(after[k], with_attrs=True)["layers"]
            feats = {f: (x, y, a) for f, x, y, a in lyr["features"]}
            assert _encode_features(feats, "points", lyr["extent"]) == after[k]
        # (c) every tile equals a fresh encode of its latest-per-fid points
        latest = {r[0]: r for r in base}
        latest.update({r[0]: r for r in batch})
        fresh = {
            (r.tile_x, r.tile_y): bytes(r.mvt)
            for r in encode_point_tiles(
                spark.createDataFrame(list(latest.values()), self.SCHEMA), wm, 4,
                attr_cols=attr_cols,
            ).collect()
        }
        assert after == fresh
        if attr_cols:  # the all-null tile carries no tag dictionaries
            t = wm.tile(-168.0 + 45.0, 5.0, 4)
            (lyr,) = decode_point_tile(after[(t.x, t.y)])["layers"]
            assert lyr["keys"] == [] and lyr["values"] == []

    def test_untouched_tiles_skip_python(self, spark, wm, tmp_path):
        """A stored tile whose bytes do not decode survives a refresh
        elsewhere unchanged: untouched tiles never reach the decoder."""
        from tile_grid_spark.operators.vector_tiles import upsert_point_tiles
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        base, batch = self._fixture(wm)
        built = str(tmp_path / "built")
        refresh_mvt_store(built, spark.createDataFrame(base, self.SCHEMA), wm, 4)
        rows = spark.read.parquet(built).orderBy("tile_x").collect()
        bad = (rows[-1].tile_x, rows[-1].tile_y)  # tile 5, which the batch misses
        store = str(tmp_path / "store")
        spark.createDataFrame(
            [(r.tile_x, r.tile_y, r.n_features,
              b"\xff\xff" if (r.tile_x, r.tile_y) == bad else bytes(r.mvt)) for r in rows],
            "tile_x BIGINT, tile_y BIGINT, n_features INT, mvt BINARY",
        ).write.parquet(store)
        with pytest.raises(IndexError):  # the decoder runs off the buffer
            decode_point_tile(b"\xff\xff")
        refresh_mvt_store(store, spark.createDataFrame(batch, self.SCHEMA), wm, 4)
        got = _store_bytes(spark, store)
        assert got[bad] == b"\xff\xff" and len(got) == len(rows) + 1
        touched = {(t.x, t.y) for t in (wm.tile(x, y, 4) for _, x, y, _ in batch)}

        plan = (
            upsert_point_tiles(
                spark.read.parquet(store), spark.createDataFrame(batch, self.SCHEMA), wm, 4
            )
            ._jdf.queryExecution().optimizedPlan().toString()
        ).splitlines()
        assert not any("Join" in ln for ln in plan)
        # the MapInPandas subtree: the lines below it, indented deeper
        (top,) = [i for i, ln in enumerate(plan) if "MapInPandas" in ln]
        depth = len(plan[top]) - len(plan[top].lstrip(":+- "))
        sub = []
        for ln in plan[top + 1 :]:
            if len(ln) - len(ln.lstrip(":+- ")) <= depth:
                break
            sub.append(ln)
        # its one stored-tile scan sits under the touched-key predicate
        scans = [i for i, ln in enumerate(sub) if "Relation" in ln and "parquet" in ln]
        assert len(scans) == 1
        filt = sub[scans[0] - 1]
        assert "Filter" in filt
        for col in ("tile_x", "tile_y"):  # the optimizer writes a one-value IN as =
            vals = ",".join(str(v) for v in sorted({t[col == "tile_y"] for t in touched}))
            assert re.search(rf"{col}#\d+L (IN \({vals}\)|= {vals}\))", filt), filt

    def test_empty_batch_keeps_store_bytes(self, spark, wm, tmp_path):
        """No touched tile: the predicate selects nothing (SQL has no
        empty IN-list) and its null-safe negation keeps every tile."""
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        base, _ = self._fixture(wm)
        store = str(tmp_path / "store")
        refresh_mvt_store(store, spark.createDataFrame(base, self.SCHEMA), wm, 4)
        before = _store_bytes(spark, store)
        refresh_mvt_store(store, spark.createDataFrame([], self.SCHEMA), wm, 4)
        assert _store_bytes(spark, store) == before

    def test_batch_of_new_tiles_only(self, spark, wm, tmp_path):
        """A batch that touches no stored tile adds its tiles and copies
        every stored one."""
        from tile_grid_spark.operators.vector_tiles import encode_point_tiles
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        base, _ = self._fixture(wm)
        store = str(tmp_path / "store")
        refresh_mvt_store(store, spark.createDataFrame(base, self.SCHEMA), wm, 4)
        before = _store_bytes(spark, store)
        fresh = [(900 + k, 100.0 + 22.5 * k, -40.0, None) for k in range(3)]
        assert not {(t.x, t.y) for t in (wm.tile(x, y, 4) for _, x, y, _ in fresh)} & set(
            before
        )
        refresh_mvt_store(store, spark.createDataFrame(fresh, self.SCHEMA), wm, 4)
        added = {
            (r.tile_x, r.tile_y): bytes(r.mvt)
            for r in encode_point_tiles(
                spark.createDataFrame(fresh, self.SCHEMA), wm, 4
            ).collect()
        }
        assert len(added) == 3 and _store_bytes(spark, store) == {**before, **added}

    def test_batch_over_tile_cap_raises_before_write(self, spark, wm, tmp_path, monkeypatch):
        """More distinct batch tiles than MAX_REFRESH_TILES raise while
        the refresh is planned: nothing is written and the live store
        keeps its bytes."""
        from tile_grid_spark.operators import vector_tiles
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        base, batch = self._fixture(wm)  # the batch touches 4 tiles
        store = str(tmp_path / "store")
        refresh_mvt_store(store, spark.createDataFrame(base, self.SCHEMA), wm, 4)
        before = _store_bytes(spark, store)
        monkeypatch.setattr(vector_tiles, "MAX_REFRESH_TILES", 3)
        with pytest.raises(ValueError, match="MAX_REFRESH_TILES"):
            refresh_mvt_store(store, spark.createDataFrame(batch, self.SCHEMA), wm, 4)
        assert not os.path.exists(store + ".tmp") and not os.path.exists(store + ".old")
        assert _store_bytes(spark, store) == before
        monkeypatch.setattr(vector_tiles, "MAX_REFRESH_TILES", 4)
        refresh_mvt_store(store, spark.createDataFrame(batch, self.SCHEMA), wm, 4)
        assert len(_store_bytes(spark, store)) == len(before) + 1

    def test_duplicate_fids_are_deterministic(self, spark, wm, tmp_path):
        """Same pid several times in one batch tile: the copy that sorts
        last by (fid, px, py, seg) wins, at any partitioning, replay
        included."""
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        rows = [
            (1, 10.30, 10.0, "a"),
            (1, 10.10, 10.0, "b"),
            (1, 10.20, 10.0, "c"),
            (2, 11.00, 11.0, "y"),
            (2, 11.00, 11.0, "x"),
            (2, 11.00, 11.0, None),
            (3, 12.00, 12.0, "q"),
        ]
        got = []
        for n in (1, 4):
            store = str(tmp_path / f"store{n}")
            batch = spark.createDataFrame(rows, self.SCHEMA).repartition(n)
            refresh_mvt_store(store, batch, wm, 4, attr_cols=("seg",))
            first = _store_bytes(spark, store)
            refresh_mvt_store(store, batch, wm, 4, attr_cols=("seg",))  # replay
            assert _store_bytes(spark, store) == first
            got.append(first)
        assert got[0] == got[1]
        (mvt,) = got[0].values()
        (lyr,) = decode_point_tile(mvt, with_attrs=True)["layers"]
        assert [(f, a) for f, _x, _y, a in lyr["features"]] == [
            (1, {"seg": "a"}), (2, {"seg": "y"}), (3, {"seg": "q"})
        ]

    def test_duplicate_fids_without_attrs(self, spark, wm):
        """encode_point_tiles' numpy path keeps the same copy of a
        duplicated fid: the last by (fid, px, py), at any partitioning."""
        from tile_grid_spark.operators.vector_tiles import encode_point_tiles

        schema = "pid BIGINT, lon DOUBLE, lat DOUBLE"
        rows = [(1, 10.30, 10.0), (1, 10.10, 10.0), (1, 10.20, 10.0), (2, 11.0, 11.0)]
        (alone,) = encode_point_tiles(
            spark.createDataFrame([rows[0], rows[3]], schema), wm, 4
        ).collect()
        for n in (1, 4):
            (got,) = encode_point_tiles(
                spark.createDataFrame(rows, schema).repartition(n), wm, 4
            ).collect()
            assert got.n_features == 2 and bytes(got.mvt) == bytes(alone.mvt)

    def test_int64_attrs_stay_exact(self, spark, wm):
        """Stored rows ride the same Arrow batches as the batch points;
        their filler columns must not turn a BIGINT attribute into
        float64 (2**60 + 1 has no exact double)."""
        from tile_grid_spark.operators.vector_tiles import upsert_point_tiles

        schema = "pid BIGINT, lon DOUBLE, lat DOUBLE, w BIGINT"
        old = upsert_point_tiles(
            None, spark.createDataFrame([(1, 1.0, 1.0, 2**60 + 1)], schema), wm, 3,
            attr_cols=("w",),
        )
        batch = spark.createDataFrame([(2, 1.0, 1.0, 2**60 + 3)], schema)
        (row,) = upsert_point_tiles(old, batch, wm, 3, attr_cols=("w",)).collect()
        (lyr,) = decode_point_tile(bytes(row.mvt), with_attrs=True)["layers"]
        assert [a for *_, a in lyr["features"]] == [{"w": 2**60 + 1}, {"w": 2**60 + 3}]

    def test_tile_budget_counts_batch_rows(self, spark, wm, monkeypatch):
        from tile_grid_spark.operators import vector_tiles
        from tile_grid_spark.operators.vector_tiles import upsert_point_tiles

        schema = "pid BIGINT, lon DOUBLE, lat DOUBLE"
        old = upsert_point_tiles(
            None, spark.createDataFrame([(i, 1.0, 1.0) for i in range(5)], schema), wm, 3
        )
        batch = spark.createDataFrame([(i, 1.0, 1.0) for i in range(10, 13)], schema)
        monkeypatch.setattr(vector_tiles, "MAX_FEATURES_PER_TILE", 3)
        assert upsert_point_tiles(old, batch, wm, 3).first().n_features == 8
        monkeypatch.setattr(vector_tiles, "MAX_FEATURES_PER_TILE", 2)
        with pytest.raises(Exception, match="max_features_per_tile"):
            upsert_point_tiles(old, batch, wm, 3).collect()


class TestServeDriverBudget:
    """The driver work of the serve request path: py4j round trips per
    call (each costs ~0.1-0.2 ms, and a Column-built IN-list or staging
    projection costs hundreds of them) and Spark jobs per refresh."""

    @staticmethod
    def _round_trips(fn) -> int:
        import gc

        import py4j.clientserver as cs

        n = [0]
        send = cs.ClientServerConnection.send_command

        def counting(self, *args, **kwargs):
            n[0] += 1
            return send(self, *args, **kwargs)

        # py4j frees a proxy with a round trip when Python collects it:
        # collect the earlier tests' garbage first, and hold the cyclic
        # collector so the count is the call's own
        gc.collect()
        gc.disable()
        try:
            with pytest.MonkeyPatch.context() as m:
                m.setattr(cs.ClientServerConnection, "send_command", counting)
                fn()
        finally:
            gc.enable()
        return n[0]

    def test_viewport_and_refresh_budgets(self, spark, wm, tmp_path):
        from tile_grid_spark.operators.vector_tiles import tiles_for_viewport
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        rng = np.random.default_rng(3)
        schema = "pid BIGINT, lon DOUBLE, lat DOUBLE"
        pts = [(i, 8.0 + 3.0 * rng.random(), 46.0 + 2.0 * rng.random()) for i in range(300)]
        store = str(tmp_path / "store")
        refresh_mvt_store(store, spark.createDataFrame(pts, schema), wm, 9)

        stored = spark.read.parquet(store)
        bbox = (8.5, 46.5, 10.5, 47.5)
        assert 0 < self._round_trips(lambda: tiles_for_viewport(stored, wm, *bbox, 9)) <= 10

        batch = spark.createDataFrame(pts[:20] + [(1000, 9.0, 47.0), (1001, 12.5, 45.0)], schema)
        sc = spark.sparkContext
        sc.setJobGroup("serve-budget", "one store refresh")
        try:
            n = self._round_trips(lambda: refresh_mvt_store(store, batch, wm, 9))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert 0 < n <= 400, n
        assert len(sc.statusTracker().getJobIdsForGroup("serve-budget")) <= 2
        assert spark.read.parquet(store).agg({"n_features": "sum"}).first()[0] == 302
