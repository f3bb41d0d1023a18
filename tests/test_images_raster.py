"""Synthetic images table, payload invariants, rasterization round-trips."""

import json
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from tile_grid_spark.core import tms
from tile_grid_spark.functions.image import decode_image, psnr, with_payload_checks
from tile_grid_spark.operators.raster import (
    decode_mask,
    rasterize_points,
    vectorize_tiles,
)
from tile_grid_spark.sources.datagen import generate_images


@pytest.fixture(scope="module")
def wm():
    return tms().lookup("WebMercatorQuad")


@pytest.fixture(scope="module")
def images(spark):
    return generate_images(spark, 400, seed=42).cache()


class TestDatagen:
    def test_schema_and_determinism(self, spark, images):
        rows = images.orderBy("image_id").limit(5).collect()
        again = (
            generate_images(spark, 400, seed=42, partitions=7)
            .orderBy("image_id")
            .limit(5)
            .collect()
        )
        # identical across different partitioning (per-row seeding)
        for a, b in zip(rows, again):
            assert a.image_id == b.image_id
            assert bytes(a.bytes) == bytes(b.bytes)
            assert a.caption == b.caption and a.phash == b.phash
            assert (a.lon, a.lat) == (b.lon, b.lat)

    def test_payload_invariants(self, images):
        checked = with_payload_checks(images)
        agg = checked.agg(
            F.count("*").alias("n"),
            F.sum(F.col("phash_match").cast("int")).alias("match"),
            F.min("psnr_db").alias("min_psnr"),
        ).collect()[0]
        assert agg.n == 400
        assert agg.match == 400  # stored phash == recomputed phash
        assert agg.min_psnr >= 40.0  # lossless: 999 sentinel

    def test_decode_matches_metadata(self, images):
        r = images.limit(3).collect()
        for row in r:
            px = decode_image(bytes(row.bytes), row.fmt, row.w, row.h)
            assert px.shape == (row.h, row.w, 3)

    def test_unknown_codec_raises(self):
        with pytest.raises(NotImplementedError):
            decode_image(b"xx", "webp", 2, 2)
        # jpeg is a REAL codec now: garbage raises ValueError, not seam
        with pytest.raises(ValueError, match="SOI"):
            decode_image(b"xx", "jpeg", 2, 2)

    def test_psnr(self):
        a = np.zeros((4, 4, 3), dtype=np.uint8)
        assert psnr(a, a) == float("inf")
        b = a.copy()
        b[0, 0, 0] = 255
        assert 10 < psnr(a, b) < 40


class TestFootprints:
    """rasterize_footprints vs a pixel-loop numpy oracle."""

    def _brute(self, wm, zoom, tile_px, fps):
        """fps: list of (fminx, fminy, fmaxx, fmaxy) in Mercator meters.
        Returns {(tx, ty): count_image} by per-pixel loop."""
        p = wm.zoom_params(zoom)
        unit = p.resolution * 256.0
        px_res = unit / tile_px
        out = {}
        for fminx, fminy, fmaxx, fmaxy in fps:
            cminx = max(fminx, -20037508.342789244)
            cmaxx = min(fmaxx, 20037508.342789244)
            cminy = max(fminy, -20037508.342789244)
            cmaxy = min(fmaxy, 20037508.342789244)
            xlo = min(max(int(np.floor((cminx - p.origin_x) / unit)), 0), p.matrix_width - 1)
            xhi = min(max(int(np.floor((cmaxx - p.origin_x) / unit)), 0), p.matrix_width - 1)
            ylo = min(max(int(np.floor((p.origin_y - cmaxy) / unit)), 0), p.matrix_height - 1)
            yhi = min(max(int(np.floor((p.origin_y - cminy) / unit)), 0), p.matrix_height - 1)
            for tx in range(xlo, xhi + 1):
                for ty in range(ylo, yhi + 1):
                    tminx = p.origin_x + tx * unit
                    tmaxy = p.origin_y - ty * unit
                    x0 = int(np.clip(np.floor((fminx - tminx) / px_res), 0, tile_px - 1))
                    x1 = int(np.clip(np.floor((fmaxx - tminx) / px_res), 0, tile_px - 1))
                    y0 = int(np.clip(np.floor((tmaxy - fmaxy) / px_res), 0, tile_px - 1))
                    y1 = int(np.clip(np.floor((tmaxy - fminy) / px_res), 0, tile_px - 1))
                    img = out.setdefault((tx, ty), np.zeros((tile_px, tile_px), dtype=np.int64))
                    img[y0 : y1 + 1, x0 : x1 + 1] += 1
        return out

    def test_matches_pixel_loop_oracle(self, spark, wm):
        from tile_grid_spark.operators.raster import decode_mask, rasterize_footprints

        rng = np.random.default_rng(31)
        n = 300
        lon = rng.uniform(-160, 160, n)
        lat = rng.uniform(-70, 70, n)
        w = rng.integers(8, 64, n)
        h = rng.integers(8, 64, n)
        df = spark.createDataFrame(
            list(zip(lon.tolist(), lat.tolist(), [int(x) for x in w], [int(x) for x in h])),
            "lon DOUBLE, lat DOUBLE, w INT, h INT",
        )
        zoom, tile_px, g = 6, 32, 4000.0  # big footprints: many cross tiles
        got = rasterize_footprints(df, wm, zoom, ground_px_m=g, tile_px=tile_px).collect()

        R = 6378137.0
        mx = R * np.radians(lon)
        my = R * np.log(np.tan(np.pi / 4 + 0.5 * np.radians(lat)))
        fps = [
            (mx[i] - w[i] * g / 2, my[i] - h[i] * g / 2,
             mx[i] + w[i] * g / 2, my[i] + h[i] * g / 2)
            for i in range(n)
        ]
        exp = self._brute(wm, zoom, tile_px, fps)
        assert {(r.tile_x, r.tile_y) for r in got} == set(exp)
        n_multi = 0
        for r in got:
            img = exp[(r.tile_x, r.tile_y)]
            assert np.array_equal(
                decode_mask(bytes(r.mask), tile_px),
                np.clip(img, 0, 255).astype(np.uint8),
            ), (r.tile_x, r.tile_y)
            assert r.max_cover == int(img.max())
            assert r.covered_px_sum == int(img.sum())
            if r.max_cover > 1:
                n_multi += 1
        assert n_multi > 0  # fixture genuinely overlaps footprints

    def _footprint_case(self, spark, wm):
        from tile_grid_spark.operators.raster import rasterize_footprints

        rng = np.random.default_rng(8)
        n = 200
        # few distinct tiles -> many rows per tile -> guaranteed splits
        lon = rng.uniform(-20, 20, n)
        lat = rng.uniform(-15, 15, n)
        df = spark.createDataFrame(
            list(zip(lon.tolist(), lat.tolist(), [32] * n, [32] * n)),
            "lon DOUBLE, lat DOUBLE, w INT, h INT",
        )
        R = 6378137.0
        mx = R * np.radians(lon)
        my = R * np.log(np.tan(np.pi / 4 + 0.5 * np.radians(lat)))
        fps = [
            (mx[i] - 32 * 1500.0, my[i] - 32 * 1500.0,
             mx[i] + 32 * 1500.0, my[i] + 32 * 1500.0)
            for i in range(n)
        ]
        exp = self._brute(wm, 4, 16, fps)
        return (
            lambda: rasterize_footprints(df, wm, 4, ground_px_m=3000.0, tile_px=16).collect(),
            lambda r: (r.tile_x, r.tile_y, r.covered_px_sum, r.max_cover),
            [(tx, ty, int(img.sum()), int(img.max())) for (tx, ty), img in exp.items()],
        )

    def _upsert_case(self, spark, wm):
        from tile_grid_spark.operators.vector_tiles import TILES_SCHEMA, upsert_point_tiles

        rng = np.random.default_rng(9)
        schema = "pid BIGINT, lon DOUBLE, lat DOUBLE"
        base = [(i, *rng.uniform(-40, 40, 2).tolist()) for i in range(80)]
        batch = [(1000 + i, *rng.uniform(-40, 40, 2).tolist()) for i in range(60)]
        # the stored tile set is built once, at the default batch size
        old = spark.createDataFrame(
            upsert_point_tiles(None, spark.createDataFrame(base, schema), wm, 3).collect(),
            TILES_SCHEMA,
        )
        new = spark.createDataFrame(batch, schema)
        counts: dict = {}
        for _, lon, lat in base + batch:
            t = wm.tile(lon, lat, 3)
            counts[(t.x, t.y)] = counts.get((t.x, t.y), 0) + 1
        return (
            lambda: upsert_point_tiles(old, new, wm, 3).collect(),
            lambda r: (r.tile_x, r.tile_y, r.n_features),
            [(tx, ty, c) for (tx, ty), c in counts.items()],
        )

    def _simplify_case(self, spark, wm):
        from tile_grid_spark.operators.simplify import dp_keep_mask, simplify_paths

        rng = np.random.default_rng(10)
        rows = []
        for tid in range(6):
            xs = np.cumsum(rng.normal(0, 1, 40))
            ys = np.cumsum(rng.normal(0, 1, 40))
            rows += [(tid, seq, float(x), float(y)) for seq, (x, y) in enumerate(zip(xs, ys))]
        df = spark.createDataFrame(rows, "tid BIGINT, seq BIGINT, x DOUBLE, y DOUBLE")
        exp = []
        for tid in range(6):
            tr = [r for r in rows if r[0] == tid]
            keep = dp_keep_mask(np.array([r[2] for r in tr]), np.array([r[3] for r in tr]), 0.5)
            exp += [(r[0], r[1]) for r, k in zip(tr, keep) if k]
        return (
            lambda: simplify_paths(df, 0.5).collect(),
            lambda r: (r.tid, r.seq),
            exp,
        )

    @pytest.mark.parametrize("case", ["rasterize_footprints", "upsert_point_tiles", "simplify_paths"])
    def test_batched_painter_survives_tiny_arrow_batches(self, spark, wm, case):
        # the batched group kernel holds back the last group of every
        # Arrow batch; force 7-row batches so groups split across
        # boundaries, then require every caller's output to equal the
        # same call at the default batch size and to hold each group
        # exactly once
        run, project, expected = {
            "rasterize_footprints": self._footprint_case,
            "upsert_point_tiles": self._upsert_case,
            "simplify_paths": self._simplify_case,
        }[case](spark, wm)
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key, None)
        spark.conf.set(key, "7")
        try:
            tiny = run()
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
        default = run()
        assert sorted(tiny) == sorted(default)
        assert sorted(project(r) for r in default) == sorted(expected)

    def test_rejects_non_mercator_tms(self, spark):
        # ground_px_m is metres: a degree-frame TMS raises when the plan
        # is built, before any job runs
        from tile_grid_spark.operators.raster import rasterize_footprints

        df = spark.createDataFrame([(0.0, 0.0, 4, 4)], "lon DOUBLE, lat DOUBLE, w INT, h INT")
        with pytest.raises(ValueError, match="EPSG:3857"):
            rasterize_footprints(df, tms().lookup("WorldCRS84Quad"), 2, ground_px_m=10.0)

    def test_cross_tile_footprint_and_world_edge(self, spark, wm):
        from tile_grid_spark.operators.raster import rasterize_footprints

        # one footprint exactly straddling the lon=0 tile boundary at z2,
        # one hugging the world's east edge (clamped, no phantom tile)
        df = spark.createDataFrame(
            [(0.0, 10.0, 64, 64), (179.9999, 0.0, 64, 64)],
            "lon DOUBLE, lat DOUBLE, w INT, h INT",
        )
        got = rasterize_footprints(df, wm, 2, ground_px_m=2000.0, tile_px=16).collect()
        tiles = {(r.tile_x, r.tile_y) for r in got}
        assert (1, 1) in tiles and (2, 1) in tiles  # straddles x=1|2 at z2
        assert all(r.tile_x <= 3 and r.tile_y <= 3 for r in got)  # no phantom
        assert (3, 1) in tiles or (3, 2) in tiles  # east-edge footprint lands


class TestPng:
    """functions/png.py: real stdlib PNG codec (round 3, VERDICT item 2)."""

    def test_roundtrip_mixed_filters(self):
        from tile_grid_spark.functions.png import decode_png, encode_png

        rng = np.random.default_rng(9)
        # >= 5 rows so every filter type 0..4 is exercised; odd sizes and
        # degenerate 1-px widths stress the left-neighbor boundaries
        for h, w in [(8, 8), (5, 1), (1, 7), (1, 1), (13, 31), (64, 48)]:
            px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            data = encode_png(px, filter_strategy="mixed")
            back = decode_png(data)
            assert np.array_equal(back, px), (h, w)
            # none-strategy too
            assert np.array_equal(decode_png(encode_png(px, filter_strategy="none")), px)

    def test_decoder_vs_handbuilt_png(self):
        # independent of encode_png: construct the container by hand
        # (filter 0 scanlines) straight from the spec
        import struct

        from tile_grid_spark.functions.png import decode_png

        px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(2))

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_png(data), px)

    def test_unfilter_vs_slow_reference(self):
        # slow byte-at-a-time unfilter straight from PNG spec §9 vs the
        # vectorized decoder, over random payloads with every filter type
        from tile_grid_spark.functions.png import decode_png, encode_png

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        def slow_decode(data, w, h):
            import struct

            pos = 8
            idat = b""
            while pos + 8 <= len(data):
                (ln,) = struct.unpack(">I", data[pos : pos + 4])
                tag = data[pos + 4 : pos + 8]
                if tag == b"IDAT":
                    idat += data[pos + 8 : pos + 8 + ln]
                pos += 12 + ln
            raw = zlib.decompress(idat)
            stride = w * 3
            out = bytearray(h * stride)
            for y in range(h):
                ft = raw[y * (stride + 1)]
                line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
                for x in range(stride):
                    a = out[y * stride + x - 3] if x >= 3 else 0
                    b = out[(y - 1) * stride + x] if y > 0 else 0
                    c = out[(y - 1) * stride + x - 3] if (y > 0 and x >= 3) else 0
                    fx = line[x]
                    if ft == 0:
                        v = fx
                    elif ft == 1:
                        v = fx + a
                    elif ft == 2:
                        v = fx + b
                    elif ft == 3:
                        v = fx + ((a + b) >> 1)
                    else:
                        v = fx + paeth(a, b, c)
                    out[y * stride + x] = v & 0xFF
            return np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, 3)

        rng = np.random.default_rng(17)
        for h, w in [(7, 5), (6, 1), (10, 12)]:
            px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            data = encode_png(px, filter_strategy="mixed")
            assert np.array_equal(decode_png(data), slow_decode(data, w, h))
            assert np.array_equal(decode_png(data), px)

    def test_corrupt_and_unsupported(self):
        import struct

        from tile_grid_spark.functions.png import decode_png, encode_png

        px = np.zeros((4, 4, 3), dtype=np.uint8)
        data = bytearray(encode_png(px))
        with pytest.raises(ValueError, match="signature"):
            decode_png(b"notapng" + bytes(data))
        data[30] ^= 0xFF  # flip a byte inside a chunk body
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(data))

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        rgba = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0))
        )
        with pytest.raises(NotImplementedError, match="color_type"):
            decode_png(rgba)

    def test_png_rows_flow_through_pipeline(self, images):
        # datagen emits fmt='png' ~1/4 of rows; decode + phash + PSNR
        # invariants must hold on them specifically
        png_rows = images.filter(F.col("fmt") == "png")
        n = png_rows.count()
        assert n > 60, n
        checked = with_payload_checks(png_rows)
        agg = checked.agg(
            F.sum(F.col("phash_match").cast("int")).alias("match"),
            F.min("psnr_db").alias("min_psnr"),
        ).collect()[0]
        assert agg.match == n
        assert agg.min_psnr == 999.0  # PNG is lossless

    def test_decode_psnr_query_gates(self, spark):
        import __spark_entry__ as entry

        rows = entry.q_decode_psnr(spark, "/root/testdata/sf0.001").collect()
        fmts = {r.fmt for r in rows}
        assert fmts == {"raw", "zlib", "png", "jpeg"}
        for r in rows:
            assert r.n_phash_match == r.n_rows, r
            assert r.n_caption_match == r.n_rows, r
            assert r.min_psnr_lossless == 999.0, r
            assert r.min_psnr_lossy >= 40.0, r
            # the input_hint decoded-vs-source invariant: exact (999)
            # for lossless fmts, >= 40 dB for the lossy jpeg rows
            if r.fmt == "jpeg":
                assert 40.0 <= r.min_psnr_vs_source < 999.0, r
            else:
                assert r.min_psnr_vs_source == 999.0, r


class TestJpegCodec:
    """functions/jpeg.py — stdlib baseline sequential JPEG. No external
    decoder exists in-sandbox, so correctness rests on (a) analytic
    cases (solid color is DC-only and must round-trip exactly), (b) the
    40 dB PSNR gate on datagen-style noisy fixtures, and (c) byte-level
    goldens pinning the emitted stream against regressions."""

    def _fixture(self):
        from tile_grid_spark.sources.datagen import _gen_pixels

        rng = np.random.Generator(np.random.PCG64(123))
        return _gen_pixels(rng, 16, 32)  # 16x27, gradient + noise

    def test_solid_color_roundtrips_exactly(self):
        from tile_grid_spark.functions.jpeg import decode_jpeg, encode_jpeg

        for sub in ("444", "420"):
            solid = np.full((20, 28, 3), 137, dtype=np.uint8)
            dec = decode_jpeg(encode_jpeg(solid, 90, sub))
            assert dec.shape == solid.shape
            assert int(np.abs(dec.astype(int) - 137).max()) == 0, sub

    def test_psnr_gate_and_shapes(self):
        from tile_grid_spark.functions.jpeg import decode_jpeg, encode_jpeg
        from tile_grid_spark.functions.image import psnr
        from tile_grid_spark.sources.datagen import JPEG_QUALITY, _gen_pixels

        # odd / non-multiple-of-8 / non-multiple-of-16 dims all covered
        for rid in range(12):
            rng = np.random.Generator(np.random.PCG64(900 + rid))
            px = _gen_pixels(rng, 9, 40)
            dec = decode_jpeg(encode_jpeg(px, JPEG_QUALITY))
            assert dec.shape == px.shape
            assert psnr(px, dec) >= 40.0, rid
            d420 = decode_jpeg(encode_jpeg(px, 95, "420"))
            assert d420.shape == px.shape  # MCU pad/crop exact

    def test_stream_golden(self):
        """Byte-exact pin of the encoder output and the decoder result
        for a fixed seeded fixture (regression guard for tables, zigzag,
        Huffman, DCT)."""
        import hashlib

        from tile_grid_spark.functions.jpeg import decode_jpeg, encode_jpeg
        from tile_grid_spark.functions.image import psnr
        from tile_grid_spark.sources.datagen import phash64

        px = self._fixture()
        assert px.shape == (27, 16, 3)
        jp = encode_jpeg(px, 98)
        assert len(jp) == 1627
        assert hashlib.md5(jp).hexdigest() == "be59ba0d7fab8607084550a33915bc3a"
        dec = decode_jpeg(jp)
        assert hashlib.md5(dec.tobytes()).hexdigest() == (
            "8f67a793a91a3a97e6f30b409426b950"
        )
        assert dec[0, 0].tolist() == [37, 3, 58]
        assert round(psnr(px, dec), 4) == 43.6304
        assert int(phash64(dec)) == 810180779305324323
        jp420 = encode_jpeg(px, 90, "420")
        assert hashlib.md5(jp420).hexdigest() == "26b44f2a3d5706a269cf8611641b5494"

    def test_jfif_structure(self):
        """The stream is standard JFIF any decoder can parse: SOI, APP0,
        2 DQT, SOF0 with the right dims, 4 DHT, SOS, EOI."""
        from tile_grid_spark.functions.jpeg import encode_jpeg

        jp = encode_jpeg(self._fixture(), 98)
        assert jp[:2] == b"\xff\xd8" and jp[-2:] == b"\xff\xd9"
        assert jp[2:4] == b"\xff\xe0" and jp[6:11] == b"JFIF\x00"
        sof = jp.index(b"\xff\xc0")
        h = int.from_bytes(jp[sof + 5:sof + 7], "big")
        w = int.from_bytes(jp[sof + 7:sof + 9], "big")
        assert (h, w) == (27, 16)
        assert jp.count(b"\xff\xdb") >= 2 and jp.count(b"\xff\xc4") >= 4

    def test_unsupported_raise(self):
        from tile_grid_spark.functions.jpeg import decode_jpeg

        with pytest.raises(ValueError, match="SOI"):
            decode_jpeg(b"\x00\x01\x02\x03")
        # progressive: SOI + minimal SOF2 segment
        sof2 = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
        with pytest.raises(NotImplementedError, match="SOF2"):
            decode_jpeg(sof2)

    def test_metadata_mismatch_raises(self):
        from tile_grid_spark.functions.jpeg import encode_jpeg

        jp = encode_jpeg(self._fixture(), 98)
        with pytest.raises(ValueError, match="metadata"):
            decode_image(jp, "jpeg", 99, 99)

    def test_jpeg_rows_flow_through_pipeline(self, images):
        """~1/4 of datagen rows are real jpeg: phash recomputation from
        the payload is EXACT (stored phash fingerprints the decoded
        payload) and the decoded-vs-source PSNR clears the 40 dB
        input_hint gate on every row."""
        from tile_grid_spark.functions.image import psnr_vs_source_udf

        jr = images.filter(F.col("fmt") == "jpeg")
        n = jr.count()
        assert n > 60, n
        checked = with_payload_checks(jr).withColumn(
            "psnr_src", psnr_vs_source_udf(42)("image_id", "bytes", "fmt", "w", "h")
        )
        agg = checked.agg(
            F.sum(F.col("phash_match").cast("int")).alias("match"),
            F.min("psnr_src").alias("min_src"),
            F.max("psnr_src").alias("max_src"),
        ).collect()[0]
        assert agg.match == n
        assert 40.0 <= agg.min_src, agg
        assert agg.max_src < 999.0, agg  # jpeg really is lossy


class TestHammingMulti:
    """hamming_near_pairs_multi (bands=2 scale path) vs an exact numpy
    all-pairs oracle: radius-1 recall must be 1.0 (per-table pigeonhole
    guarantee), wider radii meet the documented probabilistic floor,
    and every returned pair is exact (bit_count verify)."""

    @staticmethod
    def _popcount_matrix(v: np.ndarray) -> np.ndarray:
        x = np.bitwise_xor.outer(v, v).view(np.uint8)
        lut = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)
        return lut[x].reshape(len(v), len(v), 8).sum(axis=2)

    def test_recall_vs_bruteforce(self, spark):
        from tile_grid_spark.operators.dedup import hamming_near_pairs_multi

        rng = np.random.default_rng(5)
        base = rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64)
        vals = list(base)
        # plant twins at hamming exactly 1, 2, 3 for the first 300 bases
        for i in range(300):
            flips = rng.choice(64, size=(i % 3) + 1, replace=False)
            tw = int(base[i]) & ((1 << 64) - 1)   # unsigned view
            for b in flips:
                tw ^= 1 << int(b)
            tw = tw - (1 << 64) if tw >= (1 << 63) else tw
            vals.append(np.int64(tw))
        v = np.array(vals, dtype=np.int64)
        ham = self._popcount_matrix(v.view(np.uint64))
        iu = np.triu_indices(len(v), k=1)
        truth = {
            (int(a), int(b)): int(ham[a, b])
            for a, b in zip(*iu)
            if ham[a, b] <= 3
        }
        df = spark.createDataFrame(
            [(i, int(x)) for i, x in enumerate(v)], "image_id BIGINT, phash BIGINT"
        )
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in hamming_near_pairs_multi(
                df, "image_id", "phash", max_hamming=3, n_tables=8, seed=7
            ).collect()
        }
        # exactness: every returned pair is in truth with the same distance
        for k, h in got.items():
            assert truth.get(k) == h, (k, h)
        by_h = {1: [0, 0], 2: [0, 0], 3: [0, 0]}  # h -> [found, total]
        for k, h in truth.items():
            if h == 0:
                continue
            by_h[h][1] += 1
            by_h[h][0] += int(k in got)
        assert by_h[1][0] == by_h[1][1], by_h          # guaranteed
        assert by_h[2][0] / by_h[2][1] >= 0.95, by_h    # ~0.997 expected
        assert by_h[3][0] / by_h[3][1] >= 0.80, by_h    # ~0.89 expected

    def test_plan_is_short_key_equi_join(self, spark):
        from tile_grid_spark.operators.dedup import hamming_near_pairs_multi

        df = spark.range(0, 400).select(
            F.col("id").alias("image_id"), F.xxhash64("id").alias("phash")
        )
        plan = hamming_near_pairs_multi(
            df, "image_id", "phash", n_tables=4, persist=False
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan  # pure codegen band keys


class TestRaster:
    def test_rasterize_counts(self, spark, wm, images):
        z = 4
        r = rasterize_points(images, wm, z).cache()
        total = r.agg(F.sum("n_points")).collect()[0][0]
        assert total == 400  # every point lands in exactly one tile
        row = r.orderBy(F.desc("n_points")).first()
        mask = decode_mask(bytes(row.mask))
        assert mask.shape == (256, 256)
        assert mask.sum() >= min(row.n_points, 255)  # counts painted
        assert row.max_count >= 1

    def test_vectorize_feature(self, spark, wm):
        df = spark.createDataFrame([(10, 486, 332)], "zoom INT, tile_x BIGINT, tile_y BIGINT")
        feat = json.loads(vectorize_tiles(df).collect()[0].feature)
        assert feat["type"] == "Feature"
        assert feat["id"] == "10/486/332"
        ring = feat["geometry"]["coordinates"][0]
        assert len(ring) == 5 and ring[0] == ring[4]
        # golden corner: ul(486,332,10) = (-9.140625, 53.33087298301705)
        assert abs(ring[0][0] - (-9.140625)) < 1e-9
        assert abs(ring[1][1] - 53.33087298301705) < 1e-7

    def test_pixel_placement_golden(self, spark, wm):
        # a point at the exact center of tile (486,332,10) paints the
        # center pixel
        from tile_grid_spark.core import Xyz

        b = wm.xy_bounds(Xyz(486, 332, 10))
        from tile_grid_spark.core.transform import merc_to_lonlat

        cx, cy = (b.left + b.right) / 2, (b.top + b.bottom) / 2
        lon, lat = merc_to_lonlat(cx, cy)
        df = spark.createDataFrame([(float(lon), float(lat))], "lon DOUBLE, lat DOUBLE")
        r = rasterize_points(df, wm, 10).collect()[0]
        assert (r.tile_x, r.tile_y) == (486, 332)
        mask = decode_mask(bytes(r.mask))
        # the lon/lat round-trip perturbs the exact center by ~1e-10 m, so
        # the point may land on either side of the pixel boundary: accept
        # any of the four center pixels
        assert mask[127:129, 127:129].sum() == 1
        assert mask.sum() == 1

    def test_geographic_tms_paints_in_degrees(self, spark):
        # WorldCRS84Quad tiles AND pixels both live in the TMS's degree
        # frame: pixel = floor(frac_within_tile * tile_px)
        geo = tms().lookup("WorldCRS84Quad")
        p = geo.zoom_params(2)
        unit = p.resolution * float(p.tile_width)
        pts = [(10.0, 10.0), (-100.0, -40.0), (45.0, 60.0)]
        df = spark.createDataFrame(pts, "lon DOUBLE, lat DOUBLE")
        got = {
            (r.tile_x, r.tile_y): decode_mask(bytes(r.mask), 16)
            for r in rasterize_points(df, geo, 2, tile_px=16).collect()
        }
        pixels = []
        for lon, lat in pts:
            fx, fy = (lon - p.origin_x) / unit, (p.origin_y - lat) / unit
            t = geo.tile(lon, lat, 2)
            assert (t.x, t.y) == (int(fx), int(fy))
            px, py = int((fx - t.x) * 16), int((fy - t.y) * 16)
            assert got[(t.x, t.y)][py, px] == 1 and got[(t.x, t.y)].sum() == 1
            pixels.append((px, py))
        assert len(got) == 3
        assert pixels == [(3, 12), (12, 14), (0, 10)]


class TestPhashNearDup:
    """hamming_near_pairs over the REAL pixel phash (DCT average-hash from
    decoded payloads) — the image-side near-dup path the green
    phash_neardup oracle exercises with a derived hash family."""

    def _expected_pairs(self, ids, hashes, max_hamming, bands=4):
        """Numpy brute force of the operator's exact contract: candidate
        iff >=1 shared 16-bit band, reported iff hamming <= max."""
        h = np.asarray(hashes, dtype=np.uint64)
        n = len(h)
        out = set()
        for i in range(n):
            for j in range(i + 1, n):
                x = int(h[i] ^ h[j])
                shares_band = any(
                    ((int(h[i]) >> (16 * b)) & 0xFFFF) == ((int(h[j]) >> (16 * b)) & 0xFFFF)
                    for b in range(bands)
                )
                if shares_band and bin(x).count("1") <= max_hamming:
                    a, bb = sorted((ids[i], ids[j]))
                    out.add((a, bb, bin(x).count("1")))
        return out

    def test_real_phash_noisy_dups_vs_bruteforce(self, spark, images):
        from tile_grid_spark.operators.dedup import hamming_near_pairs
        from tile_grid_spark.sources.datagen import phash64

        rows = images.filter(F.col("fmt") == "raw").orderBy("image_id").limit(30).collect()
        assert len(rows) >= 20
        ids, hashes = [], []
        rng = np.random.default_rng(5)
        for r in rows:
            px = decode_image(bytes(r.bytes), r.fmt, r.w, r.h)
            ids.append(r.image_id)
            hashes.append(int(np.uint64(np.int64(r.phash))))
            # near-dup: small additive noise, real decode->perturb->rehash
            noisy = np.clip(
                px.astype(np.int16) + rng.integers(-4, 5, px.shape), 0, 255
            ).astype(np.uint8)
            ids.append(r.image_id + "-noisy")
            hashes.append(int(np.uint64(phash64(noisy))))

        df = spark.createDataFrame(
            [(i, int(np.int64(np.uint64(hv)))) for i, hv in zip(ids, hashes)],
            "image_id STRING, phash BIGINT",
        )
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_pairs(df, "image_id", "phash", max_hamming=12).collect()
        }
        want = self._expected_pairs(ids, hashes, max_hamming=12)
        assert got == want
        # the planted noisy twins must actually be found (recall floor):
        found_twins = {p for p in got if p[0] + "-noisy" == p[1]}
        assert len(found_twins) >= 0.6 * len(rows)
        assert found_twins == {p for p in want if p[0] + "-noisy" == p[1]}

    def test_exact_dup_images_hamming_zero(self, spark):
        from tile_grid_spark.operators.dedup import hamming_near_pairs

        a = generate_images(spark, 25, seed=9).select("image_id", "phash")
        b = generate_images(spark, 25, seed=9).select(
            F.concat(F.col("image_id"), F.lit("-copy")).alias("image_id"), "phash"
        )
        pairs = hamming_near_pairs(a.unionByName(b), "image_id", "phash", max_hamming=0)
        got = pairs.filter(F.col("id_b") == F.concat(F.col("id_a"), F.lit("-copy")))
        assert got.count() == 25
        assert pairs.filter(F.col("hamming") != 0).count() == 0


class TestCoverOutsideMatrix:
    def test_cover_xy_exact_rejects_disjoint_bboxes(self, spark, wm):
        """A bbox entirely outside the matrix must produce NO tiles —
        clamping must not collapse it onto an edge tile (footprints at
        |lat| > 85.05 hit this via unclamped mercator_y)."""
        from tile_grid_spark.operators.cover import cover_bbox_xy_exact

        b = wm.xy_bbox()
        rows = [
            (0, b.left - 100.0, b.bottom + 10.0, b.left - 1.0, b.bottom + 20.0),
            (1, b.right + 1.0, 0.0, b.right + 100.0, 10.0),
            (2, 0.0, b.top + 1.0, 10.0, b.top + 100.0),
            (3, 0.0, b.bottom - 100.0, 10.0, b.bottom - 1.0),
            (4, 0.0, 0.0, 10.0, 10.0),                       # interior
            (5, b.left - 100.0, 0.0, b.left + 10.0, 10.0),   # straddles west
            (6, b.right + 0.0, 0.0, b.right + 50.0, 10.0),   # touches east edge
        ]
        df = spark.createDataFrame(
            rows, "id INT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE"
        )
        got = {r.id for r in cover_bbox_xy_exact(df, wm, 3).select("id").distinct().collect()}
        assert got == {4, 5, 6}

    def test_footprint_above_mercator_top_paints_nothing(self, spark, wm):
        """North-star framing: an image footprint centered at lat 87 is
        outside WebMercatorQuad entirely; the raster must not acquire
        phantom row-0 coverage."""
        from tile_grid_spark.operators.raster import rasterize_footprints

        df = spark.createDataFrame(
            [("i0", 10.0, 87.0, 32, 32), ("i1", 10.0, 50.0, 32, 32)],
            "image_id STRING, lon DOUBLE, lat DOUBLE, w INT, h INT",
        )
        r = rasterize_footprints(df, wm, 6, ground_px_m=100.0).collect()
        assert r, "the in-domain footprint must still rasterize"
        total = sum(x.n_footprints for x in r)
        assert total >= 1
        # every painted tile must be reachable from the lat-50 footprint
        ys = {x.tile_y for x in r}
        assert 0 not in ys


class TestHammingBands2:
    def test_bands2_matches_bruteforce(self, spark):
        """The bench's big-N configuration (bands=2, 32-bit keys) must
        keep the exact banding contract: candidate iff a shared 32-bit
        half, reported iff hamming <= max."""
        from tile_grid_spark.operators.dedup import hamming_near_pairs

        rng = np.random.default_rng(17)
        base = rng.integers(0, 2**63, 60, dtype=np.int64)
        rows = []
        for i, b in enumerate(base):
            rows.append((2 * i, int(b)))
            # twin flipped in the low half -> collides on the high band
            rows.append((2 * i + 1, int(b ^ (1 << rng.integers(0, 32)))))
        df = spark.createDataFrame(rows, "image_id BIGINT, phash BIGINT")
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_pairs(
                df, "image_id", "phash", max_hamming=2, bands=2, persist=False
            ).collect()
        }
        want = set()
        h = dict(rows)
        ids = [r[0] for r in rows]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = h[ids[i]] & (2**64 - 1), h[ids[j]] & (2**64 - 1)
                x = (h[ids[i]] ^ h[ids[j]]) & (2**64 - 1)
                shares = (a & 0xFFFFFFFF) == (b & 0xFFFFFFFF) or (a >> 32) == (b >> 32)
                if shares and bin(x).count("1") <= 2:
                    lo, hi = sorted((ids[i], ids[j]))
                    want.add((lo, hi, bin(x).count("1")))
        assert got == want
        assert len(got) == 60  # every planted twin found


class TestTileImageStats:
    """q_tile_image_stats: decode x tile-assign x per-tile rollup vs an
    independent numpy + core-Tms oracle (the Spark path goes through the
    real PNG codec and native Column grid math; the oracle re-derives
    pixels from the closed form and tiles via core tms.tile)."""

    def test_matches_numpy_core_oracle(self, spark, wm):
        import importlib

        entry = importlib.import_module("__spark_entry__")
        got = {
            (r.tile_x, r.tile_y): (
                r.n_images, r.n_px, r.sum_px, r.wsum_px, r.min_px, r.max_px
            )
            for r in entry.q_tile_image_stats(spark, "/root/testdata/sf0.001").collect()
        }

        want: dict = {}
        for iid in range(600):
            w = 16 + (iid % 5) * 4
            h = 12 + (iid % 3) * 4
            j = np.arange(w * h * 3, dtype=np.int64)
            v = (iid * 7 + j * 13) % 256
            lon = ((iid * 9973) % 360000) / 1000.0 - 180.0
            lat = ((iid * 7919) % 170000) / 1000.0 - 85.0
            t = wm.tile(lon, lat, 4)
            cur = want.setdefault((t.x, t.y), [0, 0, 0, 0, 256, -1])
            cur[0] += 1
            cur[1] += v.size
            cur[2] += int(v.sum())
            cur[3] += int(((j + 1) * v).sum())
            cur[4] = min(cur[4], int(v.min()))
            cur[5] = max(cur[5], int(v.max()))
        assert got == {k: tuple(x) for k, x in want.items()}

    def test_plan_shape(self, spark):
        import importlib

        entry = importlib.import_module("__spark_entry__")
        plan = entry.q_tile_image_stats(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python
        assert "MapInPandas" in plan  # Arrow-batched decode
        # decode is pre-shuffle: one hash exchange (tile rollup) + the
        # orderBy range exchange, nothing else
        assert plan.count("Exchange") <= 2


class TestJpegRestart:
    """DRI/RSTn path of the segment-based entropy decoder: a hand-built
    1-component JPEG with restart_interval=1 (every MCU its own entropy
    segment, DC predictor reset + byte-align at each RSTn). No encoder
    in this repo emits DRI, so the stream is constructed bit-by-bit
    from the T.81 canonical codes the module itself validates."""

    def test_restart_markers_reset_dc_prediction(self):
        import struct

        from tile_grid_spark.functions.jpeg import (
            AC_LUMA_BITS, AC_LUMA_VALS, DC_LUMA_BITS, DC_LUMA_VALS,
            _canonical_codes, decode_jpeg,
        )

        dc_codes = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
        ac_codes = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)

        def mcu_bits(diff):
            bits = []
            if diff == 0:
                size = 0
            else:
                size = abs(diff).bit_length()
            code, ln = dc_codes[size]
            bits.append((code, ln))
            if size:
                v = diff if diff > 0 else diff + (1 << size) - 1
                bits.append((v, size))
            bits.append(ac_codes[0x00])  # EOB: rest of block zero
            out = bytearray()
            acc = nb = 0
            for code, ln in bits:
                acc = (acc << ln) | code
                nb += ln
            # pad to byte with 1s (spec padding)
            pad = (-nb) % 8
            acc = (acc << pad) | ((1 << pad) - 1)
            nb += pad
            raw = acc.to_bytes(nb // 8, "big")
            for b in raw:  # FF stuffing
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

        def seg(marker, body):
            return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

        # DC-only blocks: constant spatial value = dc/8 + 128 under the
        # orthonormal IDCT with an all-ones quant table
        dcs = [8, -16, 80]
        expect = [dc // 8 + 128 for dc in dcs]

        dht = bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS)
        dht += bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS)
        jpg = bytearray(b"\xff\xd8")
        jpg += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        jpg += seg(0xC0, struct.pack(">BHHB", 8, 8, 24, 1) + bytes([1, 0x11, 0]))
        jpg += seg(0xC4, dht)
        jpg += seg(0xDD, struct.pack(">H", 1))  # DRI: restart every MCU
        jpg += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        jpg += mcu_bits(dcs[0])
        jpg += b"\xff\xd0"  # RST0
        jpg += mcu_bits(dcs[1])  # ABSOLUTE dc again (pred reset)
        jpg += b"\xff\xd1"  # RST1
        jpg += mcu_bits(dcs[2])
        jpg += b"\xff\xd9"  # EOI

        px = decode_jpeg(bytes(jpg))
        assert px.shape == (8, 24, 3)
        for i, v in enumerate(expect):
            block = px[:, i * 8:(i + 1) * 8, :]
            assert (block == v).all(), (i, v, block[0, 0])
