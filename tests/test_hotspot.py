"""Getis-Ord Gi* operator vs a from-scratch python oracle.

Oracle: per-point tile via the scalar core Tms (independent of the
Column path), dict-based counts/rings, Gi* evaluated with the exact
operator expression order — asserts bit equality on gi (both sides are
pure IEEE scalar math over identical integers).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from tile_grid_spark.core import tms
from tile_grid_spark.operators.hotspot import getis_ord_gi_star


@pytest.fixture(scope="module")
def wm():
    return tms().lookup("WebMercatorQuad")


def _synth(n=4000, seed=3):
    rng = np.random.default_rng(seed)
    # 2 hot blobs + uniform background (plus a cold far-south band kept
    # sparse) so gi spans significantly-hot and near-zero tiles
    lon = np.concatenate(
        [
            rng.normal(8.5, 2.0, n // 3),
            rng.normal(-73.9, 2.0, n // 3),
            rng.uniform(-179, 179, n - 2 * (n // 3)),
        ]
    )
    lat = np.concatenate(
        [
            rng.normal(47.3, 1.5, n // 3),
            rng.normal(40.7, 1.5, n // 3),
            rng.uniform(-60, 70, n - 2 * (n // 3)),
        ]
    )
    return np.clip(lon, -179.9, 179.9), np.clip(lat, -80, 80)


def _py_gi(t, lon, lat, zoom):
    p = t.zoom_params(zoom)
    W, H = p.matrix_width, p.matrix_height
    counts = {}
    for lo, la in zip(lon, lat):
        xyz = t.tile(float(lo), float(la), zoom)
        if xyz.x <= W - 1 and xyz.y <= H - 1:
            counts[(xyz.x, xyz.y)] = counts.get((xyz.x, xyz.y), 0) + 1
    n = len(counts)
    sx = sum(counts.values())
    sxx = sum(v * v for v in counts.values())
    xbar = float(sx) / n
    s = math.sqrt(float(sxx) / n - xbar * xbar)
    out = {}
    for (tx, ty), x in counts.items():
        ring_sum = ring_n = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nx, ny = tx + dx, ty + dy
                if 0 <= nx <= W - 1 and 0 <= ny <= H - 1 and (nx, ny) in counts:
                    ring_sum += counts[(nx, ny)]
                    ring_n += 1
        w = float(ring_n)
        num = float(ring_sum) - xbar * w
        den = s * math.sqrt((float(n) * w - w * w) / (float(n) - 1.0))
        gi = num / den if (n > 1 and den > 0.0) else None
        out[(tx, ty)] = (x, ring_sum, ring_n, gi)
    return out


def _run(spark, wm, lon, lat, zoom):
    df = spark.createDataFrame(
        [(float(lo), float(la)) for lo, la in zip(lon, lat)],
        "lon DOUBLE, lat DOUBLE",
    )
    rows = getis_ord_gi_star(df, wm, zoom).collect()
    return {
        (r["tile_x"], r["tile_y"]): (r["x"], r["ring_sum"], r["ring_n"], r["gi"])
        for r in rows
    }


def test_matches_python_oracle_bit_exact(spark, wm):
    lon, lat = _synth()
    want = _py_gi(wm, lon, lat, 5)
    got = _run(spark, wm, lon, lat, 5)
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3], k
        # identical IEEE expression tree over identical integers
        assert got[k][3] == want[k][3], k
    gis = [v[3] for v in got.values() if v[3] is not None]
    assert max(gis) > 2.58, "fixture produces a significant hot spot"
    assert min(gis) < 0, "and below-mean tiles"


def test_every_study_tile_has_a_row_and_self_ring(spark, wm):
    lon, lat = _synth(n=500, seed=9)
    got = _run(spark, wm, lon, lat, 4)
    assert all(v[2] >= 1 for v in got.values()), "self is always in ring"
    assert sum(v[0] for v in got.values()) == 500


def test_single_tile_gi_null(spark, wm):
    # all points in one tile: n == 1 -> statistic undefined
    df_lon = np.full(50, 8.54)
    df_lat = np.full(50, 47.37)
    got = _run(spark, wm, df_lon, df_lat, 8)
    assert len(got) == 1
    ((x, rs, rn, gi),) = got.values()
    assert (x, rs, rn, gi) == (50, 50, 1, None)


def test_uniform_counts_gi_null(spark, wm):
    # one point per distinct tile -> zero variance -> s == 0 -> NULL
    lons = np.array([-120.0, -60.0, 0.0, 60.0, 120.0])
    lats = np.full(5, 10.0)
    got = _run(spark, wm, lons, lats, 4)
    assert len(got) == 5
    assert all(v[3] is None for v in got.values())


def test_null_x_row_is_dropped(spark, wm):
    # documented contract of gi_star_from_counts: a NULL-x tile gets no
    # output row but still counts in n and in its neighbours' ring_n
    from tile_grid_spark.operators.hotspot import gi_star_from_counts

    counts = spark.createDataFrame(
        [(3, 3, 5), (4, 3, 1), (3, 4, None), (9, 9, 2)],
        "tile_x INT, tile_y INT, x BIGINT",
    )
    got = {
        (r["tile_x"], r["tile_y"]): (r["x"], r["ring_sum"], r["ring_n"])
        for r in gi_star_from_counts(counts, wm, 5).collect()
    }
    assert got == {(3, 3): (5, 6, 3), (4, 3): (1, 6, 3), (9, 9): (2, 2, 1)}


def test_image_hotspot_query_matches_python_oracle(spark, wm):
    """The entry composition (real-codec brightness sums -> z6 tiles ->
    weighted Gi*) against a from-scratch numpy oracle: pixel bytes from
    the closed form (never the codec), positions from the integer-key
    formulas, tiles via the scalar core Tms, Gi* in the operator's
    expression order. Bit-equal including gi."""
    import __spark_entry__ as entry

    # closed-form brightness sums (sources/datagen.synth_png_images)
    sums, lons, lats = {}, {}, {}
    for i in range(600):
        w, h = 16 + (i % 5) * 4, 12 + (i % 3) * 4
        j = np.arange(w * h * 3, dtype=np.int64)
        sums[i] = int(((i * 7 + j * 13) % 256).sum())
        lons[i] = ((i * 9973) % 360000) / 1000.0 - 180.0
        lats[i] = ((i * 7919) % 170000) / 1000.0 - 85.0

    p = wm.zoom_params(6)
    W, H = p.matrix_width, p.matrix_height
    counts = {}
    for i in range(600):
        xyz = wm.tile(lons[i], lats[i], 6)
        if xyz.x <= W - 1 and xyz.y <= H - 1:
            counts[(xyz.x, xyz.y)] = counts.get((xyz.x, xyz.y), 0) + sums[i]
    n = len(counts)
    sx = sum(counts.values())
    sxx = sum(v * v for v in counts.values())
    xbar = float(sx) / n
    s = math.sqrt(float(sxx) / n - xbar * xbar)
    want = {}
    for (tx, ty), x in counts.items():
        ring_sum = ring_n = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                k = (tx + dx, ty + dy)
                if 0 <= k[0] <= W - 1 and 0 <= k[1] <= H - 1 and k in counts:
                    ring_sum += counts[k]
                    ring_n += 1
        wgt = float(ring_n)
        num = float(ring_sum) - xbar * wgt
        den = s * math.sqrt((float(n) * wgt - wgt * wgt) / (float(n) - 1.0))
        gi = num / den if (n > 1 and den > 0.0) else None
        want[(tx, ty)] = (x, ring_sum, ring_n, gi)

    got = {
        (r["tile_x"], r["tile_y"]): (r["x"], r["ring_sum"], r["ring_n"], r["gi"])
        for r in entry.q_image_hotspot(spark, "/root/testdata/sf0.01").collect()
    }
    assert got == want
