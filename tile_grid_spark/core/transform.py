"""Coordinate transforms (4326 <-> 3857 closed forms), numpy-vectorized.

Semantics: /root/reference/src/transform/basic.rs. The engine is a
deliberate superset: the reference can only *construct* a 3857->4326
transformer (its transform() then errors), so tile->geographic math there
works solely via the Mercator fast path; here the inverse Mercator is a
first-class vectorized function, plus an identity transform for
4326<->4326 so geographic TMSs (WGS1984Quad) support tile() natively.
"""

from __future__ import annotations

import math

import numpy as np

from .model import SEMI_MAJOR_METRE, Crs, TransformationUnsupported


def lonlat_to_merc(lon, lat):
    """Forward spherical Mercator, /root/reference/src/transform/basic.rs:50-56.

    x = R * radians(lon); y = R * ln(tan(pi/4 + radians(lat)/2))
    Exact expression tree preserved (pi*0.25 + 0.5*radians(lat)) for
    bit-parity with the reference golden xy(0,0) == (0.0, -7.081154551613622e-10).
    Accepts scalars or numpy arrays.
    """
    if np.ndim(lon) == 0 and np.ndim(lat) == 0:
        # libm scalar path: bit-parity with the Rust build's f64 tan/ln
        # (numpy's SIMD kernels differ by 1 ulp on some inputs — they match
        # the reference's #[cfg(target_os = "macos")] goldens instead).
        x = SEMI_MAJOR_METRE * math.radians(float(lon))
        t = math.tan((math.pi * 0.25) + (0.5 * math.radians(float(lat))))
        # Rust f64 ln() follows IEEE: ln(0) = -inf, ln(<0) = NaN — no
        # panic — and tile() then clamps non-finite coords to 0
        # (tms.rs:446-455 + xy_tile). Python math.log raises instead;
        # reproduce the IEEE result so lat <= -90 stays reference-exact.
        if t > 0.0:
            y = SEMI_MAJOR_METRE * math.log(t)
        elif t == 0.0:
            y = float("-inf")
        else:
            y = float("nan")
        return np.float64(x), np.float64(y)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = SEMI_MAJOR_METRE * np.radians(lon)
    y = SEMI_MAJOR_METRE * np.log(np.tan((math.pi * 0.25) + (0.5 * np.radians(lat))))
    return x, y


def merc_to_lonlat(x, y):
    """Inverse spherical Mercator (engine superset; no reference counterpart
    because BasicTransformer::transform only supports the forward direction,
    /root/reference/src/transform/basic.rs:21-29).

    Scalar inputs go through libm (math.*) for bit-parity with the Rust
    build; array inputs use numpy's vectorized kernels, whose sinh may
    differ from libm by 1 ulp (np.sinh is SIMD-polynomial, libm is not).
    """
    if np.ndim(x) == 0 and np.ndim(y) == 0:
        lon = math.degrees(float(x) / SEMI_MAJOR_METRE)
        lat = math.degrees(math.atan(math.sinh(float(y) / SEMI_MAJOR_METRE)))
        return np.float64(lon), np.float64(lat)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / SEMI_MAJOR_METRE)
    lat = np.degrees(np.arctan(np.sinh(y / SEMI_MAJOR_METRE)))
    return lon, lat


def merc_tile_ul(xtile, ytile, zoom):
    """Upper-left (lon, lat) of a WebMercator tile,
    /root/reference/src/transform/basic.rs:59-65.

    n = 2^z; lon = x/n*360-180; lat = degrees(atan(sinh(pi*(1-2y/n))))
    Scalar path = libm (bit-exact vs reference); array path = numpy
    (<=1 ulp in lat).
    """
    if np.ndim(xtile) == 0 and np.ndim(ytile) == 0 and np.ndim(zoom) == 0:
        n = math.exp2(float(zoom)) if hasattr(math, "exp2") else 2.0 ** float(zoom)
        lon_deg = float(xtile) / n * 360.0 - 180.0
        lat_rad = math.atan(math.sinh(math.pi * (1.0 - 2.0 * float(ytile) / n)))
        return np.float64(lon_deg), np.float64(math.degrees(lat_rad))
    xtile = np.asarray(xtile, dtype=np.float64)
    ytile = np.asarray(ytile, dtype=np.float64)
    zoom = np.asarray(zoom, dtype=np.float64)
    n = np.exp2(zoom)
    lon_deg = xtile / n * 360.0 - 180.0
    lat_rad = np.arctan(np.sinh(math.pi * (1.0 - 2.0 * ytile / n)))
    return lon_deg, np.degrees(lat_rad)


_CONSTRUCTIBLE = {(4326, 3857), (3857, 4326), (3395, 4326), (4326, 3395)}

class Transformer:
    """CRS pair transformer matching BasicTransformer's constructibility
    matrix (/root/reference/src/transform/basic.rs:12-20) plus engine
    extensions: identity (same srid) and inverse Mercator."""

    def __init__(self, from_crs: Crs, to_crs: Crs):
        pair = (from_crs.as_srid(), to_crs.as_srid())
        if pair not in _CONSTRUCTIBLE and pair[0] != pair[1]:
            raise TransformationUnsupported(from_crs, to_crs)
        self.from_crs = from_crs
        self.to_crs = to_crs
        self._pair = pair

    @staticmethod
    def from_crs(from_crs: Crs, to_crs: Crs) -> "Transformer":
        return Transformer(from_crs, to_crs)

    def transform(self, x, y):
        if self._pair == (4326, 3857):
            return lonlat_to_merc(x, y)
        if self._pair == (3857, 4326):
            return merc_to_lonlat(x, y)
        if self._pair[0] == self._pair[1]:
            return (
                np.asarray(x, dtype=np.float64),
                np.asarray(y, dtype=np.float64),
            )
        raise TransformationUnsupported(self.from_crs, self.to_crs)

    def transform_bounds(self, left, bottom, right, top):
        """Corner-wise bounds transform.

        NB: the reference's BasicTransformer pairs (left,top)->(minx,miny)
        and (right,bottom)->(maxx,maxy) (/root/reference/src/transform/
        basic.rs:43-44), which swaps the vertical extremes; that path is
        unreachable in its non-proj build (bbox() errors first) and its
        proj-backed build transforms bounds correctly. The engine implements
        the correct (proj-equivalent) semantics: both transforms here are
        monotonic and axis-aligned, so corner-wise min/max is exact.
        """
        minx, miny = self.transform(left, bottom)
        maxx, maxy = self.transform(right, top)
        return float(minx), float(miny), float(maxx), float(maxy)
