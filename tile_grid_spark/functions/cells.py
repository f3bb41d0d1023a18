"""S2 + hexagonal cell indexing, implemented from published algorithms.

North-rule operators (no reference counterpart; the sandbox has no s2/h3
libraries, so everything here is from-scratch vectorized numpy exposed as
Arrow pandas UDFs — see SURVEY.md §2.C).

S2 (primary, bit-layout compatible with the published S2 scheme):
  lon/lat -> unit sphere XYZ -> cube face (argmax axis) -> (u,v)
  -> quadratic ST transform -> 30-bit (i,j) -> Hilbert position
  -> 64-bit cell id  [face:3][hilbert:2*level][1][trailing 0s]
Parent = standard lsb truncation. Validated by round-trips and the
hierarchy/prefix properties (no oracle library in-sandbox).

HEX (H3-inspired hierarchical hex index): icosahedral-face gnomonic
projection onto axial hex coordinates with aperture-7 resolution steps.
Provides cell assignment res 0..15 and k-rings with exact hex-ring
symmetry (6r cells per ring). NOT bit-compatible with the h3 library —
PERMANENTLY out of scope in-sandbox: published-id parity needs the h3
constant tables verbatim (122-entry baseCellData, 20x3x3x3
faceIjkBaseCells + rotations, 17-digit Dymaxion face orientations,
pentagon offsets), which no in-sandbox source provides; reconstructing
~700 constants from memory would yield ids that LOOK like H3 but don't
interoperate — worse than an honestly-labeled H3-inspired index (full
adjudication: SURVEY.md §2.C). The Spark plumbing is id-scheme-agnostic:
production swaps hex_cell_udf for h3-py's latlng_to_cell unchanged.
Hierarchy and ring properties are property-tested.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# ---------------------------------------------------------------------------
# S2: lon/lat -> leaf cell id (level 30), vectorized
# ---------------------------------------------------------------------------

_SWAP = 1
_INVERT = 2
# kPosToIJ[orientation][pos] = ij  (ij = i*2 + j)
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
# kPosToOrientation[pos]
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT + _SWAP], dtype=np.int64)
# inverse: kIJtoPos[orientation][ij] = pos
_IJ_TO_POS = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        _IJ_TO_POS[_o, _POS_TO_IJ[_o, _p]] = _p

MAX_LEVEL = 30
_MAX_SIZE = 1 << MAX_LEVEL


def lonlat_to_xyz(lon: np.ndarray, lat: np.ndarray):
    phi = np.radians(lat)
    theta = np.radians(lon)
    cosphi = np.cos(phi)
    return cosphi * np.cos(theta), cosphi * np.sin(theta), np.sin(phi)


def xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Cube face + (u,v): face = axis of largest |coord| (+0/+1/+2 for
    positive, +3/+4/+5 for negative) — the published S2 face layout."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= np.maximum(ay, az), 0, np.where(ay >= az, 1, 2)).astype(np.int64)
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f in range(6):
        m = face == f
        if not m.any():
            continue
        if f == 0:
            u[m], v[m] = y[m] / x[m], z[m] / x[m]
        elif f == 1:
            u[m], v[m] = -x[m] / y[m], z[m] / y[m]
        elif f == 2:
            u[m], v[m] = -x[m] / z[m], -y[m] / z[m]
        elif f == 3:
            u[m], v[m] = z[m] / x[m], y[m] / x[m]
        elif f == 4:
            u[m], v[m] = z[m] / y[m], -x[m] / y[m]
        else:
            u[m], v[m] = -y[m] / z[m], -x[m] / z[m]
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (the S2_QUADRATIC_PROJECTION variant).
    Branch args clipped so np.where's eager evaluation never sqrt()s a
    negative."""
    up = np.maximum(u, 0.0)
    un = np.minimum(u, 0.0)
    return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * up), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * un))


def _st_to_uv(s: np.ndarray) -> np.ndarray:
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    )


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(_MAX_SIZE * s), 0, _MAX_SIZE - 1).astype(np.int64)


def face_ij_to_cell_id(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Hilbert-encode (face, i, j) to a leaf (level-30) cell id.

    Per-level loop (30 iterations) carrying a per-point orientation — the
    table-free form of the published FromFaceIJ.
    """
    n = face.shape[0]
    pos = np.zeros(n, dtype=np.uint64)
    orient = (face & np.int64(_SWAP)).astype(np.int64)
    for level in range(MAX_LEVEL - 1, -1, -1):
        bi = (i >> level) & 1
        bj = (j >> level) & 1
        ij = (bi << 1) | bj
        p = _IJ_TO_POS[orient, ij]
        pos = (pos << np.uint64(2)) | p.astype(np.uint64)
        orient = orient ^ _POS_TO_ORIENT[p]
    cell = (face.astype(np.uint64) << np.uint64(61)) | (pos << np.uint64(1)) | np.uint64(1)
    return cell.view(np.int64)


def cell_id_to_face_ij(cell: np.ndarray):
    """Inverse of face_ij_to_cell_id for leaf cells (round-trip tests)."""
    c = cell.view(np.uint64) if cell.dtype == np.int64 else cell.astype(np.uint64)
    face = (c >> np.uint64(61)).astype(np.int64)
    pos = (c >> np.uint64(1)) & np.uint64((1 << 60) - 1)
    n = face.shape[0]
    i = np.zeros(n, dtype=np.int64)
    j = np.zeros(n, dtype=np.int64)
    orient = (face & np.int64(_SWAP)).astype(np.int64)
    for level in range(MAX_LEVEL - 1, -1, -1):
        p = ((pos >> np.uint64(2 * level)) & np.uint64(3)).astype(np.int64)
        ij = _POS_TO_IJ[orient, p]
        i = (i << 1) | (ij >> 1)
        j = (j << 1) | (ij & 1)
        orient = orient ^ _POS_TO_ORIENT[p]
    return face, i, j


def s2_cell_id(lon, lat, level: int = 30) -> np.ndarray:
    """lon/lat arrays -> S2 cell id at `level` (leaf id truncated)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x, y, z = lonlat_to_xyz(lon, lat)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    leaf = face_ij_to_cell_id(face, i, j)
    return s2_parent(leaf, level)


def s2_parent(cell: np.ndarray, level: int) -> np.ndarray:
    """Truncate a leaf/descendant id to `level` (standard lsb arithmetic)."""
    if level >= MAX_LEVEL:
        return cell
    c = cell.view(np.uint64) if isinstance(cell, np.ndarray) else np.asarray(cell, np.uint64)
    new_lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    out = (c & (~(new_lsb - np.uint64(1)))) | new_lsb
    return out.view(np.int64)


def s2_level(cell: np.ndarray) -> np.ndarray:
    """Level from the position of the lowest set bit."""
    c = np.asarray(cell).view(np.uint64)
    lsb = c & (~c + np.uint64(1))
    return (MAX_LEVEL - (np.log2(lsb.astype(np.float64)) / 2.0)).astype(np.int64)


def face_uv_to_xyz(face: np.ndarray, u: np.ndarray, v: np.ndarray):
    """Inverse of xyz_to_face_uv (un-normalized point on the cube face).
    Valid for |u|,|v| slightly beyond 1 — that's how cross-face wrap
    projects an out-of-range cell onto its true neighbor face."""
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f in range(6):
        m = face == f
        if not m.any():
            continue
        if f == 0:
            x[m], y[m], z[m] = 1.0, u[m], v[m]
        elif f == 1:
            x[m], y[m], z[m] = -u[m], 1.0, v[m]
        elif f == 2:
            x[m], y[m], z[m] = -u[m], -v[m], 1.0
        elif f == 3:
            x[m], y[m], z[m] = -1.0, -v[m], -u[m]
        elif f == 4:
            x[m], y[m], z[m] = v[m], -1.0, -u[m]
        else:
            x[m], y[m], z[m] = v[m], u[m], -1.0
    return x, y, z


def _wrap_face_ij(face: int, ii: float, jj: float, level: int):
    """Map a (possibly out-of-range) level-`level` (i, j) on `face` to the
    true (face', i', j') by projecting the cell CENTER through the cube
    (the FromFaceIJWrap approach: st -> uv extends smoothly past the face
    edge, re-derive the face from the 3D point). Cells adjacent across an
    S2 edge share the same st grid, so the re-floored index is exact."""
    step = 1 << (MAX_LEVEL - level)
    sc = np.array([(ii + step * 0.5) / _MAX_SIZE])
    tc = np.array([(jj + step * 0.5) / _MAX_SIZE])
    u = _st_to_uv(sc)
    v = _st_to_uv(tc)
    x, y, z = face_uv_to_xyz(np.array([face], dtype=np.int64), u, v)
    f2, u2, v2 = xyz_to_face_uv(x, y, z)
    i2 = _st_to_ij(_uv_to_st(u2))
    j2 = _st_to_ij(_uv_to_st(v2))
    return int(f2[0]), int(i2[0]), int(j2[0])


def s2_ring(cell: np.ndarray, level: int, r: int, wrap: bool = True) -> list[np.ndarray]:
    """k-ring via (face, i, j) arithmetic. With wrap=True (default), ring
    cells spilling over a cube edge project onto the ADJACENT FACE
    (published FromFaceIJWrap scheme) instead of being dropped, so an
    S2-bucketed join no longer loses neighbors at face boundaries; cube
    corners naturally dedupe (a corner has 3 diagonal neighbors, not 4).
    wrap=False preserves the old clamp behavior.

    Returns the list of unique ring cells per input cell (center
    excluded)."""
    face, i, j = cell_id_to_face_ij(np.asarray(cell))
    step = 1 << (MAX_LEVEL - level)
    out = []
    for n in range(face.shape[0]):
        ring = []  # (face, i, j) triples, truncated to the level grid
        for dx in range(-r, r + 1):
            for dy in range(-r, r + 1):
                if max(abs(dx), abs(dy)) != r:
                    continue
                ii = i[n] + dx * step
                jj = j[n] + dy * step
                if 0 <= ii < _MAX_SIZE and 0 <= jj < _MAX_SIZE:
                    ring.append((int(face[n]), int(ii), int(jj)))
                elif wrap:
                    ring.append(_wrap_face_ij(int(face[n]), ii, jj, level))
        if not ring:
            out.append(np.empty(0, dtype=np.int64))
            continue
        rf = np.array([a for a, _, _ in ring], dtype=np.int64)
        ri = np.array([b for _, b, _ in ring], dtype=np.int64)
        rj = np.array([c for _, _, c in ring], dtype=np.int64)
        cells = s2_parent(face_ij_to_cell_id(rf, ri, rj), level)
        center = s2_parent(np.asarray(cell)[n : n + 1], level)[0]
        cells = np.unique(cells[cells != center])
        out.append(cells)
    return out


def s2_ring_same_face(cell: np.ndarray, level: int, r: int) -> list[np.ndarray]:
    """k-ring clamped at cube edges (legacy behavior); see s2_ring for the
    cross-face wrap variant."""
    return s2_ring(cell, level, r, wrap=False)


def s2_cell_udf(level: int):
    """pandas UDF: (lon, lat) -> s2 cell id at `level`."""

    @F.pandas_udf(LongType())
    def f(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(s2_cell_id(lon.to_numpy(), lat.to_numpy(), level))

    return f


def s2_face_ij_udf(level: int = MAX_LEVEL):
    """pandas UDF: (lon, lat) -> struct(face, i, j) at `level`.

    The SQL-EXPRESSIBLE half of the S2 pipeline (sphere -> cube face ->
    quadratic st -> ij is trig + CASE + floor); only the Hilbert encode
    is not. Emitting these alongside the cell id lets a DuckDB oracle
    hash-check the projection math that feeds every S2 id."""

    shift = MAX_LEVEL - level  # leaf ij >> shift == floor(2^level * st)

    @F.pandas_udf("face INT, i BIGINT, j BIGINT")
    def f(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        x, y, z = lonlat_to_xyz(lon.to_numpy(), lat.to_numpy())
        face, u, v = xyz_to_face_uv(x, y, z)
        i = _st_to_ij(_uv_to_st(u)) >> shift
        j = _st_to_ij(_uv_to_st(v)) >> shift
        return pd.DataFrame({"face": face.astype("int32"), "i": i, "j": j})

    return f


# ---------------------------------------------------------------------------
# HEX: H3-inspired hierarchical hexagon index
# ---------------------------------------------------------------------------
# Aperture-7 axial coordinates on a gnomonic plane per icosahedron face.
# id layout: [res:4][face:5][q+2^26:27 zigzag... ] packed as
#   id = res << 59 | face << 54 | (q & M27) << 27 | (r & M27)
# with q, r 27-bit two's-complement fields.

_PHI = (1 + math.sqrt(5)) / 2

# 20 icosahedron face centers (unit vectors), generated deterministically
def _ico_faces():
    v = []
    for a in (-1, 1):
        for b in (-1, 1):
            v += [(0, a, b * _PHI), (a, b * _PHI, 0), (b * _PHI, 0, a)]
    verts = np.array(v, dtype=np.float64)
    verts /= np.linalg.norm(verts, axis=1, keepdims=True)
    # faces = triples of mutually-nearest vertices; centers = normalized sums
    from itertools import combinations

    centers = []
    d2 = 4.0 / (_PHI * _PHI * 5) * 5  # edge length^2 of unit icosahedron ~ 1.0514622
    edge2 = np.min(
        [np.sum((verts[0] - verts[k]) ** 2) for k in range(1, 12)]
    )
    for a, b, c in combinations(range(12), 3):
        if (
            abs(np.sum((verts[a] - verts[b]) ** 2) - edge2) < 1e-9
            and abs(np.sum((verts[a] - verts[c]) ** 2) - edge2) < 1e-9
            and abs(np.sum((verts[b] - verts[c]) ** 2) - edge2) < 1e-9
        ):
            ctr = verts[a] + verts[b] + verts[c]
            centers.append(ctr / np.linalg.norm(ctr))
    assert len(centers) == 20
    return np.array(centers)


_FACE_CENTERS = _ico_faces()
# per-face orthonormal basis for the gnomonic plane
_FACE_U = np.zeros_like(_FACE_CENTERS)
_FACE_V = np.zeros_like(_FACE_CENTERS)
for _k, _c in enumerate(_FACE_CENTERS):
    ref = np.array([0.0, 0.0, 1.0]) if abs(_c[2]) < 0.9 else np.array([1.0, 0.0, 0.0])
    uu = np.cross(_c, ref)
    uu /= np.linalg.norm(uu)
    _FACE_U[_k] = uu
    _FACE_V[_k] = np.cross(_c, uu)

_RES0_SCALE = 2.0  # hexes per face half-width at res 0
_SQRT7 = math.sqrt(7.0)
_M27 = (1 << 27) - 1


def hex_cell_id(lon, lat, res: int) -> np.ndarray:
    """lon/lat -> hex cell id at resolution res (0..15)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x, y, z = lonlat_to_xyz(lon, lat)
    pts = np.stack([x, y, z], axis=1)
    dots = pts @ _FACE_CENTERS.T
    face = np.argmax(dots, axis=1).astype(np.int64)
    c = _FACE_CENTERS[face]
    d = np.einsum("ij,ij->i", pts, c)
    proj = pts / d[:, None]  # gnomonic projection onto the face plane
    rel = proj - c
    px = np.einsum("ij,ij->i", rel, _FACE_U[face])
    py = np.einsum("ij,ij->i", rel, _FACE_V[face])
    scale = _RES0_SCALE * (_SQRT7**res)
    # axial hex coords (pointy-top): q = (sqrt(3)/3 x - 1/3 y)/s, r = 2/3 y / s
    size = 1.0 / scale
    qf = (math.sqrt(3.0) / 3.0 * px - py / 3.0) / size
    rf = (2.0 / 3.0 * py) / size
    q, r = _hex_round(qf, rf)
    packed = (
        (np.int64(res) << np.int64(59))
        | (face << np.int64(54))
        | ((q & _M27) << np.int64(27))
        | (r & _M27)
    )
    return packed


def _hex_round(qf: np.ndarray, rf: np.ndarray):
    """Cube-round fractional axial coords to the containing hex."""
    xf = qf
    zf = rf
    yf = -xf - zf
    rx = np.round(xf)
    ry = np.round(yf)
    rz = np.round(zf)
    dx = np.abs(rx - xf)
    dy = np.abs(ry - yf)
    dz = np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def hex_unpack(cell: np.ndarray):
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> np.int64(59)) & np.int64(0xF)
    face = (cell >> np.int64(54)) & np.int64(0x1F)
    q = (cell >> np.int64(27)) & _M27
    r = cell & _M27
    q = np.where(q >= (1 << 26), q - (1 << 27), q)
    r = np.where(r >= (1 << 26), r - (1 << 27), r)
    return res, face, q, r


def hex_k_ring_offsets(r: int) -> list[tuple[int, int]]:
    """Axial offsets of ring r (exactly 6r cells for r>0)."""
    if r == 0:
        return [(0, 0)]
    out = []
    q, s = -r, 0  # start at one corner; walk the 6 ring directions
    dirs = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]
    cur = (-r, r)
    for d in dirs:
        for _ in range(r):
            out.append(cur)
            cur = (cur[0] + d[0], cur[1] + d[1])
    return out


def hex_cell_udf(res: int):
    @F.pandas_udf(LongType())
    def f(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(hex_cell_id(lon.to_numpy(), lat.to_numpy(), res))

    return f


# ---------------------------------------------------------------------------
# Geohash (public-domain algorithm: alternating lon/lat bisection, base32)
# ---------------------------------------------------------------------------

GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lon, lat, precision: int = 9) -> np.ndarray:
    """Vectorized geohash strings at `precision` chars (<= 12).

    Quantize-then-interleave form of the classic bisection algorithm:
    lon gets ceil(5p/2) bits, lat floor(5p/2); bit i of the 5p-bit code
    (MSB first) is a lon bit when i is even, else lat. Pure numpy —
    no per-row Python.
    """
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in 1..12")
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    nbits = 5 * precision
    nb_lon = (nbits + 1) // 2
    nb_lat = nbits // 2
    qlon = np.clip(
        np.floor((lon + 180.0) / 360.0 * (1 << nb_lon)), 0, (1 << nb_lon) - 1
    ).astype(np.uint64)
    qlat = np.clip(
        np.floor((lat + 90.0) / 180.0 * (1 << nb_lat)), 0, (1 << nb_lat) - 1
    ).astype(np.uint64)

    code = np.zeros(lon.shape, dtype=np.uint64)
    for i in range(nbits):  # loop over BITS (<=60), not rows
        if i % 2 == 0:  # lon bit, MSB first
            bit = (qlon >> np.uint64(nb_lon - 1 - i // 2)) & np.uint64(1)
        else:
            bit = (qlat >> np.uint64(nb_lat - 1 - i // 2)) & np.uint64(1)
        code = (code << np.uint64(1)) | bit
    # split into 5-bit chars
    chars = np.empty((precision,) + lon.shape, dtype="<U1")
    b32 = np.array(list(GEOHASH_B32))
    for j in range(precision):
        shift = np.uint64(5 * (precision - 1 - j))
        chars[j] = b32[((code >> shift) & np.uint64(31)).astype(np.int64)]
    out = chars[0]
    for j in range(1, precision):
        out = np.char.add(out, chars[j])
    return out


def geohash_decode_bbox(gh: str):
    """(minlon, minlat, maxlon, maxlat) of one geohash cell (scalar,
    test oracle use)."""
    lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
    even = True
    for ch in gh:
        v = GEOHASH_B32.index(ch)
        for b in (16, 8, 4, 2, 1):
            if even:
                mid = (lo_lon + hi_lon) / 2
                if v & b:
                    lo_lon = mid
                else:
                    hi_lon = mid
            else:
                mid = (lo_lat + hi_lat) / 2
                if v & b:
                    lo_lat = mid
                else:
                    hi_lat = mid
            even = not even
    return lo_lon, lo_lat, hi_lon, hi_lat


def geohash_udf(precision: int = 9):
    @F.pandas_udf("string")
    def f(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(geohash_encode(lon.to_numpy(), lat.to_numpy(), precision))

    return f


def geohash_code_col(lon, lat, precision: int = 9):
    """Native-Column geohash integer code (the 5p-bit interleave before
    base32). Pure shifts/adds generated at plan-build time — stays in
    whole-stage codegen; also trivially mirrored in ANSI SQL for the
    DuckDB oracle."""
    if not 1 <= precision <= 12:
        raise ValueError("precision must be in 1..12")
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    nbits = 5 * precision
    nb_lon = (nbits + 1) // 2
    nb_lat = nbits // 2
    qlon = _geohash_q_col(lon, 180.0, 360.0, nb_lon)
    qlat = _geohash_q_col(lat, 90.0, 180.0, nb_lat)
    code = F.lit(0).cast("long")
    for i in range(nbits):
        src, s = (qlon, nb_lon - 1 - i // 2) if i % 2 == 0 else (qlat, nb_lat - 1 - i // 2)
        bit = F.shiftright(src, s).bitwiseAND(F.lit(1))
        code = code + bit * F.lit(1 << (nbits - 1 - i))
    return code


def geohash_str_from_code(code, precision: int = 9):
    """Base32 string from a (materialized) geohash code column. Take a
    real column, not the composed expression: Catalyst re-evaluates a
    composed code expression once per character otherwise."""
    chars = [
        F.substring(
            F.lit(GEOHASH_B32),
            (F.shiftright(code, 5 * (precision - 1 - j)).bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"),
            1,
        )
        for j in range(precision)
    ]
    return F.concat(*chars)


def _geohash_dims(precision: int) -> tuple[int, int, int]:
    nbits = 5 * precision
    return nbits, (nbits + 1) // 2, nbits // 2


def geohash_cell_cols(code, precision: int = 9) -> tuple[F.Column, F.Column]:
    """De-interleave a geohash code column into integer cell indices
    (qlon, qlat) — the inverse of geohash_code_col's interleave, still
    pure shifts/adds in codegen. Pass a MATERIALIZED code column (same
    Catalyst re-evaluation rule as geohash_str_from_code)."""
    nbits, nb_lon, nb_lat = _geohash_dims(precision)
    code = F.col(code) if isinstance(code, str) else code
    qlon = F.lit(0).cast("long")
    qlat = F.lit(0).cast("long")
    for i in range(nbits):
        bit = F.shiftright(code, nbits - 1 - i).bitwiseAND(F.lit(1))
        if i % 2 == 0:
            qlon = qlon + bit * F.lit(1 << (nb_lon - 1 - i // 2))
        else:
            qlat = qlat + bit * F.lit(1 << (nb_lat - 1 - i // 2))
    return qlon, qlat


def geohash_interleave_cols(qlon, qlat, precision: int = 9) -> F.Column:
    """Interleave integer cell indices back into a geohash code column
    (encode counterpart of geohash_cell_cols, used by neighbors)."""
    nbits, nb_lon, nb_lat = _geohash_dims(precision)
    code = F.lit(0).cast("long")
    for i in range(nbits):
        src, s = (qlon, nb_lon - 1 - i // 2) if i % 2 == 0 else (qlat, nb_lat - 1 - i // 2)
        bit = F.shiftright(src, s).bitwiseAND(F.lit(1))
        code = code + bit * F.lit(1 << (nbits - 1 - i))
    return code


def geohash_bounds_cols(code, precision: int = 9) -> dict[str, F.Column]:
    """Decode a geohash code column to its cell bbox (native Columns):
    {gh_minlon, gh_minlat, gh_maxlon, gh_maxlat}."""
    nbits, nb_lon, nb_lat = _geohash_dims(precision)
    qlon, qlat = geohash_cell_cols(code, precision)
    w = 360.0 / float(1 << nb_lon)
    h = 180.0 / float(1 << nb_lat)
    minlon = qlon * F.lit(w) - F.lit(180.0)
    minlat = qlat * F.lit(h) - F.lit(90.0)
    return {
        "gh_minlon": minlon,
        "gh_minlat": minlat,
        "gh_maxlon": minlon + F.lit(w),
        "gh_maxlat": minlat + F.lit(h),
    }


def _geohash_q_col(coord, offset: float, span: float, nb: int) -> F.Column:
    """Quantized cell index of a coordinate (shared by geohash_code_col
    and the cover): clip(floor((x + offset)/span * 2^nb), 0, 2^nb - 1)."""
    coord = F.col(coord) if isinstance(coord, str) else coord
    return F.least(
        F.greatest(
            F.floor((coord + F.lit(offset)) / F.lit(span) * F.lit(float(1 << nb))),
            F.lit(0),
        ),
        F.lit((1 << nb) - 1),
    ).cast("long")


def geohash_cover_exploded(
    df,
    precision: int = 3,
    west: str = "minx",
    south: str = "miny",
    east: str = "maxx",
    north: str = "maxy",
    out: str = "gh_code",
):
    """All geohash cells of `precision` whose area a geographic bbox
    touches — the geohash twin of the tile cover (tms.rs:706-746) on
    the quantize-then-interleave lattice: the bbox corners
    floor-quantize to inclusive (qlon, qlat) index ranges, two
    explode(sequence(...)) fan-outs enumerate the lattice rectangle,
    and the interleave re-encodes each cell. Native Columns end to end;
    output adds (qlon, qlat, `out`) per covered cell.

    Edge-touch is inclusive on all sides (floor of a boundary
    coordinate lands in the adjacent cell, matching the inset-free
    tile-cover semantics). Caller guarantees west <= east — split
    antimeridian-wrap boxes upstream exactly like
    cover_bbox_geographic; coordinates outside the domain clamp to the
    edge cells (geohash has no out-of-domain area: the lattice spans
    the full globe)."""
    nbits, nb_lon, nb_lat = _geohash_dims(precision)
    qw = _geohash_q_col(west, 180.0, 360.0, nb_lon)
    qe = _geohash_q_col(east, 180.0, 360.0, nb_lon)
    qs = _geohash_q_col(south, 90.0, 180.0, nb_lat)
    qn = _geohash_q_col(north, 90.0, 180.0, nb_lat)
    # least/greatest: a malformed row (west > east) must not feed a
    # DESCENDING sequence (Spark counts down when start > stop)
    covered = (
        df.withColumn("_qlo", F.least(qw, qe))
        .withColumn("_qhi", F.greatest(qw, qe))
        .withColumn("_alo", F.least(qs, qn))
        .withColumn("_ahi", F.greatest(qs, qn))
        .withColumn("qlon", F.explode(F.sequence(F.col("_qlo"), F.col("_qhi"))))
        .withColumn("qlat", F.explode(F.sequence(F.col("_alo"), F.col("_ahi"))))
        .drop("_qlo", "_qhi", "_alo", "_ahi")
    )
    return covered.withColumn(
        out, geohash_interleave_cols(F.col("qlon"), F.col("qlat"), precision)
    )


def geohash_neighbors_exploded(
    df, code: str = "gh_code", precision: int = 9, out: str = "neighbor_code"
):
    """Explode each row to its (up to 8) neighbor geohash codes.
    Longitude WRAPS modulo the cell grid (geohash cells are cyclic in
    lon, like the antimeridian-aware tile rings); latitude clamps at the
    poles (rows outside the grid are dropped). All native Columns."""
    nbits, nb_lon, nb_lat = _geohash_dims(precision)
    qlon, qlat = geohash_cell_cols(F.col(code), precision)
    e = (
        df.withColumn("_qlon", qlon)
        .withColumn("_qlat", qlat)
        .withColumn("_dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("_dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .filter(~((F.col("_dx") == 0) & (F.col("_dy") == 0)))
        .withColumn("_nlon", F.pmod(F.col("_qlon") + F.col("_dx"), F.lit(1 << nb_lon)))
        .withColumn("_nlat", F.col("_qlat") + F.col("_dy"))
        .filter((F.col("_nlat") >= 0) & (F.col("_nlat") <= F.lit((1 << nb_lat) - 1)))
    )
    return e.withColumn(
        out, geohash_interleave_cols(F.col("_nlon"), F.col("_nlat"), precision)
    ).drop("_qlon", "_qlat", "_dx", "_dy", "_nlon", "_nlat")
