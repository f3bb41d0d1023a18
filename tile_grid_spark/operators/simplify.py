"""Polyline simplification: Douglas-Peucker over keyed trajectories.

The natural companion of operators/vector_tiles.encode_path_tiles: a
tile served at z6 does not need vertices that deviate less than a
pixel from the chord, so producers simplify per zoom before encoding.
The reference addresses tiles only (/root/reference/src/tms.rs); the
algorithm is the published Ramer-Douglas-Peucker (1973), re-expressed
for the engine as ONE hash exchange on the trajectory key + an
Arrow-batched per-trajectory kernel.

Scale shape: trajectories are the partition key and individually fit
an executor by construction (a 10^6-vertex track is ~16 MB of doubles);
`max_vertices` raises on pathological keys instead of OOMing a task.
The kernel is the ITERATIVE stack formulation (no Python recursion
limits), with the distance scan vectorized in numpy per segment.

Oracle discipline: the perpendicular-distance formula is written in
EXACTLY the operand order of the SQL oracle's recursive-CTE replay —
abs((bx-ax)*(ay-py) - (ax-px)*(by-ay)) / sqrt((bx-ax)^2 + (by-ay)^2)
with a degenerate-chord fallback to point distance, strict `> tol`
splits, and argmax ties broken by the LOWEST vertex index (np.argmax
keeps the first maximum; the oracle orders by d DESC, seq ASC) — so
kept-vertex sets are bit-for-bit comparable, doubles and all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..plans.grouped import batched_group_map


def dp_keep_mask(xs: np.ndarray, ys: np.ndarray, tol: float) -> np.ndarray:
    """Boolean keep-mask of the Douglas-Peucker simplification of an
    ORDERED polyline. Endpoints are always kept; an interior vertex is
    kept iff some refinement segment's farthest point is it and its
    distance exceeds `tol` (strict)."""
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[n - 1] = True
    if n <= 2:
        return keep
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        ax, ay = xs[i0], ys[i0]
        bx, by = xs[i1], ys[i1]
        px = xs[i0 + 1 : i1]
        py = ys[i0 + 1 : i1]
        len2 = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
        if len2 == 0.0:
            d = np.sqrt((px - ax) * (px - ax) + (py - ay) * (py - ay))
        else:
            d = np.abs((bx - ax) * (ay - py) - (ax - px) * (by - ay)) / np.sqrt(len2)
        j = int(np.argmax(d))  # first maximum = lowest index on ties
        if d[j] > tol:
            sp = i0 + 1 + j
            keep[sp] = True
            stack.append((i0, sp))
            stack.append((sp, i1))
    return keep


def simplify_paths(
    points: DataFrame,
    tolerance: float,
    id_col: str = "tid",
    order_col: str = "seq",
    x: str = "x",
    y: str = "y",
    max_vertices: int = 2_000_000,
) -> DataFrame:
    """(id, order, x, y) -> the Douglas-Peucker-kept subset of each
    trajectory's vertices, same columns. One hash exchange on `id_col`
    + a partition sort; vertex order inside a trajectory is
    re-established by `order_col`, so upstream partitioning does not
    matter.

    Kernel shape: the batched group kernel
    (plans/grouped.batched_group_map) over (id, order)-sorted
    partitions, MANY trajectories per Arrow batch — NOT a per-group
    applyInPandas: with realistic fleets (millions of short tracks) the
    per-group Arrow round trip dominates the actual RDP math (measured
    ~2.5x on the 2000x200 bench)."""
    if tolerance < 0:
        raise ValueError(f"tolerance must be >= 0, got {tolerance}")
    cols = [id_col, order_col, x, y]

    def simplify(g: pd.DataFrame) -> pd.DataFrame:
        if len(g) > max_vertices:
            raise ValueError(
                f"trajectory {g[id_col].iloc[0]!r} has {len(g)} vertices "
                f"> max_vertices={max_vertices} — pre-decimate it"
            )
        keep = dp_keep_mask(
            g[x].to_numpy(dtype=np.float64),
            g[y].to_numpy(dtype=np.float64),
            tolerance,
        )
        return g.loc[keep, cols]

    rows = points.select(*cols)
    return batched_group_map(rows, [id_col], simplify, rows.schema, order=(order_col,))
