"""Density-based spatial clustering (DBSCAN) over lon/lat point tables.

The classic geospatial clustering question over the image+caption table
("which photos form dense geographic clusters, which are isolated
noise?") — Ester/Kriegel/Sander/Xu, KDD 1996 — composed from two
operators this engine already ships at scale:

  eps-neighborhoods  = operators/knn.radius_join (3x3 tile-ring explode
                       manufactures the equi-key a distance predicate
                       lacks — candidate volume tracks LOCAL density,
                       never |N|^2; Mercator-plane meters, antimeridian
                       wrapped, auto-picked zoom)
  core connectivity  = operators/cluster.connected_components
                       (large-star/small-star with partition-local
                       pre-contraction + tiered frontier solve)

Deterministic variant: classic DBSCAN assigns a BORDER point (non-core
within eps of a core) to whichever cluster's core reaches it first —
scan-order dependent, so two runs can disagree. Here a border point
joins the MINIMUM cluster label among its eps-neighboring cores:
scan-order free, partition invariant, and relationally checkable (the
`dbscan` entry query replays the whole pipeline in SQL). Core labels
are unaffected by the rule (cores of one density-connected region are
in one component regardless of order — only border TIE-BREAKING is
underspecified in the paper).

Scale shape (the 100-TB plan):
- ONE radius_join builds the eps-neighbor pair list; it is
  localCheckpointed because three downstream consumers (degree counts,
  core-core edges, border assignment) would otherwise each replay the
  ring join (the containment_pairs plan-cut rule).
- Degree count is one exchange on the point id with map-side partial
  counts; core flags join back by id (AQE handles dense-tile skew the
  same way radius_join's own verify join does).
- Core-core edges are a filter on the checkpointed pairs — no second
  spatial join; components shuffle bigint pairs only.
- Border assignment is one groupBy-min over the core-neighbor subset
  of the same pairs frame.
- min_pts uses the PAPER's convention: |N_eps(p)| counts p itself.

Reference semantics anchor: the eps-neighborhood metric is exactly
radius_join's (generalizing /root/reference/src/tms.rs:951-971
neighbors() to distance predicates); clustering itself has no
reference counterpart — it is part of the engine's training-pipeline
surface (SURVEY.md §2.D).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.tms import Tms
from .cluster import connected_components
from .knn import radius_join

__all__ = ["dbscan", "st_dbscan"]


def dbscan(
    points: DataFrame,
    tms: Tms,
    eps: float,
    min_pts: int,
    id_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    zoom: int | None = None,
) -> DataFrame:
    """Cluster `points` (id_col, lon, lat) with DBSCAN(eps meters,
    min_pts). Returns (id_col, cluster, role):

      role='core'    |N_eps(p)| >= min_pts (count includes p);
                     cluster = MIN point id of the density-connected
                     core component (the CC representative convention).
      role='border'  non-core with >= 1 core eps-neighbor; cluster =
                     MIN cluster label among those cores (deterministic
                     tie-break, see module docstring).
      role='noise'   neither; cluster = -1.

    Point ids must be integral and unique (bigint component math, same
    contract as connected_components pre-contraction).
    """
    if min_pts < 1:
        raise ValueError(f"dbscan: min_pts must be >= 1, got {min_pts}")
    pts = points.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(lon).alias("lon"),
        F.col(lat).alias("lat"),
    )
    a = pts.select(
        F.col(id_col).alias("_ida"), "lon", "lat"
    )
    b = pts.select(
        F.col(id_col).alias("_idb"), "lon", "lat"
    )
    pairs = (
        radius_join(
            a, b, tms, radius=eps, left_id="_ida", right_id="_idb", zoom=zoom
        )
        .filter(F.col("_ida") != F.col("_idb"))
        .select("_ida", "_idb")
        .localCheckpoint()  # 3 consumers; never replay the ring join
    )
    return _label_from_pairs(pts.select(id_col), pairs, min_pts, id_col)


def st_dbscan(
    points: DataFrame,
    tms: Tms,
    eps_space: float,
    eps_time: int,
    min_pts: int,
    id_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    t_col: str = "t",
    zoom: int | None = None,
) -> DataFrame:
    """Spatio-temporal DBSCAN (Birant & Kut 2007, the common single-
    threshold variant): the eps-neighborhood requires BOTH distance <=
    eps_space Mercator meters AND |t_a - t_b| <= eps_time (t integral,
    typically epoch seconds — integer compares keep the boundary
    engine-exact). Same deterministic roles/labels as dbscan().

    Scale shape: the SPATIAL predicate prunes first (the radius_join
    ring equi-join — candidate volume tracks local density), then two
    bigint-key joins attach each endpoint's t and the time filter cuts
    the pair list before it is checkpointed for the three labeling
    consumers. At extreme temporal density flip the composition (time-
    bucket first) — this variant is the spatially-selective one the
    image+caption corpus shape wants."""
    if min_pts < 1:
        raise ValueError(f"st_dbscan: min_pts must be >= 1, got {min_pts}")
    if eps_time < 0:
        raise ValueError(f"st_dbscan: eps_time must be >= 0, got {eps_time}")
    pts = points.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(lon).alias("lon"),
        F.col(lat).alias("lat"),
        F.col(t_col).cast("long").alias("_t"),
    )
    a = pts.select(F.col(id_col).alias("_ida"), "lon", "lat")
    b = pts.select(F.col(id_col).alias("_idb"), "lon", "lat")
    ta = pts.select(F.col(id_col).alias("_tka"), F.col("_t").alias("_ta"))
    tb = pts.select(F.col(id_col).alias("_tkb"), F.col("_t").alias("_tb"))
    sp = radius_join(
        a, b, tms, radius=eps_space, left_id="_ida", right_id="_idb", zoom=zoom
    ).filter(F.col("_ida") != F.col("_idb"))
    pairs = (
        sp.join(ta, sp["_ida"] == ta["_tka"])
        .join(tb, sp["_idb"] == tb["_tkb"])
        .filter(F.abs(F.col("_ta") - F.col("_tb")) <= F.lit(int(eps_time)))
        .select("_ida", "_idb")
        .localCheckpoint()  # 3 consumers; never replay join+filter
    )
    return _label_from_pairs(pts.select(id_col), pairs, min_pts, id_col)


def _label_from_pairs(
    ids: DataFrame,
    pairs: DataFrame,
    min_pts: int,
    id_col: str,
) -> DataFrame:
    """Shared DBSCAN labeling over a checkpointed symmetric neighbor
    pair list (_ida, _idb): degree-threshold cores, CC over core-core
    edges, MIN-label borders, -1 noise. `ids` is the one-column frame
    of every point id (absent-from-pairs ids have zero neighbors).

    Assembly is ONE pass over the point-id frame (flags LEFT JOIN
    component labels LEFT JOIN border mins -> CASE), not the previous
    core/border/noise three-branch union whose noise anti-join replayed
    the border subtree a second time. Isolated cores (no core within
    eps) coalesce to their own id instead of riding an extra
    anti-join through connected_components(nodes=...). The point-bounded
    join sides are deliberately NOT broadcast-hinted: measured at bench
    scale (60k pts / 1.2M pairs, local[32]) the 7 serialized driver-side
    broadcast builds cost more than the AQE-planned shuffled joins they
    replace (6.6-11.0s vs 3.2-3.3s end to end); AQE still converts the
    genuinely small sides to broadcast at runtime from exact sizes."""
    pts = ids

    # |N_eps(p)| - 1 per point; absent ids have zero neighbors
    deg = pairs.groupBy("_ida").agg(F.count(F.lit(1)).alias("_nnb"))
    flags = (
        pts.select(id_col)
        .join(deg, pts[id_col] == deg["_ida"], "left")
        .select(
            id_col,
            (F.coalesce("_nnb", F.lit(0)) + 1 >= min_pts).alias("_core"),
        )
        .localCheckpoint()  # consumed 3x; each replay = pairs agg + join
    )

    fa = flags.select(F.col(id_col).alias("_fa"), F.col("_core").alias("_ca"))
    fb = flags.select(F.col(id_col).alias("_fb"), F.col("_core").alias("_cb"))
    marked = (
        pairs.join(fa, pairs["_ida"] == fa["_fa"])
        .join(fb, pairs["_idb"] == fb["_fb"])
        .select("_ida", "_idb", "_ca", "_cb")
    )
    core_edges = marked.filter(
        F.col("_ca") & F.col("_cb") & (F.col("_ida") < F.col("_idb"))
    ).select("_ida", "_idb")
    # no nodes=: isolated cores are handled by the coalesce below, so
    # the CC-internal isolated-vertex anti-join never runs
    comp = connected_components(core_edges, src="_ida", dst="_idb")
    cm = comp.select(F.col("node").alias("_cn"), F.col("component").alias("_cc"))

    # border candidates: non-core left endpoint, core right endpoint ->
    # min effective label of the core (its component min, or itself
    # when it is an isolated core absent from comp)
    bmin = (
        marked.filter(~F.col("_ca") & F.col("_cb"))
        .join(cm, F.col("_idb") == cm["_cn"], "left")
        .groupBy("_ida")
        .agg(F.min(F.coalesce(F.col("_cc"), F.col("_idb"))).alias("_bc"))
    )
    cj = cm.withColumnRenamed("_cn", "_jn")
    out = (
        flags.join(cj, flags[id_col] == cj["_jn"], "left")
        .join(bmin, flags[id_col] == bmin["_ida"], "left")
        .select(
            id_col,
            F.when(F.col("_core"), F.coalesce(F.col("_cc"), flags[id_col]))
            .when(F.col("_bc").isNotNull(), F.col("_bc"))
            .otherwise(F.lit(-1).cast("long"))
            .alias("cluster"),
            F.when(F.col("_core"), F.lit("core"))
            .when(F.col("_bc").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )
    return out
