"""Distributed connected components — candidate pairs -> dedup clusters.

Turning near-dup candidate PAIRS (the output of minhash_lsh_pairs /
simhash_near_pairs / hamming_near_pairs / embedding_near_pairs) into
duplicate CLUSTERS with one representative per component is the final
stage of a web-scale dedup pipeline: transitive closure, "keep the
minimum id per component".

At 10^12 rows the edge list fits nowhere central and components can be
huge (boilerplate near-dup blobs), so this is the alternating
large-star / small-star algorithm (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii — "Connected Components in MapReduce and
Beyond", ACM SoCC 2014): O(log^2 n) rounds w.h.p., each round two
groupBy-min shuffles over the edge list and nothing else — no
driver-side graph, no per-task state beyond a grouped min.

Ids are integral or UTF8_BINARY STRING, and both take one path
(partition-local pre-contraction, then three solve tiers — an empty
cross-partition frontier is the answer; a frontier within
FRONTIER_MAX_NODES nodes and edges is solved by a driver union-find;
else global star rounds, at most MAX_STAR_ROUNDS, plus a distributed
star-forest guard): numpy's code-point str order is Spark's
UTF8_BINARY order.

Scale notes:
- Each round shuffles (node, neighbor) id pairs only; `distinct`
  between rounds keeps the edge multiset from ballooning (star steps
  emit duplicates when several neighbors map to the same min — measured:
  skipping the per-round distinct OOMs a 1M-node chain graph before
  convergence; it is load-bearing, not a polish).
- Skew: a huge star component concentrates on its min-id root node.
  large-star is exactly the paper's fix — high-degree hubs hand their
  GREATER neighbors to the component min without routing everything
  through one reducer chain. Each star step is window-shaped: ONE
  edge-list exchange (measured 1.8x faster end to end than a groupBy-min
  + join-back shape — star rounds are pure shuffle, exchanges are the
  cost), at the price of sorting a node's whole adjacency into one task.
- Lineage: each round localCheckpoints the edge set (iterative plans
  otherwise nest and re-execute; same gotcha as knn ring escalation).
- Convergence test is a checksum (count + sum of xxhash64 over
  canonical edges) that rides the round's OWN checkpoint action via
  DataFrame.observe — zero extra jobs per round, not a subtract/anti
  join and not a second pass over the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType
from pyspark.sql.window import Window

MAX_STAR_ROUNDS = 30  # the bound is O(log^2 n) w.h.p.; 30 covers any corpus
FRONTIER_MAX_NODES = 2_000_000  # driver union-find cap: frontier nodes and edges


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected canonical form: (min, max), loops dropped, distinct."""
    return (
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Attach every strictly-greater neighbor of u to min(N(u) + {u}),
    with the min as a whole-partition window min — ONE edge-list
    exchange per step instead of a groupBy + join-back two (measured
    1.8x on the 1M-node bench graph; a star round is nothing but
    shuffles, so exchanges ARE the cost). Trade-off: a node's full
    adjacency sorts into one task, so per-node degree must fit a task
    (~10^8 rows) — true for banded dedup graphs (candidate generation
    caps bucket sizes upstream) and after round one (large-star
    flattens hubs)."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    m = F.least(F.col("u"), F.min("v").over(w))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Attach every lesser-or-equal neighbor of u (and u) to their min.
    One ordered window computes both the partition min (full frame) and
    rn==1 (the per-u emission of (u, min)), so the whole step is one
    exchange + one sort; the two output families leave via a 2-element
    explode instead of a union of two reads (a union would re-shuffle
    the frame twice)."""
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    ws = Window.partitionBy("u").orderBy("v")
    full = ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    st = o.select(
        "u",
        "v",
        F.min("v").over(full).alias("m"),
        F.row_number().over(ws).alias("rn"),
    )
    pairs = F.array(
        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
        F.when(
            F.col("rn") == 1, F.struct(F.col("u").alias("a"), F.col("m").alias("b"))
        ),
    )
    return (
        st.select(F.explode(pairs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
    )


def _uf_star_arrays(u, v):
    """Vectorized union-find over integral or object-str id arrays:
    min-hooking + pointer jumping over factorized ids (np.minimum.at
    resolves concurrent hooks; ids come back from np.unique SORTED — str
    by code point, Spark's UTF8_BINARY order — so index order == id
    order). Returns (roots, children) — one canonical (root=component
    min) < child edge per non-root node."""
    import numpy as np

    ids, codes = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = codes[: len(u)], codes[len(u):]
    p = np.arange(len(ids), dtype=np.int64)
    while True:
        while True:  # full path compression (p monotone under jumps)
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
        ru, rv = p[ui], p[vi]
        live = ru != rv
        if not live.any():
            break
        hi = np.maximum(ru[live], rv[live])
        lo = np.minimum(ru[live], rv[live])
        np.minimum.at(p, hi, lo)  # union-by-min; collisions take min
    child = np.nonzero(p != np.arange(len(ids)))[0]
    return ids[p[child]], ids[child]


def _contract_partitions(e: DataFrame) -> DataFrame:
    """Partition-LOCAL pre-contraction — the standard two-phase CC
    optimization (SoCC'14 §6 'optimizations'): before any global star
    round shuffles, each partition contracts its own edges with an
    in-memory union-find and emits one (root, node) edge per non-root
    node it saw. Connectivity is preserved (contraction within a
    partition + union across partitions spans the same components), the
    output is never larger than the input (≤ one edge per distinct
    non-root node, parallel edges collapse for free), and long chains
    inside a partition vanish — so the global rounds start from a union
    of star forests and converge in 1-3 rounds instead of O(diameter).

    Zero shuffle: one mapInPandas pass of _uf_star_arrays over `e`'s own
    id type; emitted edges are canonical u < v with u the partition-local
    component min. Its np.unique sort costs ~0.17 s per 1M int64 ids and
    ~3.7 s per 1M str ids, per task and map-side only — in place of
    whole shuffle rounds."""
    import numpy as np
    import pandas as pd

    def run(batches):
        us, vs = [], []
        for b in batches:
            us.append(b["u"].to_numpy())
            vs.append(b["v"].to_numpy())
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        if len(u) == 0:
            return
        ru, rv = _uf_star_arrays(u, v)
        yield pd.DataFrame({"u": ru, "v": rv})

    return e.mapInPandas(run, e.schema)


def _conflict_nodes(e: DataFrame) -> DataFrame:
    """Nodes `n` that break the min-rooted star-forest shape of a
    canonical edge set: a child that is also a parent (chained) or has
    two parents. One endpoint explode + groupBy."""
    return (
        _endpoint_flags(e)
        .groupBy("n")
        .agg(F.sum("p").alias("np"), F.sum("c").alias("nc"))
        .filter((F.col("nc") > 0) & ((F.col("np") > 0) | (F.col("nc") > 1)))
        .select("n")
    )


def _star_rounds(e: DataFrame, prev: tuple[int, int]) -> DataFrame:
    """Tier 3: alternating large/small star rounds until the canonical
    edge-set checksum reaches a fixed point (`e` checkpointed, `prev`
    its checksum). A fixed point of S∘L must also BE a star forest, so
    one endpoint-explode exchange then checks the converged set (no
    chained node, no two-parent child — what licenses the shuffle-free
    comp assembly). Raises on non-convergence or a non-star result."""
    for _ in range(MAX_STAR_ROUNDS):
        nxt, cur = _checkpoint_with_checksum(_canonical(_small_star(_large_star(e))))
        if cur == prev:
            break
        e, prev = nxt, cur
    else:
        raise RuntimeError(
            f"connected_components: star rounds did not converge after "
            f"MAX_STAR_ROUNDS={MAX_STAR_ROUNDS} rounds ({prev[0]} edges)"
        )
    non_star = _conflict_nodes(nxt).count()
    if non_star:
        raise RuntimeError(
            "connected_components: converged edge set is not a star "
            f"forest ({non_star} chained/multi-parent nodes)"
        )
    return nxt


def _solve_frontier(E: DataFrame, prev: tuple[int, int]) -> DataFrame:
    """Solve the quotient graph: a driver union-find over ONLY the edges
    incident to a CONFLICT node, then rewire the settled stars through
    the solved frontier with one broadcast join. `E` must be the
    checkpointed canonical output of partition-local pre-contraction
    (a union of per-partition min-rooted star forests) with checksum
    `prev`.

    Every cross-partition interaction MANIFESTS in E as a local
    star-property violation: a node that is a child in one partition's
    forest and a root (or child) in another's appears in E either in
    both the u and v columns (chained) or more than once in v
    (multi-parent). The conflict set S is therefore computable from E
    alone — one groupBy over the exploded endpoints.

    Why the rewire is sound: a settled edge (u, x) has u not in S and
    x not in S, so x appears exactly once in E (single parent, no
    children) and touches no frontier edge. u may still be merged into
    a smaller component through ANOTHER edge (u, y) with y in S — but
    that edge IS frontier, so u is a node of the solved frontier forest
    and the remap (child -> root) covers it; if u stayed a root (or
    never touched the frontier) the coalesce keeps u. Children stay
    unique across the final set (frontier children are disjoint from
    settled children) and every root is a component minimum.

    Cost: one skinny endpoint groupBy + a solve of the conflict
    subgraph + map-side broadcast splits/rewire of the checkpointed E.
    Three tiers, identical labels through each (property-tested):
      1. S empty: E IS the answer (S's filter is the guard predicate).
      2. S and its frontier edges each within FRONTIER_MAX_NODES: one
         Arrow collect + the same vectorized union-find ON THE DRIVER
         (a star round costs ~0.5s of job overhead at any size). Its
         forest is checked in numpy (u∩v empty, v unique); the settled
         side needs no pass: a settled child has nc == 1 and np == 0
         over ALL of E, so it appears in no other edge, and a settled
         parent is either remapped to its frontier root (u ∈ fe ⇒ u is
         a node of the solved forest) or has nc == 0 and stays a root.
         So the distributed guard (r6: ~15-20% of cc wall) is skipped.
      3. Otherwise (hash-scattered edges at extreme scale): global star
         rounds over all of E, with the distributed guard."""
    S, n_frontier = _checkpoint_with_count(_conflict_nodes(E))
    if n_frontier == 0:
        return E
    if n_frontier > FRONTIER_MAX_NODES:
        return _star_rounds(E, prev)
    su = F.broadcast(S.select(F.col("n").alias("_fn"), F.lit(True).alias("_fu")))
    sv = F.broadcast(S.select(F.col("n").alias("_gn"), F.lit(True).alias("_fv")))
    flagged = (
        E.join(su, E["u"] == su["_fn"], "left")
        .drop("_fn")
        .join(sv, F.col("v") == sv["_gn"], "left")
        .drop("_gn")
    )
    is_front = F.col("_fu").isNotNull() | F.col("_fv").isNotNull()
    fe = flagged.filter(is_front).select("u", "v")
    settled = flagged.filter(~is_front).select("u", "v")
    # capped collect: limit(cap+1) decides driver-vs-global AND
    # delivers the rows in the SAME action (the interval_join probe
    # pattern) — previously a full count pass preceded the toPandas
    # pass, re-running the broadcast-flag scan of E for nothing
    pdf = fe.limit(FRONTIER_MAX_NODES + 1).toPandas()
    if len(pdf) > FRONTIER_MAX_NODES:
        return _star_rounds(E, prev)
    # quotient graph fits the driver: one Arrow collect + the same
    # vectorized union-find the partitions ran, zero round jobs.
    import numpy as np
    import pandas as pd

    ru, rv = _uf_star_arrays(pdf["u"].to_numpy(), pdf["v"].to_numpy())
    if len(np.intersect1d(ru, rv)) or len(np.unique(rv)) != len(rv):
        raise RuntimeError(
            "connected_components: driver union-find emitted a "
            "non-star frontier forest (internal invariant)"
        )
    f = E.sparkSession.createDataFrame(pd.DataFrame({"u": ru, "v": rv}), E.schema)
    remap = F.broadcast(f.select(F.col("v").alias("_rn"), F.col("u").alias("_rr")))
    final = f.unionByName(
        settled.join(remap, settled["u"] == remap["_rn"], "left").select(
            F.coalesce(F.col("_rr"), F.col("u")).alias("u"), "v"
        )
    )
    return final.localCheckpoint()


def _endpoint_flags(e: DataFrame) -> DataFrame:
    """(n, p, c) endpoint rows of an edge set — one row per endpoint with
    parent/child indicator columns, via a 2-element explode (ONE pass
    over the edges; the previous unionByName shape read them twice)."""
    return e.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("n"), F.lit(1).alias("p"), F.lit(0).alias("c")
                ),
                F.struct(
                    F.col("v").alias("n"), F.lit(0).alias("p"), F.lit(1).alias("c")
                ),
            )
        ).alias("s")
    ).select("s.*")


def _checkpoint_with_count(e: DataFrame) -> tuple[DataFrame, int]:
    """Materialize + row count in ONE action (count rides the eager
    localCheckpoint via observe — same trick as _checkpoint_with_checksum
    without the hash column)."""
    obs = Observation()
    observed = e.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return observed, int(obs.get["n"])


def _checkpoint_with_checksum(e: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Materialize one round's edge set AND its convergence checksum in a
    SINGLE driver action: the (count, hash-sum) metrics ride the eager
    localCheckpoint's own materialization via DataFrame.observe, so a
    round costs exactly one job — previously it was two (checkpoint,
    then a checksum .first() re-reading the checkpointed partitions),
    and at bench scale the extra per-round action dominated cc latency.

    decimal(38,0) accumulator: a BIGINT sum of xxhash64 values overflows
    (and ANSI mode makes that an error, not a wrap)."""
    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).localCheckpoint()
    m = obs.get
    return observed, (int(m["n"]), int(m["h"]))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Connected components of the undirected graph given by `edges`.

    Returns a DataFrame (node, component) where component is the MINIMUM
    node id in the node's component — i.e. the dedup representative
    ("keep the smallest id, drop the rest" is a filter on
    node != component).

    `nodes` (optional, single column `id`) adds isolated vertices that
    appear in no edge; they map to themselves. Raises RuntimeError if
    the star rounds have not converged after MAX_STAR_ROUNDS.

    Ids must be integral or STRING with the default UTF8_BINARY
    collation (a STRING component is its code-point-minimal id, the
    order Spark's min uses); any other id type raises TypeError. Every
    id type is first contracted per partition with a local union-find
    before any shuffle (_contract_partitions) — strictly fewer edges
    enter the star rounds and chains local to a partition collapse
    immediately.

    After contraction, a node seen by exactly ONE partition had its
    whole neighborhood contracted locally — its star is globally final.
    Only the cross-partition frontier still needs solving, in one of
    the three tiers of _solve_frontier; on locality-preserving inputs
    (range-partitioned ingest, band-bucketed candidate pairs) it is a
    fraction of a percent of the edges, so the driver tiers are the
    common case and global rounds the fallback for hash-scattered
    edges at 10^12 scale.
    """
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    canon0 = e0.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    t = canon0.schema["u"].dataType
    if not isinstance(t, IntegralType) and not (
        isinstance(t, StringType) and t.isUTF8BinaryCollation()
    ):
        raise TypeError(f"connected_components: ids must be integral or STRING, got {t}")
    # NO _canonical (a full distinct exchange): contraction output is
    # canonical by construction (root < child, root the local component
    # min, no loops). A child duplicated across partitions has nc >= 2,
    # the frontier-conflict predicate, so every copy lands in the conflict
    # subgraph where the union-find or the per-round _canonical collapses
    # it; settled edges (nc == 1) are dup-free by definition.
    e, prev = _checkpoint_with_checksum(_contract_partitions(canon0))
    if prev[0] > 0:
        e = _solve_frontier(e, prev)
    # converged canonical edges are (root=component min, child). The
    # guard proved children unique and disjoint from roots, so the
    # child rows need NO aggregation at all (zero shuffle) — only the
    # root self-rows dedup, and that distinct's map-side partials
    # shrink it to one row per root per task before the exchange
    # (previously the whole 2|E| node list went through a groupBy-min).
    comp = e.select(F.col("v").alias("node"), F.col("u").alias("component")).unionByName(
        e.select("u").distinct().select(F.col("u").alias("node"), F.col("u").alias("component"))
    )
    if nodes is not None:
        # `nodes` ADDS isolated vertices; it never filters. Edge
        # endpoints absent from `nodes` keep their rows (anti-join picks
        # out only the genuinely isolated ids), so the output always
        # covers endpoints ∪ nodes.
        all_nodes = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
        isolated = all_nodes.join(comp.select("node"), "node", "left_anti").select(
            "node", F.col("node").alias("component")
        )
        comp = comp.unionByName(isolated)
    return comp
