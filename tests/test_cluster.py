"""Connected components (large-star/small-star) vs a union-find oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import tile_grid_spark.operators.cluster as C
from tile_grid_spark.operators.cluster import connected_components


def _union_find(n_edges, nodes=()):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in n_edges:
        union(a, b)
    for x in nodes:
        find(x)
    return {x: find(x) for x in parent}


def _padded_df(spark, edges):
    """The same edge list with ids as zero-padded STRINGs: the string
    order equals the numeric order, so the component min is the same
    node, and `_labels` reads both id types back as ints."""
    return spark.createDataFrame(
        [("%06d" % a, "%06d" % b) for a, b in edges], "id_a STRING, id_b STRING"
    )


def _labels(out):
    return {int(r.node): int(r.component) for r in out.collect()}


def _bigint_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a BIGINT, id_b BIGINT"
    )


def _tier_counters(monkeypatch):
    """Count the driver-side solve calls: `_star_rounds` runs only in
    tier 3 (global rounds) and the driver's `_uf_star_arrays` call only
    in tier 2 (the partitions' calls run in Python workers and never
    reach these lists)."""
    rounds, driver_uf = [], []
    real_rounds, real_uf = C._star_rounds, C._uf_star_arrays

    def counting_rounds(*a):
        rounds.append(1)
        return real_rounds(*a)

    def counting_uf(*a):
        driver_uf.append(1)
        return real_uf(*a)

    monkeypatch.setattr(C, "_star_rounds", counting_rounds)
    monkeypatch.setattr(C, "_uf_star_arrays", counting_uf)
    return rounds, driver_uf


def _run(spark, edges, nodes=None):
    e = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges] or [(0, 0)], "id_a BIGINT, id_b BIGINT"
    )
    if not edges:
        e = e.filter(F.lit(False))
    nd = None
    if nodes is not None:
        nd = spark.createDataFrame([(int(x),) for x in nodes], "id BIGINT")
    out = connected_components(e, nodes=nd)
    return {r.node: r.component for r in out.collect()}


class TestConnectedComponents:
    def test_random_graph_vs_union_find(self, spark):
        rng = np.random.default_rng(11)
        n = 300
        edges = [tuple(sorted(p)) for p in rng.integers(0, n, (220, 2)) if p[0] != p[1]]
        got = _run(spark, edges)
        assert got == _union_find(edges)

    def test_long_chain_needs_multiple_rounds(self, spark):
        edges = [(i, i + 1) for i in range(64)]
        got = _run(spark, edges)
        assert set(got.values()) == {0}
        assert len(got) == 65

    def test_star_and_reverse_star(self, spark):
        # hub-max star (all point at 99) exercises large-star's hub fix
        edges = [(i, 99) for i in range(10)] + [(200, 200 + i) for i in range(1, 8)]
        got = _run(spark, edges)
        assert {got[i] for i in range(10)} == {0}
        assert got[99] == 0
        assert {got[200 + i] for i in range(8)} == {200}

    def test_isolated_nodes_and_duplicates(self, spark):
        edges = [(5, 6), (6, 5), (5, 6), (7, 7)]
        got = _run(spark, edges, nodes=[5, 6, 7, 42])
        assert got == {5: 5, 6: 5, 7: 7, 42: 42}

    def test_empty_edges(self, spark):
        got = _run(spark, [], nodes=[1, 2, 3])
        assert got == {1: 1, 2: 2, 3: 3}

    def test_max_iter_raises(self, spark, monkeypatch):
        edges = [(i, i + 1) for i in range(64)]
        e = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
        default_cap = C.FRONTIER_MAX_NODES
        monkeypatch.setattr(C, "MAX_STAR_ROUNDS", 1)
        # global star rounds (a frontier cap of 0 forces them) can't
        # close a 64-chain in one round -> must raise, not return wrong
        # labels
        monkeypatch.setattr(C, "FRONTIER_MAX_NODES", 0)
        with pytest.raises(RuntimeError, match="converge.*MAX_STAR_ROUNDS=1"):
            connected_components(e)
        # the frontier driver-solve tier needs no rounds at all: the
        # same graph converges even at one round
        monkeypatch.setattr(C, "FRONTIER_MAX_NODES", default_cap)
        got = {r.node: r.component for r in connected_components(e).collect()}
        assert got == _union_find(edges)

    def test_huge_hub_star_skew(self, spark):
        """A 150k-leaf hub at the MAX id: small-star funnels every leaf
        into the hub's window partition — the whole hot adjacency sorts
        into one task and must still converge in the star-bound rounds."""
        n = 150_000
        e = spark.range(0, n - 1).select(
            F.col("id").alias("id_a"), F.lit(n - 1).alias("id_b")
        )
        out = connected_components(e)
        assert out.count() == n
        assert out.filter(F.col("component") != 0).count() == 0

    def test_nodes_never_filters_edge_endpoints(self, spark):
        """`nodes` ADDS isolated vertices; endpoints absent from `nodes`
        must keep their rows (r3 ADVICE: the old left-join silently
        dropped them from the output while they still shaped labels)."""
        got = _run(spark, [(1, 2), (2, 9)], nodes=[1, 42])
        assert got == {1: 1, 2: 1, 9: 1, 42: 42}

    def test_string_ids(self, spark):
        """The pipeline clusters image_id STRINGS — min/least/greatest
        order lexicographically; representative = lexicographic min."""
        edges = [("img-003", "img-001"), ("img-001", "img-002"), ("img-010", "img-011")]
        e = spark.createDataFrame(edges, "id_a STRING, id_b STRING")
        nodes = spark.createDataFrame([("img-%03d" % i,) for i in range(12)], "id STRING")
        got = {r.node: r.component for r in connected_components(e, nodes=nodes).collect()}
        assert got["img-001"] == "img-001"
        assert got["img-002"] == "img-001"
        assert got["img-003"] == "img-001"
        assert got["img-010"] == "img-010"
        assert got["img-011"] == "img-010"
        assert got["img-007"] == "img-007"  # isolated


class TestStarImplEquivalence:
    def test_window_equals_agg_on_random_graphs(self, spark):
        """The window-shaped star rounds label random graphs (incl.
        chains and hub stars mixed in) like the union-find oracle, with
        BIGINT ids and with the same graph as zero-padded STRING ids."""
        rng = np.random.default_rng(23)
        n = 200
        edges = [tuple(sorted(p)) for p in rng.integers(0, n, (160, 2)) if p[0] != p[1]]
        edges += [(i, i + 1) for i in range(100, 140)]  # chain
        edges += [(150, j) for j in range(151, 180)]  # hub star
        w = _labels(connected_components(_bigint_df(spark, edges)))
        s = _labels(connected_components(_padded_df(spark, edges)))
        assert w == s == _union_find(edges)


class TestPreContraction:
    def test_pre_contract_equals_plain_on_random_graphs(self, spark):
        """Pre-contracted BIGINT ids and the same graph as zero-padded
        STRING ids give the union-find labels."""
        rng = np.random.default_rng(23)
        for trial in range(3):
            n = 200 + trial * 100
            edges = [
                tuple(int(x) for x in p)
                for p in rng.integers(0, n, (n, 2))
                if p[0] != p[1]
            ]
            e = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT").repartition(7)
            a = _labels(connected_components(e))
            b = _labels(connected_components(_padded_df(spark, edges).repartition(7)))
            assert a == b == _union_find(edges)

    def test_every_id_type_is_pre_contracted(self, spark, monkeypatch):
        """BIGINT and STRING ids are each pre-contracted exactly once,
        with the union-find labels; any other id type raises."""
        calls = []
        real = C._contract_partitions

        def counting(e):
            calls.append(1)
            return real(e)

        monkeypatch.setattr(C, "_contract_partitions", counting)
        edges = [(i, i + 1) for i in range(0, 40)] + [(50, 60), (60, 55), (70, 71)]
        for make in (_bigint_df, _padded_df):
            calls.clear()
            got = _labels(connected_components(make(spark, edges).repartition(4)))
            assert len(calls) == 1, make
            assert got == _union_find(edges), make
        e = spark.createDataFrame([(1.0, 2.0)], "id_a DOUBLE, id_b DOUBLE")
        with pytest.raises(TypeError, match="DoubleType"):
            connected_components(e)

    def test_contract_partitions_preserves_components_and_shrinks(self, spark):
        from tile_grid_spark.operators.cluster import _contract_partitions

        # chains are the worst case for star rounds and the best case
        # for local contraction: each partition collapses its chain
        # segment to a star in one map pass
        edges = [(i, i + 1) for i in range(400)]
        e = spark.createDataFrame(edges, "u BIGINT, v BIGINT").repartition(8)
        c = _contract_partitions(e)
        rows = [(r.u, r.v) for r in c.collect()]
        assert len(rows) <= len(edges)
        # contracted edges are canonical (root < child) star edges
        assert all(u < v for u, v in rows)
        # connectivity is preserved: same components as the original
        assert _union_find(rows) == _union_find(edges)

    def test_frontier_equals_global_rounds_on_random_graphs(self, spark, monkeypatch):
        """Every solve tier labels identically to the union-find oracle —
        random graphs mix chains, hubs and cross-partition components;
        BIGINT and STRING ids alike, at frontier caps {default, 1, 0}.
        One partition leaves no frontier (tier 1), the default cap
        solves the frontier on the driver (tier 2), and caps 1 and 0
        force global star rounds (tier 3); the counters prove each tier
        ran."""
        rounds, driver_uf = _tier_counters(monkeypatch)
        caps = (C.FRONTIER_MAX_NODES, 1, 0)
        tiers = set()
        rng = np.random.default_rng(41)
        for parts in (1, 9, 32):
            n = 250
            edges = [
                tuple(int(x) for x in p)
                for p in rng.integers(0, n, (300, 2))
                if p[0] != p[1]
            ]
            edges += [(i, i + 1) for i in range(200, 240)]
            want = _union_find(edges)
            for make in (_bigint_df, _padded_df):
                e = make(spark, edges).repartition(parts)
                for cap in caps:
                    monkeypatch.setattr(C, "FRONTIER_MAX_NODES", cap)
                    rounds.clear()
                    driver_uf.clear()
                    assert _labels(connected_components(e)) == want, (parts, make, cap)
                    tiers.add(3 if rounds else 2 if driver_uf else 1)
        assert tiers == {1, 2, 3}

    def test_frontier_cap_falls_back_to_global_rounds(self, spark, monkeypatch):
        """A frontier cap of 1 sends both graphs to global star rounds:
        a 300-chain (frontier nodes > cap) and a 3-chain split over 2
        partitions (one frontier node, but two frontier edges > cap) —
        union-find labels, BIGINT and STRING ids alike."""
        rounds, _ = _tier_counters(monkeypatch)
        monkeypatch.setattr(C, "FRONTIER_MAX_NODES", 1)
        chain = [(i, i + 1) for i in range(300)]
        for make in (_bigint_df, _padded_df):
            rounds.clear()
            e = make(spark, chain).repartition(16)
            got = _labels(connected_components(e))
            assert got == _union_find(chain), make
            assert set(got.values()) == {0}
            # one row per partition: (0, 1) and (1, 2) contract apart
            e = make(spark, [(0, 1), (1, 2)]).coalesce(1).repartition(2)
            got = _labels(connected_components(e))
            assert got == {0: 0, 1: 0, 2: 0}, make
            assert len(rounds) == 2, make

    def test_string_min_is_code_point_min(self, spark):
        """Non-ASCII STRING ids: numpy's code-point sort (union-find in
        the partitions and on the driver) must agree with Spark's
        UTF8_BINARY min, so every node's component is Python's `min`
        over its union-find component, at one and at five partitions."""
        chains = {c: [f"{c}{i}" for i in range(4)] for c in "Zaßé中😀"}
        edges = [(p[i], p[i + 1]) for p in chains.values() for i in range(3)]
        edges += [("中", chains[c][k]) for c in "Zaß" for k in (0, 3)]  # hub
        edges += [("😀", "é3"), ("a", "😀0"), ("Z", "ß")]
        # U+FF5A sorts below U+1F600 by code point but above it in UTF-16
        edges += [("ｚ", "😀9")]
        want = _union_find(edges)
        comps = {}
        for x, r in want.items():
            comps.setdefault(r, []).append(x)
        want = {x: min(comps[r]) for x, r in want.items()}
        for parts in (1, 5):
            e = spark.createDataFrame(edges, "id_a STRING, id_b STRING").repartition(parts)
            got = {r.node: r.component for r in connected_components(e).collect()}
            assert got == want, parts

    def test_pre_contract_partition_invariant(self, spark):
        rng = np.random.default_rng(5)
        edges = [
            tuple(int(x) for x in p)
            for p in rng.integers(0, 150, (120, 2))
            if p[0] != p[1]
        ]
        base = None
        for parts in (1, 3, 16):
            e = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT").repartition(
                parts
            )
            got = {
                r.node: r.component for r in connected_components(e).collect()
            }
            if base is None:
                base = got
            assert got == base
