"""Bucketed interval join + deterministic stratified sampling.

Independent oracles: pure-Python brute-force containment for the
interval join; hashlib md5 replays + distribution/invariance properties
for the sampler. Plan shape: the join must be an equi hash/sort-merge
join (never a nested loop), the sampler a zero-shuffle scan filter.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import tile_grid_spark.operators.interval_join as IJ
from tile_grid_spark.operators.interval_join import interval_join
from tile_grid_spark.operators.sample import SAMPLE_MOD, stratified_sample

EPOCH = dt.datetime(2024, 1, 1)


def _ts(sec: float) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=sec)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, key=k, ts=_ts(s)) for i, (k, s) in enumerate(rows)]
    )


def _mk_intervals(spark, rows):
    return spark.createDataFrame(
        [
            Row(iv_id=i, key=k, start=_ts(a), end=_ts(b))
            for i, (k, a, b) in enumerate(rows)
        ]
    )


class TestIntervalJoin:
    def test_brute_force_oracle_random(self, spark):
        rng = random.Random(42)
        events = [(rng.randrange(4), rng.uniform(0, 50_000)) for _ in range(300)]
        intervals = []
        for _ in range(40):
            a = rng.uniform(0, 50_000)
            # mix of sub-bucket, multi-bucket, empty and inverted spans
            b = a + rng.choice([-10.0, 0.0, 5.0, 900.0, 7200.0, 20_000.0])
            intervals.append((rng.randrange(4), a, b))
        got = (
            interval_join(
                _mk_events(spark, events),
                _mk_intervals(spark, intervals),
                left_ts="ts",
                start="start",
                end="end",
                on=("key",),
                width_sec=3600,
            )
            .select("event_id", "iv_id")
            .collect()
        )
        expect = {
            (ei, ii)
            for ei, (ek, es) in enumerate(events)
            for ii, (ik, a, b) in enumerate(intervals)
            if ek == ik and a <= es < b
        }
        pairs = [(r.event_id, r.iv_id) for r in got]
        assert len(pairs) == len(set(pairs)), "bucket join produced duplicates"
        assert set(pairs) == expect

    def test_keyless_and_boundaries(self, spark):
        # half-open: start included, end excluded; back-to-back windows
        # never double-attribute the boundary event
        ev = _mk_events(spark, [(0, 0.0), (0, 3600.0), (0, 7199.9), (0, 7200.0)])
        iv = _mk_intervals(spark, [(0, 0.0, 3600.0), (0, 3600.0, 7200.0)])
        got = sorted(
            (r.event_id, r.iv_id)
            for r in interval_join(
                ev.drop("key"),
                iv.drop("key"),
                left_ts="ts",
                start="start",
                end="end",
                width_sec=600,
            )
            .select("event_id", "iv_id")
            .collect()
        )
        assert got == [(0, 0), (1, 1), (2, 1)]

    def test_self_join_lineage_keys_not_trivial(self, spark):
        # both sides derived from ONE frame: key equality must still bind
        # per-side (the bare df[col] form degenerates to always-true)
        ev = _mk_events(spark, [(1, 0.0), (2, 10.0), (1, 20.0)])
        iv = ev.filter(F.col("event_id") == 0).select(
            F.col("event_id").alias("iv_id"),
            "key",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 1 MINUTE")).alias("end"),
        )
        got = interval_join(
            ev, iv, left_ts="ts", start="start", end="end", on=("key",),
            width_sec=60,
        )
        # key=2 event at 10s is inside the window but must NOT match
        assert sorted(r.event_id for r in got.collect()) == [0, 2]

    def test_explode_budget_raises(self, spark):
        ev = _mk_events(spark, [(0, 0.0)])
        iv = _mk_intervals(spark, [(0, 0.0, 1_000_000.0)])
        j = interval_join(
            ev, iv, left_ts="ts", start="start", end="end", on=("key",),
            width_sec=1, max_buckets_per_interval=1000,
        )
        with pytest.raises(Exception, match="interval_join"):
            j.count()

    def test_column_collision_raises(self, spark):
        ev = _mk_events(spark, [(0, 0.0)])
        with pytest.raises(ValueError, match="collision"):
            interval_join(
                ev, ev, left_ts="ts", start="ts", end="ts", on=("key",)
            )

    def test_plan_is_equi_join_not_nested_loop(self, spark):
        ev = _mk_events(spark, [(0, 0.0)])
        iv = _mk_intervals(spark, [(0, 0.0, 7200.0)])
        plan = interval_join(
            ev, iv, left_ts="ts", start="start", end="end", on=("key",),
            width_sec=3600,
        )._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "Join" in plan

    def test_small_intervals_auto_broadcast_no_left_exchange(self, spark):
        # the attribution shape: big events, tiny windows — the interval
        # side must broadcast so the events never shuffle
        ev = _mk_events(spark, [(i % 4, float(i * 10)) for i in range(200)])
        iv = _mk_intervals(spark, [(k, 0.0, 7200.0) for k in range(4)])
        out = interval_join(
            ev, iv, left_ts="ts", start="start", end="end", on=("key",),
            width_sec=3600,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final, final
        assert "Exchange hashpartitioning" not in final, final
        # and the result is still the brute-force containment
        assert out.count() == sum(1 for i in range(200) if i * 10 < 7200)

    def test_over_cap_keeps_shuffle_shape(self, spark, monkeypatch):
        monkeypatch.setattr(IJ, "BROADCAST_MAX_ROWS", 0)
        ev = _mk_events(spark, [(0, 0.0)])
        iv = _mk_intervals(spark, [(0, 0.0, 7200.0)])
        plan = interval_join(
            ev, iv, left_ts="ts", start="start", end="end", on=("key",),
            width_sec=3600,
        )._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    def test_probe_counts_exploded_rows(self, spark, monkeypatch):
        """10 intervals of 50 buckets each explode to 500 rows: over a
        cap of 100 the join must shuffle, although the interval count
        alone (10) is under it. Catalyst's own size-based broadcast is
        off, so only the operator's probe decides."""
        monkeypatch.setattr(IJ, "BROADCAST_MAX_ROWS", 100)
        ev = _mk_events(spark, [(k, float(k * 3600)) for k in range(10)])
        iv = _mk_intervals(spark, [(k, 0.0, 49.5 * 3600) for k in range(10)])
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = interval_join(
                ev, iv, left_ts="ts", start="start", end="end", on=("key",),
                width_sec=3600,
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan, plan
            assert out.count() == 10
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_broadcast_results_equal_shuffle_results(self, spark, monkeypatch):
        """The auto-probe on each side of the cap: broadcast under it,
        shuffled over it, the same pairs either way."""
        rng = random.Random(7)
        events = [(rng.randrange(3), rng.uniform(0, 30_000)) for _ in range(150)]
        intervals = [
            (rng.randrange(3), a := rng.uniform(0, 30_000), a + rng.uniform(0, 9000))
            for _ in range(25)
        ]
        kw = dict(left_ts="ts", start="start", end="end", on=("key",), width_sec=3600)
        a = interval_join(
            _mk_events(spark, events), _mk_intervals(spark, intervals), **kw
        )
        monkeypatch.setattr(IJ, "BROADCAST_MAX_ROWS", 0)
        b = interval_join(
            _mk_events(spark, events), _mk_intervals(spark, intervals), **kw
        )
        key = lambda r: (r.event_id, r.iv_id)  # noqa: E731
        assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def _md5_bucket(doc_id: int, seed: str = "sample") -> int:
    h = hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()
    return int(h[:15], 16) % SAMPLE_MOD


class TestStratifiedSample:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [Row(doc_id=i, stratum=f"s{i % 3}") for i in range(3000)]
        )

    def test_matches_hashlib_replay(self, spark, docs):
        rates = {"s0": 1.0, "s1": 0.25}
        kept = stratified_sample(
            docs, id_col="doc_id", strata_col="stratum", rates=rates,
            default_rate=0.0,
        ).collect()
        expect = {
            i
            for i in range(3000)
            if _md5_bucket(i)
            < int(rates.get(f"s{i % 3}", 0.0) * SAMPLE_MOD)
        }
        assert {r.doc_id for r in kept} == expect
        for r in kept:
            assert r._sample_bucket == _md5_bucket(r.doc_id)

    def test_partition_invariant(self, spark, docs):
        rates = {"s0": 0.5, "s1": 0.5, "s2": 0.5}
        a = {
            r.doc_id
            for r in stratified_sample(
                docs.repartition(1), "doc_id", "stratum", rates
            ).collect()
        }
        b = {
            r.doc_id
            for r in stratified_sample(
                docs.repartition(16, "stratum"), "doc_id", "stratum", rates
            ).collect()
        }
        assert a == b

    def test_append_stable(self, spark, docs):
        # adding rows never flips existing verdicts
        rates = {"s0": 0.3, "s1": 0.3, "s2": 0.3}
        before = {
            r.doc_id
            for r in stratified_sample(
                docs.filter(F.col("doc_id") < 1000), "doc_id", "stratum", rates
            ).collect()
        }
        after = {
            r.doc_id
            for r in stratified_sample(docs, "doc_id", "stratum", rates).collect()
        }
        assert before == {i for i in after if i < 1000}

    def test_rates_are_exact_at_extremes_and_plausible_between(self, spark, docs):
        kept = stratified_sample(
            docs, "doc_id", "stratum", {"s0": 1.0, "s1": 0.0}, default_rate=0.5
        ).groupBy("stratum").count().collect()
        counts = {r.stratum: r["count"] for r in kept}
        assert counts["s0"] == 1000
        assert "s1" not in counts
        assert 400 < counts["s2"] < 600  # ~Binomial(1000, .5)

    def test_invalid_rate_raises(self, spark, docs):
        with pytest.raises(ValueError, match="rate"):
            stratified_sample(docs, "doc_id", "stratum", {"s0": 1.5})

    def test_zero_shuffle_plan(self, spark, docs):
        plan = (
            stratified_sample(docs, "doc_id", "stratum", {"s0": 0.5})
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestUpsertLatest:
    def test_semantics_vs_python(self, spark):
        from tile_grid_spark.sources.io import upsert_latest

        cur = spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1), (3, "c", 2)], "id BIGINT, val STRING, rev INT"
        )
        upd = spark.createDataFrame(
            [(2, "b2", 2),   # newer rev wins
             (3, "c-old", 1),  # older rev loses
             (3, "c-tie", 2),  # SAME rev as current -> updates side wins
             (4, "d", 1)],     # insert
            "id BIGINT, val STRING, rev INT",
        )
        got = {
            r.id: (r.val, r.rev)
            for r in upsert_latest(cur, upd, ("id",), "rev").collect()
        }
        assert got == {1: ("a", 1), 2: ("b2", 2), 3: ("c-tie", 2), 4: ("d", 1)}

    def test_tiebreak_column(self, spark):
        from tile_grid_spark.sources.io import upsert_latest

        cur = spark.createDataFrame([(1, "x", 1, 10)], "id BIGINT, val STRING, rev INT, ts INT")
        upd = spark.createDataFrame(
            [(1, "y", 1, 5), (1, "z", 1, 7)], "id BIGINT, val STRING, rev INT, ts INT"
        )
        got = upsert_latest(cur, upd, ("id",), "rev", tiebreak_col="ts").collect()
        assert len(got) == 1 and got[0].val == "z"  # updates side, max ts

    def test_one_exchange_no_join(self, spark):
        from tile_grid_spark.sources.io import upsert_latest

        cur = spark.range(100).selectExpr("id", "CAST(id AS STRING) val", "1 rev")
        upd = spark.range(10).selectExpr("id", "'u' val", "2 rev")
        plan = (
            upsert_latest(cur, upd, ("id",), "rev")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan


class TestWeightedSample:
    def test_inclusion_proportional_to_weight(self, spark):
        """A-ES property check: across many disjoint seeds, a row with
        weight 9 must enter the k=1 sample ~9x as often as weight 1
        (exact math: P = w_i / sum(w) for k=1)."""
        from tile_grid_spark.operators.sample import weighted_sample

        rows = [(1, 9.0), (2, 1.0), (3, 1.0), (4, 1.0)]
        df = spark.createDataFrame(rows, "doc_id BIGINT, w DOUBLE")
        wins = {i: 0 for i, _ in rows}
        n_trials = 300
        picked = weighted_sample(
            df.crossJoin(
                spark.range(n_trials).select(F.col("id").alias("trial"))
            ).withColumn("doc_id2", F.col("doc_id") + F.col("trial") * 1000),
            "doc_id2",
            "w",
            k=1,
            strata_col="trial",
        ).collect()
        for r in picked:
            wins[r.doc_id] += 1
        assert sum(wins.values()) == n_trials
        # expectation: 9/12 = 225, each light row 1/12 = 25
        assert 190 < wins[1] < 260, wins
        for i in (2, 3, 4):
            assert 5 < wins[i] < 60, wins

    def test_deterministic_and_partition_invariant(self, spark):
        from tile_grid_spark.operators.sample import weighted_sample

        rows = [(i, float(1 + i % 5)) for i in range(200)]
        df1 = spark.createDataFrame(rows, "doc_id BIGint, w DOUBLE")
        a = sorted(
            r.doc_id for r in weighted_sample(df1, "doc_id", "w", k=20).collect()
        )
        b = sorted(
            r.doc_id
            for r in weighted_sample(
                df1.repartition(13), "doc_id", "w", k=20
            ).collect()
        )
        assert a == b and len(a) == 20

    def test_append_can_only_displace(self, spark):
        """adding rows never reorders existing keys: the new sample is
        the old one minus displaced tail, never a reshuffle."""
        from tile_grid_spark.operators.sample import weighted_sample

        base = [(i, 1.0) for i in range(100)]
        df = spark.createDataFrame(base, "doc_id BIGINT, w DOUBLE")
        df2 = spark.createDataFrame(
            base + [(1000 + i, 1.0) for i in range(50)], "doc_id BIGINT, w DOUBLE"
        )
        a = [r.doc_id for r in weighted_sample(df, "doc_id", "w", k=10)
             .orderBy("ws_rank").collect()]
        b = [r.doc_id for r in weighted_sample(df2, "doc_id", "w", k=10)
             .orderBy("ws_rank").collect()]
        # b is a merge of a with new ids — every surviving old id keeps
        # its relative order
        surv = [x for x in b if x < 1000]
        assert surv == a[: len(surv)]

    def test_zero_weight_raises(self, spark):
        from tile_grid_spark.operators.sample import weighted_sample

        df = spark.createDataFrame([(1, 0.0)], "doc_id BIGINT, w DOUBLE")
        with pytest.raises(Exception, match="weight must be > 0"):
            weighted_sample(df, "doc_id", "w", k=1).collect()


class TestRendezvousShard:
    def _hash(self, s, doc_id):
        h = hashlib.md5(f"shard:{s}:{doc_id}".encode()).hexdigest()
        return int(h[:15], 16)

    def test_matches_hashlib_argmax(self, spark):
        from tile_grid_spark.operators.sample import rendezvous_shard

        df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
        got = {
            r.doc_id: r.shard
            for r in rendezvous_shard(df, "doc_id", n_shards=8).collect()
        }
        for i in range(200):
            hs = [self._hash(s, i) for s in range(8)]
            assert got[i] == hs.index(max(hs)), i

    def test_minimal_movement_on_resize(self, spark):
        # THE rendezvous property: growing n -> n+1 moves only rows whose
        # argmax is the NEW shard; nobody relocates between old shards
        from tile_grid_spark.operators.sample import rendezvous_shard

        df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
        a = {r.doc_id: r.shard for r in rendezvous_shard(df, "doc_id", 8).collect()}
        b = {r.doc_id: r.shard for r in rendezvous_shard(df, "doc_id", 9).collect()}
        moved = {i for i in a if a[i] != b[i]}
        assert all(b[i] == 8 for i in moved)
        # expected ~1/9 of rows move; assert a generous band
        assert 20 <= len(moved) <= 120

    def test_zero_shuffle_and_bounds(self, spark):
        from tile_grid_spark.operators.sample import rendezvous_shard

        df = spark.range(0, 50).withColumnRenamed("id", "doc_id")
        out = rendezvous_shard(df, "doc_id", 5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        shards = {r.shard for r in out.collect()}
        assert shards <= set(range(5))
        with pytest.raises(ValueError):
            rendezvous_shard(df, "doc_id", 0)
