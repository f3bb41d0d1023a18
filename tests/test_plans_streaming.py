"""Skew salting, lineage/resume, batch operators under readStream, and
the streamed MVT store."""

import os

import pytest
from pyspark.sql import functions as F

from tile_grid_spark.core import tms
from tile_grid_spark.plans.lineage import LineageLog, dataset_fingerprint, run_stage
from tile_grid_spark.plans.skew import (
    measure_tile_skew,
    salted_tile_agg,
    skew_stats,
    with_salt,
)


@pytest.fixture(scope="module")
def wm():
    return tms().lookup("WebMercatorQuad")


@pytest.fixture()
def skewed(spark):
    # one mega-tile (5000 rows) + long tail (100 tiles x 10 rows)
    big = spark.range(5000).select(
        F.lit(10).alias("zoom"), F.lit(100).alias("tile_x"), F.lit(200).alias("tile_y"),
        F.col("id").alias("row_id"), F.lit(1.0).alias("v"),
    )
    tail = spark.range(1000).select(
        F.lit(10).alias("zoom"), (F.col("id") % 100 + 300).alias("tile_x"),
        F.lit(7).alias("tile_y"), (F.col("id") + 10_000).alias("row_id"), F.lit(1.0).alias("v"),
    )
    return big.unionByName(tail)


class TestSkew:
    def test_measure_and_stats(self, skewed):
        counts = measure_tile_skew(skewed)
        s = skew_stats(counts)
        assert s["n_tiles"] == 101
        assert s["max_rows"] == 5000
        assert s["total"] == 6000

    def test_salt_buckets(self, skewed):
        counts = measure_tile_skew(skewed)
        salted = with_salt(skewed, counts, target_rows_per_task=1000, id_col="row_id")
        prof = (
            salted.groupBy("zoom", "tile_x", "tile_y")
            .agg(F.countDistinct("salt").alias("n_salts"))
            .collect()
        )
        by_tile = {(r.tile_x, r.tile_y): r.n_salts for r in prof}
        assert by_tile[(100, 200)] == 5  # ceil(5000/1000)
        assert all(v == 1 for k, v in by_tile.items() if k != (100, 200))

    def test_salted_agg_equals_plain(self, skewed):
        got = salted_tile_agg(
            skewed,
            {"n": (F.count("*"), F.sum("n"))},
            target_rows_per_task=1000,
            id_col="row_id",
        )
        plain = skewed.groupBy("zoom", "tile_x", "tile_y").agg(F.count("*").alias("n"))
        assert got.exceptAll(plain).isEmpty() and plain.exceptAll(got).isEmpty()

    def test_salted_agg_adversarial_names(self, skewed):
        # Output columns literally named n_count / min_price under MAX:
        # the old repr-sniffed combiner would recombine these with SUM /
        # MIN and silently corrupt the result. Explicit pairs must not.
        got = salted_tile_agg(
            skewed,
            {
                "n_count": (F.max("row_id"), F.max("n_count")),
                "min_price": (F.max("row_id"), F.max("min_price")),
            },
            target_rows_per_task=1000,
            id_col="row_id",
        )
        plain = skewed.groupBy("zoom", "tile_x", "tile_y").agg(
            F.max("row_id").alias("n_count"), F.max("row_id").alias("min_price")
        )
        assert got.exceptAll(plain).isEmpty() and plain.exceptAll(got).isEmpty()

    def test_salted_agg_rejects_bare_column(self, skewed):
        with pytest.raises(TypeError, match="partial_expr, final_expr"):
            salted_tile_agg(skewed, {"n": F.count("*")}, id_col="row_id")

    def test_pre_partitioned_agg_equals_plain(self, skewed):
        from tile_grid_spark.plans.skew import pre_partitioned_agg

        got = pre_partitioned_agg(
            skewed, {"n": F.count("*")}, num_partitions=8
        )
        plain = skewed.groupBy("zoom", "tile_x", "tile_y").agg(F.count("*").alias("n"))
        assert got.exceptAll(plain).isEmpty() and plain.exceptAll(got).isEmpty()
        # exactly ONE exchange: the repartition satisfies the aggregate's
        # distribution requirement, no second shuffle
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan

    def test_salt_deterministic(self, skewed):
        counts = measure_tile_skew(skewed)
        a = with_salt(skewed, counts, 1000, id_col="row_id").select("row_id", "salt")
        b = with_salt(skewed.repartition(13), counts, 1000, id_col="row_id").select(
            "row_id", "salt"
        )
        assert a.exceptAll(b).isEmpty()


class TestLineage:
    def test_fingerprint_order_insensitive(self, spark):
        df = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v"))
        n1, f1, _ = dataset_fingerprint(df)
        n2, f2, _ = dataset_fingerprint(df.orderBy(F.desc("id")).repartition(7))
        assert (n1, f1) == (n2, f2)
        n3, f3, _ = dataset_fingerprint(df.filter("id < 999"))
        assert f3 != f1

    def test_run_stage_resume(self, spark, tmp_path):
        root = str(tmp_path / "pipe")
        log = LineageLog(spark, root)
        calls = []

        def build(unit):
            calls.append(unit)
            return spark.range(100).withColumn("unit", F.lit(unit))

        r1 = run_stage(spark, log, "s1", ["a", "b"], build)
        assert r1.ran_units == ["a", "b"] and r1.rows == 200
        # resume: nothing rebuilt
        r2 = run_stage(spark, log, "s1", ["a", "b"], build)
        assert r2.ran_units == [] and r2.skipped_units == ["a", "b"]
        assert calls == ["a", "b"]
        # new unit only
        r3 = run_stage(spark, log, "s1", ["a", "b", "c"], build)
        assert r3.ran_units == ["c"]
        # lineage rows recorded with fingerprints
        lin = log.summary().collect()
        assert len(lin) == 3
        assert all(row.status == "complete" and row.row_count == 100 for row in lin)

    def test_output_readable(self, spark, tmp_path):
        root = str(tmp_path / "pipe2")
        log = LineageLog(spark, root)
        run_stage(spark, log, "st", ["x"], lambda u: spark.range(5))
        back = spark.read.parquet(os.path.join(root, "st", "unit=x"))
        assert back.count() == 5


class TestStreamingQualityFilter:
    def test_stateless_filter_stream_equals_batch(self, spark, tmp_path, sf_dir):
        """with_quality_filter is a pure mapper, so it composes with
        readStream unchanged; the streamed verdicts must equal the batch
        verdicts row-for-row (availableNow over a file source)."""
        from tile_grid_spark.functions.text import with_quality_filter
        from tile_grid_spark.sources.io import read_table

        d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        src = str(tmp_path / "docs")
        d.coalesce(2).write.parquet(src)

        batch = {
            r.doc_id: (r.passes, r.fail_tokens, r.fail_stop)
            for r in with_quality_filter(spark.read.parquet(src)).collect()
        }
        stream = spark.readStream.schema("doc_id BIGINT, text STRING").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        out = with_quality_filter(stream).select(
            "doc_id", "passes", "fail_tokens", "fail_stop"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("qf_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(60)
        finally:
            q.stop()
        got = {
            r.doc_id: (r.passes, r.fail_tokens, r.fail_stop)
            for r in spark.sql("SELECT * FROM qf_stream").collect()
        }
        assert got == batch


class TestStreamingRepetition:
    def test_repetition_features_stream_equals_batch(self, spark, tmp_path, sf_dir):
        """with_repetition_features is a pure zero-shuffle mapper (the
        Gopher repetition rules), so it composes with readStream
        unchanged — streamed per-doc features must equal batch."""
        from tile_grid_spark.functions.text import with_repetition_features
        from tile_grid_spark.sources.io import read_table

        d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        src = str(tmp_path / "docs_rep")
        d.coalesce(2).write.parquet(src)

        cols = ("dup_line_frac", "dup_line_char_frac", "top_bigram_char_frac")
        batch = {
            r.doc_id: tuple(r[c] for c in cols)
            for r in with_repetition_features(spark.read.parquet(src)).collect()
        }
        stream = spark.readStream.schema("doc_id BIGINT, text STRING").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        out = with_repetition_features(stream).select("doc_id", *cols)
        q = (
            out.writeStream.format("memory")
            .queryName("rep_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(60)
        finally:
            q.stop()
        got = {
            r.doc_id: tuple(r[c] for c in cols)
            for r in spark.sql("SELECT * FROM rep_stream").collect()
        }
        assert got == batch


class TestStreamingIntervalJoin:
    def test_stream_static_interval_join(self, spark, tmp_path):
        """Bucketed interval join as a STREAM-static join: the
        manufactured equi-key matters even more in streaming — a pure
        range predicate against a static frame is a per-microbatch
        nested loop. Streamed attributions must equal the batch join."""
        import datetime as dt

        from pyspark.sql import Row
        from tile_grid_spark.operators.interval_join import interval_join

        t0 = dt.datetime(2026, 1, 1)
        ev_rows = [
            Row(event_id=i, key=i % 3, ts=t0 + dt.timedelta(seconds=137 * i))
            for i in range(200)
        ]
        iv_rows = [
            Row(
                iv_id=j,
                key=j % 3,
                start=t0 + dt.timedelta(seconds=1800 * j),
                end=t0 + dt.timedelta(seconds=1800 * j + 2700),
            )
            for j in range(12)
        ]
        ev = spark.createDataFrame(ev_rows)
        iv = spark.createDataFrame(iv_rows)
        src = str(tmp_path / "ev_stream")
        ev.coalesce(2).write.parquet(src)

        batch = {
            (r.event_id, r.iv_id)
            for r in interval_join(
                spark.read.parquet(src), iv, left_ts="ts", start="start",
                end="end", on=("key",), width_sec=900,
            ).select("event_id", "iv_id").collect()
        }
        assert batch, "fixture must produce matches"
        stream = spark.readStream.schema("event_id BIGINT, key BIGINT, ts TIMESTAMP").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        out = interval_join(
            stream, iv, left_ts="ts", start="start", end="end",
            on=("key",), width_sec=900,
        ).select("event_id", "iv_id")
        q = (
            out.writeStream.format("memory")
            .queryName("ij_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(60)
        finally:
            q.stop()
        got = {
            (r.event_id, r.iv_id)
            for r in spark.sql("SELECT * FROM ij_stream").collect()
        }
        assert got == batch


class TestMvtStoreRefresh:
    def test_batchwise_upsert_and_replay(self, spark, tmp_path, wm):
        """Three sequential batch merges: new tiles appear, a re-sent
        point UPDATES its feature in place, and replaying a batch leaves
        the store bytes unchanged (foreachBatch at-least-once safety)."""
        from tile_grid_spark.functions.mvt import decode_point_tile
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        store = str(tmp_path / "mvt_store")
        schema = "pid BIGINT, lon DOUBLE, lat DOUBLE, seg STRING"
        b1 = spark.createDataFrame(
            [(1, 10.0, 10.0, "a"), (2, 100.0, -40.0, "b")], schema
        )
        # pid 1 MOVES within its tile + changes seg; pid 3 is new
        b2 = spark.createDataFrame(
            [(1, 10.4, 10.4, "z"), (3, 10.1, 10.1, "c")], schema
        )
        refresh_mvt_store(store, b1, wm, 4, attr_cols=("seg",))
        refresh_mvt_store(store, b2, wm, 4, attr_cols=("seg",))

        def snapshot():
            out = {}
            for r in spark.read.parquet(store).collect():
                (layer,) = decode_point_tile(bytes(r.mvt), with_attrs=True)["layers"]
                for fid, px, py, a in layer["features"]:
                    out[fid] = ((r.tile_x, r.tile_y), (px, py), a)
            return out

        got = snapshot()
        assert set(got) == {1, 2, 3}
        assert got[1][2] == {"seg": "z"}          # updated, not duplicated
        assert got[3][2] == {"seg": "c"}
        assert got[1][0] == got[3][0]             # same tile, merged

        bytes_before = {
            (r.tile_x, r.tile_y): bytes(r.mvt)
            for r in spark.read.parquet(store).collect()
        }
        refresh_mvt_store(store, b2, wm, 4, attr_cols=("seg",))  # replay
        bytes_after = {
            (r.tile_x, r.tile_y): bytes(r.mvt)
            for r in spark.read.parquet(store).collect()
        }
        assert bytes_before == bytes_after

    def test_streaming_maintains_served_tiles(self, spark, tmp_path, wm):
        """File-source micro-batches of points maintained into a live
        MVT tile store across two availableNow runs on one checkpoint."""
        import pandas as pd

        from tile_grid_spark.functions.mvt import decode_point_tile
        from tile_grid_spark.streaming.stream import stream_mvt_store_refresh

        src = tmp_path / "pts"
        src.mkdir()
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        schema = "pid BIGINT, lon DOUBLE, lat DOUBLE"

        pd.DataFrame({"pid": [1, 2], "lon": [10.0, 100.0], "lat": [10.0, -40.0]}).to_parquet(
            src / "b0.parquet"
        )

        def run():
            pts = spark.readStream.schema(schema).parquet(str(src))
            q = stream_mvt_store_refresh(pts, store, ckpt, wm, 4)
            q.awaitTermination()

        run()
        assert spark.read.parquet(store).count() == 2  # two tiles

        pd.DataFrame({"pid": [3], "lon": [10.2], "lat": [10.2]}).to_parquet(
            src / "b1.parquet"
        )
        run()  # picks up only the new file
        feats = set()
        for r in spark.read.parquet(store).collect():
            (layer,) = decode_point_tile(bytes(r.mvt))["layers"]
            feats |= {f[0] for f in layer["features"]}
        assert feats == {1, 2, 3}

    def test_redelivered_batch_is_a_noop(self, spark, tmp_path, wm):
        """At-least-once redelivery: with the last batch's commit log
        entry deleted, the restarted stream re-runs that batch id over
        the same offsets. The store's tile bytes must not change and no
        feature may appear twice."""
        import pandas as pd

        from tile_grid_spark.functions.mvt import decode_point_tile
        from tile_grid_spark.streaming.stream import stream_mvt_store_refresh

        src = tmp_path / "pts"
        src.mkdir()
        store = str(tmp_path / "store")
        ckpt = tmp_path / "ckpt"
        pd.DataFrame({"pid": [1, 2], "lon": [10.0, 100.0], "lat": [10.0, -40.0]}).to_parquet(
            src / "b0.parquet"
        )
        pd.DataFrame({"pid": [3, 4], "lon": [-60.0, 150.0], "lat": [20.0, 60.0]}).to_parquet(
            src / "b1.parquet"
        )

        def run():
            pts = (
                spark.readStream.schema("pid BIGINT, lon DOUBLE, lat DOUBLE")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )
            q = stream_mvt_store_refresh(pts, store, str(ckpt), wm, 4)
            q.awaitTermination()
            return [p["batchId"] for p in q.recentProgress if p["numInputRows"]]

        def snapshot():
            tiles, fids = {}, []
            for r in spark.read.parquet(store).collect():
                tiles[(r.tile_x, r.tile_y)] = bytes(r.mvt)
                (layer,) = decode_point_tile(bytes(r.mvt))["layers"]
                fids += [f[0] for f in layer["features"]]
            return tiles, sorted(fids), spark.read.parquet(store).count()

        assert run() == [0, 1]
        first = snapshot()
        assert first[1] == [1, 2, 3, 4] and first[2] == len(first[0]) == 4

        last = max(int(f.name) for f in (ckpt / "commits").iterdir() if f.name.isdigit())
        assert last == 1
        (ckpt / "commits" / str(last)).unlink()
        (ckpt / "commits" / f".{last}.crc").unlink(missing_ok=True)
        assert run() == [last]  # the same batch id, delivered again
        assert snapshot() == first


class TestStoreSwapRecovery:
    """A crash between the swap's two renames leaves only `<store>.old`;
    the replayed batch must merge into it, not rebuild from itself."""

    def test_mvt_store_survives_interrupted_swap(self, spark, tmp_path, wm):
        from tile_grid_spark.functions.mvt import decode_point_tile
        from tile_grid_spark.streaming.stream import refresh_mvt_store

        store = str(tmp_path / "mvt_store")
        schema = "pid BIGINT, lon DOUBLE, lat DOUBLE"
        refresh_mvt_store(
            store, spark.createDataFrame([(1, 10.0, 10.0), (2, 100.0, -40.0)], schema), wm, 4
        )
        before = {(r.tile_x, r.tile_y): bytes(r.mvt) for r in spark.read.parquet(store).collect()}
        assert len(before) == 2
        os.rename(store, store + ".old")  # crash after live -> .old
        os.makedirs(store + ".tmp")        # ... with a stale .tmp beside it
        refresh_mvt_store(store, spark.createDataFrame([(3, 10.1, 10.1)], schema), wm, 4)
        got = {}
        for r in spark.read.parquet(store).collect():
            (layer,) = decode_point_tile(bytes(r.mvt))["layers"]
            got[(r.tile_x, r.tile_y)] = {f[0] for f in layer["features"]}
        assert set(got) == set(before)
        assert sorted(f for fs in got.values() for f in fs) == [1, 2, 3]
        assert not os.path.exists(store + ".old") and not os.path.exists(store + ".tmp")
