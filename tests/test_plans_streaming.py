"""Skew salting, lineage/resume, and streaming tile counts."""

import os
import time

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


class TestStreaming:
    def test_stream_tile_counts(self, spark, wm):
        from tile_grid_spark.streaming.stream import (
            stream_tile_counts,
            synthetic_point_stream,
        )

        pts = synthetic_point_stream(spark, rows_per_second=500)
        counts = stream_tile_counts(pts, wm, zoom=4, window="10 seconds", watermark="10 seconds")
        q = (
            counts.writeStream.format("memory")
            .queryName("tile_counts_test")
            .outputMode("update")
            .start()
        )
        try:
            deadline = time.time() + 30
            rows = []
            while time.time() < deadline:
                time.sleep(2)
                rows = spark.sql("SELECT * FROM tile_counts_test").collect()
                if len(rows) >= 3:
                    break
            assert len(rows) >= 3, "stream produced no tile counts"
            assert all(r.n_points > 0 for r in rows)
            assert all(0 <= r.tile_x < 16 and 0 <= r.tile_y < 16 for r in rows)
        finally:
            q.stop()


class TestStatefulStreaming:
    def test_running_totals(self, spark, wm):
        from tile_grid_spark.streaming.stream import (
            stream_tile_running_totals,
            synthetic_point_stream,
        )

        pts = synthetic_point_stream(spark, rows_per_second=400)
        totals = stream_tile_running_totals(pts, wm, zoom=3)
        q = (
            totals.writeStream.format("memory")
            .queryName("tile_totals_test")
            .outputMode("update")
            .start()
        )
        try:
            import time as _t

            deadline = _t.time() + 40
            ok = False
            while _t.time() < deadline:
                _t.sleep(3)
                rows = spark.sql(
                    "SELECT tile_x, tile_y, max(total) AS total, max(batches) AS batches "
                    "FROM tile_totals_test GROUP BY tile_x, tile_y"
                ).collect()
                # state accumulates: some tile must have seen >1 batch with
                # a growing total
                if any(r.batches >= 2 and r.total > 0 for r in rows):
                    ok = True
                    break
            assert ok, f"stateful totals never accumulated: {rows[:5] if rows else []}"
        finally:
            q.stop()


class TestStreamingDedup:
    def test_dedup_emits_unique_keys(self, spark):
        from pyspark.sql import functions as F

        from tile_grid_spark.streaming.stream import (
            stream_dedup,
            synthetic_point_stream,
        )

        pts = synthetic_point_stream(spark, rows_per_second=300)
        # fabricate exact duplicates: each point 3x
        dup = pts.withColumn(
            "_c", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
        ).drop("_c")
        dd = stream_dedup(dup, ["point_id"], watermark="10 seconds")
        q = (
            dd.writeStream.format("memory")
            .queryName("dedup_test")
            .outputMode("append")
            .start()
        )
        try:
            import time as _t

            deadline = _t.time() + 40
            rows = []
            while _t.time() < deadline:
                _t.sleep(3)
                rows = spark.sql("SELECT point_id FROM dedup_test").collect()
                if len(rows) >= 20:
                    break
            assert len(rows) >= 20, "dedup stream produced too few rows"
            ids = [r.point_id for r in rows]
            assert len(ids) == len(set(ids)), "duplicates leaked through"
        finally:
            q.stop()


class TestMemorySinkHelper:
    def test_helper_drives_query(self, spark, wm):
        from tile_grid_spark.streaming.stream import (
            run_to_memory_sink,
            stream_tile_counts,
            synthetic_point_stream,
        )

        pts = synthetic_point_stream(spark, rows_per_second=400)
        counts = stream_tile_counts(pts, wm, zoom=3, window="5 seconds", watermark="5 seconds")
        q = run_to_memory_sink(counts, query_name="helper_sink_test")
        try:
            deadline = time.time() + 30
            rows = []
            while time.time() < deadline:
                time.sleep(2)
                rows = spark.sql("SELECT * FROM helper_sink_test").collect()
                if rows:
                    break
            assert rows, "run_to_memory_sink produced no rows"
        finally:
            q.stop()


class TestStreamingRectContains:
    def test_stream_static_join_matches_predicate(self, spark, wm):
        from tile_grid_spark.streaming.stream import (
            stream_rect_contains,
            synthetic_point_stream,
        )

        rects = [
            (0, -60.0, -40.0, 60.0, 40.0),     # wide equatorial box
            (1, 170.0, -30.0, -170.0, 30.0),   # antimeridian-crossing
        ]
        rdf = spark.createDataFrame(
            rects, "rect_id INT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE"
        )
        pts = synthetic_point_stream(spark, rows_per_second=500)
        out = stream_rect_contains(
            pts.select("point_id", "lon", "lat"), rdf, wm, zoom=3, rect_id="rect_id"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("stream_rect_test")
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.time() + 40
            rows = []
            while time.time() < deadline:
                time.sleep(3)
                rows = spark.sql(
                    "SELECT point_id, lon, lat, rect_id FROM stream_rect_test"
                ).collect()
                if len(rows) >= 50:
                    break
            assert len(rows) >= 50, "stream produced too few containment rows"
            for r in rows:  # every emitted match satisfies the exact predicate
                _, w, s, e, n = rects[r.rect_id]
                lon_ok = (w <= r.lon <= e) if w <= e else (r.lon >= w or r.lon <= e)
                assert lon_ok and s <= r.lat <= n, r
            # the deterministic rate stream covers the seam: rect 1 must match
            assert any(r.rect_id == 1 for r in rows)
        finally:
            q.stop()


class TestStreamingSessionizeReplay:
    def test_exactly_once_sink_survives_crash_replay(self, spark, tmp_path, wm):
        """Exactly-once story (r2 VERDICT item 8): foreachBatch is
        at-least-once, so a crash AFTER the sink committed batch 1 but
        BEFORE Spark recorded it replays batch 1 on restart with the same
        id — the lineage-idempotent committer must skip it, leaving every
        input row in the output exactly once and one lineage row per
        batch."""
        import numpy as np
        import pandas as pd
        from pyspark.errors import StreamingQueryException

        from tile_grid_spark.plans.lineage import LineageLog
        from tile_grid_spark.streaming.stream import (
            exactly_once_batch_committer,
            stream_tile_assign,
            write_stream_exactly_once,
        )

        src = tmp_path / "src"
        src.mkdir()
        rng = np.random.default_rng(5)
        for i in range(4):
            pdf = pd.DataFrame(
                {
                    "point_id": np.arange(i * 100, (i + 1) * 100, dtype="int64"),
                    "lon": rng.uniform(-170, 170, 100),
                    "lat": rng.uniform(-80, 80, 100),
                }
            )
            p = src / f"part-{i}.parquet"
            pdf.to_parquet(p)
            os.utime(p, (1700000000 + i, 1700000000 + i))

        def make_stream():
            s = (
                spark.readStream.schema("point_id BIGINT, lon DOUBLE, lat DOUBLE")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            return stream_tile_assign(s, wm, 8)

        out = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")

        # run 1: crash injected after the idempotent commit of batch 1
        # but before foreachBatch returns (Spark never records batch 1)
        log = LineageLog(spark, out)
        commit = exactly_once_batch_committer(log, "stream", os.path.join(out, "stream"))

        def crashing(bdf, bid):
            commit(bdf, bid)
            if bid == 1:
                raise RuntimeError("injected crash after sink commit")

        q = (
            make_stream()
            .writeStream.foreachBatch(crashing)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException):
            q.awaitTermination()

        # run 2: resume from the same checkpoint with the library sink;
        # Spark REPLAYS batch 1 (same id), the committer skips it
        q2 = write_stream_exactly_once(make_stream(), out, ckpt)
        q2.awaitTermination()

        got = spark.read.parquet(os.path.join(out, "stream")).select("point_id")
        ids = sorted(r.point_id for r in got.collect())
        assert ids == list(range(400))  # every row exactly once, no dups

        lg = log.summary().filter(F.col("status") == "complete")
        per_unit = {
            r.unit: r["count"]
            for r in lg.groupBy("unit").count().collect()
        }
        assert per_unit == {f"batch-{i}": 1 for i in range(4)}, per_unit

    def test_replay_matches_batch_oracle(self, spark, tmp_path):
        """Replay a deterministic event fixture through the stream in 3
        event-time-ordered micro-batches; with EventTimeTimeout the final
        per-key stats must equal the batch gap-sessionization fold."""
        import numpy as np
        import pandas as pd

        from tile_grid_spark.streaming.stream import stream_sessionize

        rng = np.random.default_rng(23)
        n = 600
        base = pd.Timestamp("2024-05-01")
        df = pd.DataFrame(
            {
                "point_id": rng.integers(0, 8, n).astype("int64"),
                "ts": base
                + pd.to_timedelta(np.sort(rng.integers(0, 6 * 86400, n)), unit="s"),
            }
        )
        # key 99 goes quiet long enough for its EVENT-TIME timeout to
        # close the session mid-replay, then RETURNS: the running totals
        # must keep accumulating batch-identically (2 sessions, 4 events)
        df = pd.concat(
            [
                df,
                pd.DataFrame(
                    {
                        "point_id": np.array([99, 99, 99, 99], dtype="int64"),
                        "ts": [
                            base,
                            base + pd.Timedelta(seconds=60),
                            base + pd.Timedelta(days=5),
                            base + pd.Timedelta(days=5, seconds=30),
                        ],
                    }
                ),
            ],
            ignore_index=True,
        )
        df["ts"] = df["ts"].astype("datetime64[us]")

        # independent batch oracle (python fold, gap=1800)
        exp = {}
        for k, g in df.sort_values("ts").groupby("point_id"):
            es = (g["ts"].astype("int64") // 10**6).to_numpy()
            n_sess = n_ev = max_dur = 0
            last = start = None
            for e in es:
                if last is None or e - last > 1800:
                    if last is not None:
                        max_dur = max(max_dur, last - start)
                    n_sess += 1
                    start = int(e)
                last = int(e)
                n_ev += 1
            max_dur = max(max_dur, last - start)
            exp[int(k)] = (n_sess, n_ev, max_dur)

        src = tmp_path / "events_src"
        src.mkdir()
        d = df.sort_values("ts").reset_index(drop=True)
        for i, chunk in enumerate(np.array_split(d, 3)):
            path = src / f"part-{i}.parquet"
            chunk.to_parquet(path)
            os.utime(path, (1700000000 + i, 1700000000 + i))  # ordered mtimes

        stream = (
            spark.readStream.schema("point_id BIGINT, ts TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        # eviction horizon ABOVE key 99's 5-day quiet gap: the timeout
        # CLOSES its session mid-replay but the counters survive, so the
        # returning events keep accumulating batch-identically
        sess = stream_sessionize(
            stream, key="point_id", gap_sec=1800, watermark="1 second",
            evict_sec=10 * 86400,
        )
        q = (
            sess.writeStream.format("memory")
            .queryName("sessionize_replay_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        rows = spark.sql(
            "SELECT point_id, n_sessions, n_events, max_dur_sec FROM sessionize_replay_test"
        ).collect()
        got = {}
        for r in rows:  # last update per key = the one with max n_events
            cur = got.get(r.point_id)
            if cur is None or r.n_events >= cur[1]:
                got[r.point_id] = (r.n_sessions, r.n_events, r.max_dur_sec)
        assert set(got) == set(exp)
        for k in exp:
            assert got[k] == exp[k], (k, got[k], exp[k])


class TestStreamingSessionize:
    def test_running_session_stats(self, spark):
        from pyspark.sql import functions as F

        from tile_grid_spark.streaming.stream import (
            stream_sessionize,
            synthetic_point_stream,
        )

        pts = synthetic_point_stream(spark, rows_per_second=200).withColumn(
            "point_id", F.col("point_id") % 5
        )
        sess = stream_sessionize(pts, key="point_id", gap_sec=3600)
        q = (
            sess.writeStream.format("memory")
            .queryName("sessionize_test")
            .outputMode("update")
            .start()
        )
        try:
            import time as _t

            deadline = _t.time() + 40
            ok = False
            while _t.time() < deadline:
                _t.sleep(3)
                rows = spark.sql(
                    "SELECT point_id, max(n_events) AS n, max(n_sessions) AS s, "
                    "max(session_start_epoch) AS st, max(last_epoch) AS le "
                    "FROM sessionize_test GROUP BY point_id"
                ).collect()
                # rate events arrive seconds apart << 1h gap: exactly one
                # session per key, events accumulating across batches
                if rows and all(r.s == 1 and r.st <= r.le for r in rows) and any(
                    r.n >= 10 for r in rows
                ):
                    ok = True
                    break
            assert ok, f"sessionize never accumulated: {rows[:5] if rows else []}"
        finally:
            q.stop()


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


class TestStreamingPhashDedup:
    def test_exact_phash_dedup_stream(self, spark, tmp_path):
        """Image-side exact dedup in flight: stream_dedup keyed on the
        phash column keeps one row per fingerprint within the watermark,
        matching batch dropDuplicates on the same input."""
        import datetime as dt

        from tile_grid_spark.streaming.stream import stream_dedup

        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
        rows = []
        for i in range(60):
            # 20 distinct phashes, each seen 3x within a minute
            rows.append((f"img-{i:03d}", i % 20, t0 + dt.timedelta(seconds=i)))
        src = str(tmp_path / "imgs")
        spark.createDataFrame(
            rows, "image_id STRING, phash BIGINT, ts TIMESTAMP"
        ).coalesce(1).write.parquet(src)

        stream = spark.readStream.schema("image_id STRING, phash BIGINT, ts TIMESTAMP").parquet(src)
        out = stream_dedup(stream, keys=["phash"], watermark="10 minutes")
        q = (
            out.writeStream.format("memory")
            .queryName("phash_dedup_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(60)
        finally:
            q.stop()
        got = spark.sql("SELECT phash, COUNT(*) AS n FROM phash_dedup_stream GROUP BY phash").collect()
        assert len(got) == 20
        assert all(r.n == 1 for r in got)


class TestStreamingTileStoreRefresh:
    def test_batch_refresh_latest_wins_and_idempotent(self, spark, tmp_path):
        from tile_grid_spark.streaming.stream import refresh_tile_store

        store = str(tmp_path / "store")
        b1 = spark.createDataFrame(
            [(8, 1, 1, 10, 100), (8, 1, 2, 20, 100)],
            "zoom INT, tile_x BIGINT, tile_y BIGINT, n BIGINT, window_end BIGINT",
        )
        b2 = spark.createDataFrame(
            [(8, 1, 1, 15, 200),   # newer window -> replaces
             (8, 1, 2, 99, 50),    # STALE replay -> must lose
             (8, 2, 2, 7, 200)],   # new tile
            b1.schema,
        )
        keys = ("zoom", "tile_x", "tile_y")
        refresh_tile_store(store, b1, keys, "window_end")
        refresh_tile_store(store, b2, keys, "window_end")
        want = {(8, 1, 1): (15, 200), (8, 1, 2): (20, 100), (8, 2, 2): (7, 200)}
        got = {
            (r.zoom, r.tile_x, r.tile_y): (r.n, r.window_end)
            for r in spark.read.parquet(store).collect()
        }
        assert got == want
        # at-least-once replay of the SAME batch is a content no-op
        refresh_tile_store(store, b2, keys, "window_end")
        got2 = {
            (r.zoom, r.tile_x, r.tile_y): (r.n, r.window_end)
            for r in spark.read.parquet(store).collect()
        }
        assert got2 == want

    def test_streaming_view_maintenance(self, spark, tmp_path, wm):
        """File-source micro-batches of per-tile aggregates maintained
        into a live parquet store across two availableNow runs sharing a
        checkpoint — the streaming materialized-view shape."""
        import pandas as pd

        from tile_grid_spark.streaming.stream import stream_tile_store_refresh

        src = tmp_path / "src"
        src.mkdir()
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        schema = "zoom BIGINT, tile_x BIGINT, tile_y BIGINT, n BIGINT, window_end BIGINT"

        pd.DataFrame(
            {"zoom": [8, 8], "tile_x": [1, 1], "tile_y": [1, 2],
             "n": [10, 20], "window_end": [100, 100]}
        ).to_parquet(src / "b0.parquet")

        def run():
            updates = spark.readStream.schema(schema).parquet(str(src))
            q = stream_tile_store_refresh(
                updates, store, ckpt, version_col="window_end"
            )
            q.awaitTermination()

        run()
        assert spark.read.parquet(store).count() == 2

        pd.DataFrame(
            {"zoom": [8, 8], "tile_x": [1, 2], "tile_y": [1, 2],
             "n": [15, 7], "window_end": [200, 200]}
        ).to_parquet(src / "b1.parquet")
        run()  # second availableNow pass picks up only the new file
        got = {
            (r.zoom, r.tile_x, r.tile_y): (r.n, r.window_end)
            for r in spark.read.parquet(store).collect()
        }
        assert got == {
            (8, 1, 1): (15, 200),
            (8, 1, 2): (20, 100),
            (8, 2, 2): (7, 200),
        }


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

    def test_tile_store_survives_interrupted_swap(self, spark, tmp_path):
        from tile_grid_spark.streaming.stream import refresh_tile_store

        store = str(tmp_path / "store")
        schema = "zoom INT, tile_x BIGINT, tile_y BIGINT, n BIGINT, window_end BIGINT"
        keys = ("zoom", "tile_x", "tile_y")
        refresh_tile_store(
            store, spark.createDataFrame([(8, 1, 1, 10, 100), (8, 1, 2, 20, 100)], schema),
            keys, "window_end",
        )
        os.rename(store, store + ".old")
        refresh_tile_store(
            store, spark.createDataFrame([(8, 2, 2, 7, 200)], schema), keys, "window_end"
        )
        got = {
            (r.zoom, r.tile_x, r.tile_y): (r.n, r.window_end)
            for r in spark.read.parquet(store).collect()
        }
        assert got == {(8, 1, 1): (10, 100), (8, 1, 2): (20, 100), (8, 2, 2): (7, 200)}
        assert not os.path.exists(store + ".old")


class TestStreamingStaypoints:
    def test_replay_matches_batch_operator(self, spark, tmp_path):
        """Replaying a finite trajectory fixture through
        stream_staypoints in 3 event-time-ordered micro-batches must
        reproduce operators/staypoint.staypoints segment-for-segment
        (same break structure, spans, centroids) after taking the last
        update per (user, seg)."""
        import numpy as np
        import pandas as pd

        from tile_grid_spark.operators.staypoint import staypoints
        from tile_grid_spark.streaming.stream import stream_staypoints

        base = pd.Timestamp("2024-05-01")
        rows = []
        # 4 users x clusters of 6 fixes jumping ~1.1km every cluster
        for u in range(4):
            for i in range(24):
                cl = i // 6
                rows.append(
                    (
                        u,
                        base + pd.Timedelta(seconds=60 * i),
                        10.0 + u * 0.5 + cl * 0.01 + (i % 6) * 1e-5,
                        50.0 + (i % 3) * 1e-5,
                    )
                )
        df = pd.DataFrame(rows, columns=["user_id", "ts", "lon", "lat"])
        df["ts"] = df["ts"].astype("datetime64[us]")

        bdf = spark.createDataFrame(
            df, "user_id BIGINT, ts TIMESTAMP, lon DOUBLE, lat DOUBLE"
        )
        exp = {
            (r.user_id, r.seg_id): (
                r.n_points,
                r.t_start_s,
                r.t_end_s,
                round(r.ctr_lon, 6),
                round(r.ctr_lat, 6),
            )
            for r in staypoints(bdf, radius_m=100.0, min_points=1).collect()
        }

        src = tmp_path / "fixes_src"
        src.mkdir()
        d = df.sort_values("ts", kind="stable").reset_index(drop=True)
        for i, chunk in enumerate(np.array_split(d, 3)):
            p = src / f"part-{i}.parquet"
            chunk.to_parquet(p)
            os.utime(p, (1700000000 + i, 1700000000 + i))
        stream = (
            spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, lon DOUBLE, lat DOUBLE")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        sp = stream_staypoints(stream, watermark="1 second", close_gap_sec=7200)
        q = (
            sp.writeStream.format("memory")
            .queryName("staypoints_replay_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        rows = spark.sql(
            "SELECT * FROM staypoints_replay_test"
        ).collect()
        got = {}
        for r in rows:  # last update per (user, seg) = max n_points
            key = (r.user_id, r.seg_id)
            cur = got.get(key)
            if cur is None or r.n_points >= cur[0]:
                got[key] = (
                    r.n_points,
                    r.t_start_s,
                    r.t_end_s,
                    round(r.ctr_lon, 6),
                    round(r.ctr_lat, 6),
                )
        assert got == exp

    def test_timeout_closes_and_evicts(self, spark, tmp_path):
        """a user quiet past close_gap_sec gets its open segment closed
        by the event-time timeout; a returning user restarts numbering
        (the documented eviction trade-off)."""
        import numpy as np
        import pandas as pd

        from tile_grid_spark.streaming.stream import stream_staypoints

        base = pd.Timestamp("2024-05-01")
        # u1 dwells then goes quiet; u2's later fixes advance the
        # WATERMARK past u1.last + close_gap so u1's open segment closes
        # via the event-time timeout; u1 then RETURNS after eviction
        early = [(1, base + pd.Timedelta(seconds=i), 10.0, 50.0) for i in range(3)]
        other = [
            (2, base + pd.Timedelta(days=2, seconds=i), 20.0, 50.0) for i in range(2)
        ]
        # the timeout fires while processing a batch in which u1 has NO
        # data (a key with data never times out — it just continues), so
        # u1's closure needs a u2-only batch after the watermark passes
        other2 = [
            (2, base + pd.Timedelta(days=3, seconds=i), 20.0, 50.0) for i in range(2)
        ]
        late = [
            (1, base + pd.Timedelta(days=4, seconds=i), 10.0, 50.0) for i in range(2)
        ]
        src = tmp_path / "fx"
        src.mkdir()
        for i, chunk in enumerate([early, other, other2, late]):
            p = src / f"part-{i}.parquet"
            pdf = pd.DataFrame(chunk, columns=["user_id", "ts", "lon", "lat"])
            pdf["ts"] = pdf["ts"].astype("datetime64[us]")
            pdf.to_parquet(p)
            os.utime(p, (1700000000 + i, 1700000000 + i))
        stream = (
            spark.readStream.schema("user_id BIGINT, ts TIMESTAMP, lon DOUBLE, lat DOUBLE")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        sp = stream_staypoints(stream, watermark="1 second", close_gap_sec=600)
        q = (
            sp.writeStream.format("memory")
            .queryName("staypoints_timeout_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        rows = spark.sql(
            "SELECT user_id, seg_id, n_points, closed "
            "FROM staypoints_timeout_test"
        ).collect()
        u1 = [(r.seg_id, r.n_points, r.closed) for r in rows if r.user_id == 1]
        # the early dwell (3 fixes) closed via the event-time timeout;
        # after eviction the returning fixes restart numbering at seg 1
        assert (1, 3, True) in u1, u1
        assert (1, 2, False) in u1, u1


class TestStreamingTrips:
    def test_streamed_trips_aggregate_to_batch_od_flows(self, spark, tmp_path):
        """closed stay points replayed through stream_trips in ordered
        micro-batches must aggregate to EXACTLY the batch od_flows
        matrix (trip counts, travelers, total travel seconds)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        from tile_grid_spark.core import tms
        from tile_grid_spark.operators.staypoint import od_flows, staypoints
        from tile_grid_spark.streaming.stream import stream_trips

        wm = tms().lookup("WebMercatorQuad")
        base = pd.Timestamp("2024-05-01")
        rows = []
        for u in range(3):
            for i in range(18):
                cl = i // 6
                rows.append(
                    (
                        u,
                        base + pd.Timedelta(minutes=10 * i),
                        10.0 + u * 3.0 + cl * 2.0,  # ~2-deg hops: distinct z8 tiles
                        50.0,
                    )
                )
        fixes = pd.DataFrame(rows, columns=["user_id", "ts", "lon", "lat"])
        fixes["ts"] = fixes["ts"].astype("datetime64[us]")
        bdf = spark.createDataFrame(
            fixes, "user_id BIGINT, ts TIMESTAMP, lon DOUBLE, lat DOUBLE"
        )
        sp = staypoints(bdf, radius_m=500.0, min_points=1, tiebreak="lon")
        exp = {
            (r.from_x, r.from_y, r.to_x, r.to_y): (
                r.n_trips,
                r.n_users,
                r.total_travel_s,
            )
            for r in od_flows(sp, wm, zoom=8).collect()
        }

        spd = sp.withColumn(
            "ts", F.timestamp_seconds(F.col("t_start_s"))
        ).toPandas().sort_values("t_start_s", kind="stable")
        # pandas writes ns-precision INT64 parquet Spark won't read back
        # as timestamp; pin microseconds like the other stream fixtures
        spd["ts"] = spd["ts"].astype("datetime64[us]")
        src = tmp_path / "sp_src"
        src.mkdir()
        for i, chunk in enumerate(np.array_split(spd, 3)):
            p = src / f"part-{i}.parquet"
            chunk.to_parquet(p)
            os.utime(p, (1700000000 + i, 1700000000 + i))
        stream = (
            spark.readStream.schema(
                "user_id BIGINT, seg_id BIGINT, n_points BIGINT, t_start_s BIGINT, "
                "t_end_s BIGINT, duration_s BIGINT, ctr_lon DOUBLE, ctr_lat DOUBLE, "
                "ts TIMESTAMP"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        trips = stream_trips(stream, wm, zoom=8, watermark="1 second")
        q = (
            trips.writeStream.format("memory")
            .queryName("stream_trips_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        got_rows = spark.sql("SELECT * FROM stream_trips_test").collect()
        got = {}
        users = {}
        for r in got_rows:
            key = (r.from_x, r.from_y, r.to_x, r.to_y)
            n, t = got.get(key, (0, 0))
            got[key] = (n + 1, t + r.travel_s)
            users.setdefault(key, set()).add(r.user_id)
        merged = {
            k: (n, len(users[k]), t) for k, (n, t) in got.items()
        }
        assert merged == exp
