"""Physical-plan assertions: the plans we'd want at 100 TB, not just
correct answers. Checks pushdown/pruning, shuffle-freedom of the
assignment path, broadcast joins for small layers, and codegen coverage."""

import pytest
from pyspark.sql import functions as F

from tile_grid_spark.core import tms
from tile_grid_spark.functions import grid_cols as G
from tile_grid_spark.operators import cover as C
from tile_grid_spark.operators.pip_join import generate_polygons, pip_join
from tile_grid_spark.sources.io import read_table


@pytest.fixture(scope="module")
def wm():
    return tms().lookup("WebMercatorQuad")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestPlanShapes:
    def test_assignment_no_shuffle(self, spark, wm, sf_dir):
        pts = read_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey"),
            (F.col("o_orderkey") % 360 - 180.0).cast("double").alias("lon"),
            (F.col("o_orderkey") % 160 - 80.0).cast("double").alias("lat"),
        )
        out = G.with_tiles_multizoom(pts, wm, list(range(15)))
        plan = plan_of(out)
        assert "Exchange" not in plan, plan  # narrow end to end
        assert "Generate explode" in plan or "Generate" in plan

    def test_column_pruning_reaches_scan(self, spark, wm, sf_dir):
        li = read_table(spark, sf_dir, "lineitem")
        out = G.with_tile(
            li.select(
                (F.col("l_orderkey") % 360 - 180.0).cast("double").alias("lon"),
                (F.col("l_orderkey") % 160 - 80.0).cast("double").alias("lat"),
            ),
            wm,
            8,
        )
        plan = plan_of(out)
        # only l_orderkey should be read from the 11-column table
        assert "ReadSchema: struct<l_orderkey:bigint>" in plan, plan

    def test_filter_pushdown_reaches_scan(self, spark, sf_dir):
        li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
        plan = plan_of(li)
        assert "PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]" in plan, plan

    def test_pip_join_broadcasts_polygons(self, spark, wm):
        pts = spark.range(1000).select(
            F.col("id").alias("pid"),
            (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
            (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
        )
        polys = generate_polygons(spark, 10, seed=1)
        out = pip_join(pts, polys, wm, zoom=6)
        plan = plan_of(out)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan

    def test_join_broadcast_hints(self, spark, wm):
        """With Catalyst's size-based broadcast off, only the operators'
        own hints decide: rect_contains_join and bbox_overlap_join always
        broadcast their rect / right cover side, radius_join never
        broadcasts its right side (a shuffled join AQE can skew-split)."""
        from tile_grid_spark.operators.knn import radius_join
        from tile_grid_spark.operators.overlap_join import bbox_overlap_join
        from tile_grid_spark.operators.pip_join import rect_contains_join

        pts = spark.range(500).select(
            F.col("id").alias("pid"),
            (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
            (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
        )
        boxes = spark.range(8).select(
            F.col("id").alias("rect_id"),
            (F.col("id") * 20.0 - 90.0).alias("minx"),
            F.lit(-20.0).alias("miny"),
            (F.col("id") * 20.0 - 80.0).alias("maxx"),
            F.lit(20.0).alias("maxy"),
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            rect = plan_of(rect_contains_join(pts, boxes, wm, 4))
            overlap = plan_of(
                bbox_overlap_join(
                    boxes.withColumnRenamed("rect_id", "l_id"),
                    boxes.withColumnRenamed("rect_id", "r_id"),
                    wm,
                    4,
                )
            )
            radius = plan_of(
                radius_join(
                    pts.withColumnRenamed("pid", "left_id"),
                    pts.withColumnRenamed("pid", "right_id"),
                    wm,
                    50_000.0,
                )
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastHashJoin" in rect, rect
        assert "BroadcastHashJoin" in overlap, overlap
        assert "Broadcast" not in radius, radius

    def test_pip_shuffle_path_keeps_rings_out_of_tile_shuffle(self, spark, wm):
        """broadcast_polys=False: the tile-key join must move only
        (tile_key, poly_id) — ring arrays re-attach by poly_id AFTER the
        prefilter, never duplicated per cover tile through the shuffle."""
        pts = spark.range(2000).select(
            F.col("id").alias("pid"),
            (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
            (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
        )
        polys = generate_polygons(spark, 12, seed=3)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = pip_join(pts, polys, wm, zoom=6, broadcast_polys=False)
            plan = plan_of(out)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # with broadcast disabled the tile-key join is a real shuffle
        assert "hashpartitioning(_tk" in plan, plan
        # no projection that creates/carries the tile key may include rings
        for line in plan.splitlines():
            if "AS _tk" in line or "hashpartitioning(_tk" in line:
                assert "ring_lon" not in line and "ring_lat" not in line, line

    def test_pip_shuffle_path_matches_broadcast_path(self, spark, wm):
        pts = spark.range(800).select(
            F.col("id").alias("pid"),
            (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
            (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
        )
        polys = generate_polygons(spark, 15, seed=4)
        a = pip_join(pts, polys, wm, zoom=6, broadcast_polys=True)
        b = pip_join(pts, polys, wm, zoom=6, broadcast_polys=False)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    def test_bucketed_tables_join_without_exchange(self, spark, wm):
        """Co-bucketed tables pre-pay the shuffle at write time: a join
        on the bucket key between them must plan ZERO exchanges."""
        from tile_grid_spark.sources.io import write_bucketed

        def mk(seed, n):
            pts = spark.range(n).select(
                (F.col("id") + seed).alias("pid"),
                ((F.col("id") * 7 + seed) % 360 - 180.0).cast("double").alias("lon"),
                ((F.col("id") * 13 + seed) % 160 - 80.0).cast("double").alias("lat"),
            )
            t = G.with_tile(pts, wm, 8)
            return t.withColumn("tile_key", G.tile_key("tile_x", "tile_y")).select(
                "pid", "tile_key"
            )

        a, b = mk(0, 5000), mk(17, 4000)
        write_bucketed(a, "tgs_bucket_a", 8, ("tile_key",), ("tile_key",))
        write_bucketed(b, "tgs_bucket_b", 8, ("tile_key",), ("tile_key",))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ta, tb = spark.table("tgs_bucket_a"), spark.table("tgs_bucket_b")
            joined = ta.join(tb, "tile_key").select(
                "tile_key", ta.pid.alias("pid_a"), tb.pid.alias("pid_b")
            )
            plan = plan_of(joined)
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            # parity with the plain (shuffling) join
            want = a.join(b, "tile_key").select(
                "tile_key", a.pid.alias("pid_a"), b.pid.alias("pid_b")
            )
            assert joined.exceptAll(want).isEmpty() and want.exceptAll(joined).isEmpty()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS tgs_bucket_a")
            spark.sql("DROP TABLE IF EXISTS tgs_bucket_b")

    def test_assignment_wholestage_codegen(self, spark, wm):
        pts = spark.range(1000).select(
            (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
            (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
        )
        out = G.with_tile(pts, wm, 10)
        plan = plan_of(out)
        # '*(n)' prefixes mark WholeStageCodegen stages in the plan string
        assert plan.lstrip().startswith("*("), plan
        # no Python evaluation anywhere in the hot path
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_asof_join_single_shuffle_no_join_node(self, spark):
        """The as-of join must compile to union + one hash exchange on the
        keys + running window — never a join operator (a theta-join plan
        is quadratic per key and anti-scales)."""
        from tile_grid_spark.operators.asof import asof_join

        left = spark.range(1000).select(
            (F.col("id") % 7).alias("k"),
            F.timestamp_seconds(F.col("id") * 60).alias("lts"),
            F.col("id").alias("lid"),
        )
        right = spark.range(500).select(
            (F.col("id") % 7).alias("k"),
            F.timestamp_seconds(F.col("id") * 97).alias("rts"),
            F.col("id").alias("rid"),
        )
        out = asof_join(left, right, ["k"], "lts", "rts", ["rid"])
        plan = plan_of(out)
        for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                     "BroadcastNestedLoopJoin"):
            assert node not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Window" in plan and "Union" in plan

    def test_brute_force_topk_uses_window_group_limit(self, spark):
        """The rank<=k filter must push a per-partition top-k below the
        window exchange (WindowGroupLimit) — without it every batch's
        local top-k rides the shuffle whole."""
        from tile_grid_spark.operators.similarity import brute_force_topk_arrow

        emb = F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.pmod(F.xxhash64(F.col("id"), i), F.lit(100)) / 50.0 - 1.0,
        )
        q = spark.range(4).select(F.col("id").alias("query_id"), emb.alias("embedding"))
        c = spark.range(1000).select(F.col("id").alias("cand_id"), emb.alias("embedding"))
        out = brute_force_topk_arrow(q, c, k=3)
        plan = plan_of(out)
        assert "WindowGroupLimit" in plan, plan

    def test_per_tile_agg_partial_aggregation(self, spark, wm):
        pts = spark.range(10000).select(
            (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
            (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
        )
        agg = G.with_tile(pts, wm, 10).groupBy("tile_x", "tile_y").count()
        plan = plan_of(agg)
        # map-side combine (partial_count) before the exchange
        assert "partial_count" in plan, plan


class TestLegacyEnumeration:
    def test_matches_core_iterator(self, spark, wm):
        from tile_grid_spark.core import Grid, grid_iterator

        g = Grid.web_mercator()
        limits = g.tile_limits(g.extent, 0)
        expected = list(grid_iterator(0, 2, limits))
        got = [
            (r.zoom, r.tile_x, r.tile_y)
            for r in C.enumerate_legacy(spark, g, g.extent, 0, 0, 2)
            .orderBy("zoom", "tile_x", "tile_y")
            .collect()
        ]
        assert got == sorted(expected)

    def test_empty_params(self, spark):
        from tile_grid_spark.core import Grid

        g = Grid.web_mercator()
        assert C.enumerate_legacy(spark, g, g.extent, 0, 3, 2).count() == 0


class TestTileLayoutWrite:
    def test_partition_pruning_on_zoom(self, spark, wm, tmp_path):
        """write_partitioned layout must let zoom filters prune partitions
        and tile ranges skip files (the 100 TB read path)."""
        from tile_grid_spark.functions import grid_cols as G
        from tile_grid_spark.sources.io import write_partitioned
        from pyspark.sql import functions as F

        pts = spark.range(20000).select(
            (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
            (F.col("id") % 160 - 80.0).cast("double").alias("lat"),
        )
        out = G.with_tiles_multizoom(pts, wm, [4, 6, 8])
        path = str(tmp_path / "tiles")
        write_partitioned(out, path)

        back = spark.read.parquet(path).filter(F.col("zoom") == 6)
        plan = plan_of(back)
        assert "PartitionFilters: [isnotnull(zoom" in plan, plan
        assert back.count() == 20000  # only z6 rows
        # file-level min/max skipping: a narrow tile_x range reads fewer
        # rows than a full scan would (statistically certain given the sort)
        narrow = spark.read.parquet(path).filter(
            (F.col("zoom") == 8) & (F.col("tile_x") < 5)
        )
        assert "PushedFilters: [" in plan_of(narrow)
        assert 0 < narrow.count() < 20000


class TestRound3PlanShapes:
    def test_hamming_band_join_is_equi_join(self, spark):
        """Candidate generation must be a hash/merge equi-join on the
        short (band, band_bits) key — never a nested-loop cross."""
        from tile_grid_spark.operators.dedup import hamming_near_pairs

        df = spark.range(0, 500).select(
            F.col("id").alias("image_id"), F.xxhash64("id").alias("phash")
        )
        plan = plan_of(hamming_near_pairs(df, "image_id", "phash", max_hamming=6))
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_quality_filter_no_shuffle_before_agg(self, spark, sf_dir):
        """The rule filter is a mapper: exactly the aggregate's own
        exchange, nothing upstream (filter happens scan-side)."""
        from tile_grid_spark.functions.text import with_quality_filter

        d = read_table(spark, sf_dir, "documents")
        flags = with_quality_filter(d).groupBy("source").agg(
            F.sum(F.col("passes").cast("bigint")).alias("n_pass")
        )
        plan = plan_of(flags)
        assert plan.count("Exchange") == 1, plan
        assert "Python" not in plan, plan  # all-native columns, no UDF

    def test_quality_filter_prunes_scan_columns(self, spark, sf_dir):
        from tile_grid_spark.functions.text import with_quality_filter

        d = read_table(spark, sf_dir, "documents")
        out = with_quality_filter(d).filter("passes").select("doc_id")
        plan = plan_of(out)
        scan = plan[plan.index("FileScan"):].splitlines()[0]
        assert "lang" not in scan and "n_chars" not in scan, scan

    def test_image_pyramid_single_narrow_pass(self, spark):
        """No shuffle anywhere: the pyramid inherits the input
        partitioning (map-side only)."""
        from tile_grid_spark.functions.multimodal import image_pyramid
        from tile_grid_spark.sources.datagen import generate_images

        pyr = image_pyramid(generate_images(spark, 16, seed=1), levels=2)
        plan = plan_of(pyr)
        assert "Exchange" not in plan, plan

    def test_connected_components_star_round_shapes(self, spark):
        """The window-shaped star step keeps its load-bearing plan
        shape: the whole step in ONE exchange (the 1.8x win — star
        rounds are pure shuffle)."""
        from tile_grid_spark.operators.cluster import _large_star

        e = spark.range(0, 1000).select(
            (F.col("id") % 97).alias("u"), F.col("id").alias("v")
        )
        win_plan = plan_of(_large_star(e))
        final = win_plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") == 1, final


class TestTrainingShards:
    def test_shard_export_deterministic_manifest(self, spark, tmp_path, sf_dir):
        from tile_grid_spark.sources.io import read_table, write_training_shards

        d = read_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
        p1 = str(tmp_path / "shards1")
        m1 = write_training_shards(d, p1, n_shards=4, id_col="doc_id", sort_cols=("doc_id",))
        assert m1["total_rows"] == d.count()
        assert set(m1["shards"]) == {0, 1, 2, 3}
        # balanced-ish (md5 uniformity over 500 docs): no empty shard
        assert all(v["rows"] > 0 for v in m1["shards"].values())

        # reproducible: a differently-partitioned re-export produces the
        # SAME per-shard membership (fingerprints equal)
        p2 = str(tmp_path / "shards2")
        m2 = write_training_shards(
            d.repartition(13), p2, n_shards=4, id_col="doc_id", sort_cols=("doc_id",)
        )
        assert {k: v["fingerprint"] for k, v in m1["shards"].items()} == {
            k: v["fingerprint"] for k, v in m2["shards"].items()
        }

        # append-stability: a row's shard never depends on the rest of
        # the data — exporting HALF the corpus assigns the shared rows
        # to the same shards
        half = d.filter("doc_id < 250")
        p3 = str(tmp_path / "shards3")
        write_training_shards(half, p3, n_shards=4, id_col="doc_id")
        full = {r.doc_id: r.shard for r in spark.read.parquet(p1).select("doc_id", "shard").collect()}
        part = {r.doc_id: r.shard for r in spark.read.parquet(p3).select("doc_id", "shard").collect()}
        assert all(full[k] == v for k, v in part.items())

        # manifest file exists and matches the return value
        import json as _json

        with open(p1 + "/_manifest.json") as f:
            on_disk = _json.load(f)
        assert on_disk["total_rows"] == m1["total_rows"]
        assert {int(k): v for k, v in on_disk["shards"].items()} == m1["shards"]
