"""plans/lineage: the fingerprint observed on a unit's write equals the
audit oracle recomputed from the written files, a unit costs one Spark
job (a resumed one none), and the driver-side `_lineage` log reads what
older Spark-written logs and crashed records leave behind."""

from __future__ import annotations

import math
import os
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from tile_grid_spark.plans.lineage import (
    LINEAGE_SCHEMA,
    LineageLog,
    dataset_fingerprint,
    run_stage,
)


def _shapes(spark):
    ids = spark.range(300).repartition(3)
    return {
        "str_bigint": ids.select(
            "id", F.format_string("img-%012d", "id").alias("image_id"),
            (F.col("id") * 7919).alias("v"),
        ),
        "binary": spark.createDataFrame(
            [(1, b"\x1a\x05\x0a\x01a"), (2, b""), (3, None), (4, bytes(range(256)))],
            "tile BIGINT, mvt BINARY",
        ),
        "arrays": spark.createDataFrame(
            [
                ("poly-1", [0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0],
                 [[0.0, 1.0], [float("nan")]]),
                ("poly-2", [], [], []),
                ("poly-3", None, [None, 2.5], None),
            ],
            "poly_id STRING, ring_lon ARRAY<DOUBLE>, ring_lat ARRAY<DOUBLE>, "
            "rings ARRAY<ARRAY<DOUBLE>>",
        ),
        "doubles": spark.createDataFrame(
            [(0.0,), (-0.0,), (math.nan,), (None,), (math.inf,), (-math.inf,), (1e-308,)],
            "x DOUBLE",
        ).withColumn("y", F.col("x") * -1.0),
        "empty": ids.select("id", F.lit("x").alias("s")).filter("id < 0"),
    }


@pytest.mark.parametrize("shape", ["str_bigint", "binary", "arrays", "doubles", "empty"])
def test_observed_fingerprint_equals_readback(spark, tmp_path, shape):
    log = LineageLog(spark, str(tmp_path))
    df = _shapes(spark)[shape]
    run_stage(spark, log, "s", [shape], lambda _u: df)
    unit_dir = os.path.join(str(tmp_path), "s", f"unit={shape}")
    (rec,) = log.summary().collect()
    n, fp, _ = dataset_fingerprint(spark.read.parquet(unit_dir))
    assert (rec.row_count, rec.fingerprint) == (n, fp)
    assert n == df.count()
    # n_partitions counts the files the write produced
    parts = [f for f in os.listdir(unit_dir) if f.startswith("part-")]
    assert rec.n_partitions == len(parts) >= 1


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"lineage-test-{uuid.uuid4().hex}"
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_unit_costs_one_job_and_resume_none(spark, tmp_path):
    log = LineageLog(spark, str(tmp_path))

    def build(unit):
        return spark.range(1000).select("id", F.lit(unit).alias("unit"))

    with _jobs(spark) as ran:
        r1 = run_stage(spark, log, "narrow", ["a"], build)
    assert r1.ran_units == ["a"]
    assert len(ran) == 1, ran
    with _jobs(spark) as resumed:
        r2 = run_stage(spark, log, "narrow", ["a"], build)
    assert r2.skipped_units == ["a"]
    assert resumed == []


def test_spark_written_lineage_still_resumes(spark, tmp_path):
    root = str(tmp_path)
    log = LineageLog(spark, root)
    run_stage(spark, log, "old", ["a"], lambda _u: spark.range(3))
    # replace the log with one written by Spark itself (part-* files,
    # _SUCCESS, .crc side files), as earlier versions of run_stage did
    spark.createDataFrame(log.summary().collect(), LINEAGE_SCHEMA).repartition(2).write.mode(
        "overwrite"
    ).parquet(log.path + "-spark")
    for f in os.listdir(log.path):
        os.remove(os.path.join(log.path, f))
    os.rmdir(log.path)
    os.rename(log.path + "-spark", log.path)
    assert "_SUCCESS" in os.listdir(log.path)
    assert any(f.endswith(".crc") for f in os.listdir(log.path))

    r = run_stage(spark, log, "old", ["a", "b"], lambda _u: spark.range(3))
    assert (r.ran_units, r.skipped_units) == (["b"], ["a"])
    assert sorted(row.unit for row in log.summary().collect()) == ["a", "b"]


def test_crashed_record_temp_file_is_ignored(spark, tmp_path):
    log = LineageLog(spark, str(tmp_path))
    run_stage(spark, log, "st", ["a"], lambda _u: spark.range(3))
    # a crash between the temp write and the rename inside record()
    with open(os.path.join(log.path, ".part-crashed.parquet.tmp"), "wb") as fh:
        fh.write(b"PAR1 truncated")
    assert log.completed_units("st") == {"a"}
    assert [row.unit for row in log.summary().collect()] == ["a"]
    r = run_stage(spark, log, "st", ["a", "b"], lambda _u: spark.range(3))
    assert (r.ran_units, r.skipped_units) == (["b"], ["a"])


def test_lineage_log_schema_is_unchanged(spark, tmp_path):
    log = LineageLog(spark, str(tmp_path))
    run_stage(spark, log, "st", ["a"], lambda _u: spark.range(3))
    want = spark.createDataFrame([], LINEAGE_SCHEMA).schema
    assert [(f.name, f.dataType) for f in log.summary().schema] == [
        (f.name, f.dataType) for f in want
    ]
