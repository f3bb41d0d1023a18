"""Per-stage checkpointing with partition lineage + metrics (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Model: a pipeline is a sequence of named stages over a partitioned key
domain (default: zoom). Each stage run:

  1. plans the set of work units (key values) it must produce
  2. skips the units already recorded COMPLETE in the stage's
     `_lineage` table (resume)
  3. computes + writes each pending unit's output atomically
     (write to `_tmp-<unit>` then rename into place)
  4. appends a lineage row: stage, unit, row_count, fingerprint,
     n_partitions, wall seconds

A unit costs exactly one Spark job: its write. The row count and the
fingerprint ride that job through `DataFrame.observe`, so nothing reads
the output back. `n_partitions` is the number of `part-*` files the write
produced (an empty unit still writes one). The audit oracle
`dataset_fingerprint` recomputes `(row_count, fingerprint)` from any
written unit with the same row hash (`row_hash`).

The lineage table is plain parquet next to the stage output, so any Spark
session (or DuckDB) can audit it. The driver writes and reads it with
pyarrow, without Spark jobs: each record is one small parquet file,
written under a dot-prefixed temp name and renamed into place, so a crash
mid-record leaves only a hidden file that both pyarrow and Spark ignore.
Like the unit rename, this assumes the output root is a local (or
locally mounted) filesystem.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage STRING, unit STRING, status STRING, row_count BIGINT, "
    "fingerprint BIGINT, n_partitions INT, wall_sec DOUBLE, ts DOUBLE"
)
_ARROW_TYPES = {"STRING": pa.string(), "BIGINT": pa.int64(), "INT": pa.int32(),
                "DOUBLE": pa.float64()}
_ARROW_SCHEMA = pa.schema(
    [(name, _ARROW_TYPES[typ]) for name, typ in
     (field.split() for field in LINEAGE_SCHEMA.split(","))]
)


def row_hash(df: DataFrame) -> Column:
    """xxhash64 over every column of `df`, in column order: the per-row
    hash both fingerprint paths fold."""
    return F.xxhash64(*[F.col(c) for c in df.columns])


def _fingerprint_aggs(h: Column) -> tuple[Column, Column]:
    return F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("fp")


def dataset_fingerprint(df: DataFrame) -> tuple[int, int, int]:
    """(row_count, xor-fold fingerprint, n_partitions) in one pass.

    XOR of per-row xxhash64 over all columns is order- and
    partitioning-insensitive — the property that makes the resume check
    valid under AQE re-planning and different parallelism. Here
    n_partitions counts the non-empty input partitions of `df`; run_stage
    records the (row_count, fingerprint) this returns for the written unit.
    """
    row = (
        df.select(row_hash(df).alias("h"), F.spark_partition_id().alias("p"))
        .agg(*_fingerprint_aggs(F.col("h")), F.countDistinct("p").alias("nparts"))
        .collect()[0]
    )
    return int(row.n), int(row.fp if row.fp is not None else 0), int(row.nparts)


class LineageLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "_lineage")

    def completed_units(self, stage: str) -> set[str]:
        if not os.path.isdir(self.path):
            return set()
        # Spark's own hidden-file rule: `_SUCCESS`, `.crc` and our
        # dot-prefixed temp files are not data
        files = [os.path.join(self.path, f) for f in sorted(os.listdir(self.path))
                 if not f.startswith((".", "_"))]
        if not files:
            return set()
        rows = pq.read_table(files, columns=["stage", "unit", "status"]).to_pylist()
        return {r["unit"] for r in rows if r["stage"] == stage and r["status"] == "complete"}

    def record(self, stage: str, unit: str, row_count: int, fingerprint: int,
               n_partitions: int, wall_sec: float) -> None:
        row = dict(stage=stage, unit=unit, status="complete", row_count=row_count,
                   fingerprint=fingerprint, n_partitions=n_partitions,
                   wall_sec=wall_sec, ts=time.time())
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        pq.write_table(pa.Table.from_pylist([row], schema=_ARROW_SCHEMA), tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def summary(self) -> DataFrame:
        return self.spark.read.parquet(self.path)


@dataclass
class StageResult:
    stage: str
    ran_units: list[str]
    skipped_units: list[str]
    rows: int


def run_stage(
    spark: SparkSession,
    log: LineageLog,
    stage: str,
    units: list[str],
    build_unit,  # Callable[[str], DataFrame]
    out_root: str | None = None,
) -> StageResult:
    """Execute a stage resumably: skip COMPLETE units, write pending units
    atomically, log lineage per unit."""
    out_root = out_root or os.path.join(log.root, stage)
    os.makedirs(out_root, exist_ok=True)
    done = log.completed_units(stage)
    ran, skipped, total_rows = [], [], 0
    for unit in units:
        final_path = os.path.join(out_root, f"unit={unit}")
        if unit in done and os.path.exists(final_path):
            skipped.append(unit)
            continue
        t0 = time.time()
        df = build_unit(unit)
        tmp = os.path.join(out_root, f"_tmp-{unit}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        obs = Observation()
        df.observe(obs, *_fingerprint_aggs(row_hash(df))).write.mode("overwrite").parquet(tmp)
        n, fp = int(obs.get["n"]), int(obs.get["fp"] or 0)
        nparts = sum(1 for f in os.listdir(tmp) if f.startswith("part-"))
        if os.path.exists(final_path):
            shutil.rmtree(final_path)
        os.replace(tmp, final_path)
        log.record(stage, unit, n, fp, nparts, time.time() - t0)
        ran.append(unit)
        total_rows += n
    return StageResult(stage, ran, skipped, total_rows)
