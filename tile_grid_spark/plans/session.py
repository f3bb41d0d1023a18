"""SparkSession construction with scale-appropriate defaults.

Single place where engine-wide Spark confs are set so local tests, the
bench harness and spark-submit jobs agree. On a real cluster the same
builder runs unchanged; only master/executor sizing comes from outside
(spark-submit), never from code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "tile-grid-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting are load-bearing at
        # 100 TB (dense-tile skew); keep on everywhere so plans match.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer hash joins over sort-merge where a side fits per-task
        # memory: planner-side when stats prove it (preferSortMergeJoin
        # =false), and at runtime from EXACT post-shuffle sizes (the AQE
        # local-map threshold — per-PARTITION bound, so the rule scales
        # with partition sizing, not data volume). Measured on the
        # banded-fingerprint self-join (16M rows/side, local[32]):
        # 1.57s -> 1.04s — the two 16M-row sorts were the join's cost.
        # AQE skew splitting covers SHJ too, and a side whose stats are
        # unknown (post-checkpoint) keeps sort-merge, so the OOM risk
        # profile is the guide's §3.1 trade, bounded by partition size.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_THRESHOLD", "128m"),
        )
        # Arrow for every pandas UDF; batch size tuned down because image
        # `bytes` rows are wide (~12 KB at 64x64 RGB).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Engine math reproduces IEEE edge semantics (inf/NaN clamps) itself;
        # ANSI throw-on-overflow would break reference-faithful casts.
        .config("spark.sql.ansi.enabled", "false")
        # Pinned so epoch arithmetic (hourly rollups, sessions) is
        # deployment-independent: a non-UTC session timezone would shift
        # naive-datetime views of event time by the UTC offset.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # bucketed tables (sources/io.write_bucketed) need a catalog
        # warehouse; keep it out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/tgs-warehouse"),
        )
    )
    # Shuffle/localCheckpoint scratch on tmpfs when available: the
    # sandbox's /tmp sits on a SHARED virtio disk whose writeback puts
    # kworkers into D-state storms that degrade every concurrent
    # measurement (measured: calibration probes 20+ -> 5-8 u/s during
    # suite runs); /dev/shm is the sandbox analog of a real executor's
    # local NVMe. Overridable via SPARK_LOCAL_DIRS; production clusters
    # set their own local dirs through spark-submit.
    if "spark.local.dir" not in (extra_conf or {}):
        local_dir = os.environ.get("SPARK_LOCAL_DIRS")
        if local_dir is None and os.path.isdir("/dev/shm"):
            local_dir = "/dev/shm/tgs-spark-local"
        if local_dir:
            os.makedirs(local_dir, exist_ok=True)
            b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
