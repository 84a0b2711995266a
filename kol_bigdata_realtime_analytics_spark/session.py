"""SparkSession factory.

One place for every scale-relevant config. Local mode is for tests/bench; the
same settings (AQE, skew join, Arrow, UTC) are what we'd ship on a 1000-executor
cluster — only memory/parallelism sizing changes, and the streaming checkpoint
manager, which needs a filesystem with atomic rename (see its comment).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kol_bigdata_realtime_analytics_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    cpus defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores.
    shuffle_partitions defaults to cpus — on local mode 200 partitions of a
    60k-row shuffle is pure overhead; on a real cluster AQE coalescing resizes
    anyway (spark.sql.adaptive.coalescePartitions.enabled).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- optimizer: let Catalyst + AQE do the physical planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python<->jvm boundary: always Arrow, never per-row pickle ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism for the duckdb oracle: duckdb timestamps are
        #     UTC-naive, so pin the Spark session to UTC ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- testdata events.parquet stores TIMESTAMP(NANOS): read as long ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- streaming checkpoints through Hadoop's FileSystem API: without
        #     native libhadoop the local filesystem forks `chmod`/`readlink`
        #     to set and read permissions. The default FileContext manager
        #     spawns 10 of them per checkpoint file (offsets, commits, the
        #     file-source log, each state-store delta; 35-43 ms per atomic
        #     create), this one 2 (9-12 ms): a trending micro-batch with 3
        #     state partitions went from 99 spawns to 27. The manager is
        #     only safe where rename is atomic (local disk, HDFS), as for
        #     this local[n] session's file: checkpoints; a cluster build
        #     must not copy it for object-store (s3a) checkpoints. ---
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # --- local-mode niceties (no-ops on a cluster manager) ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
