"""Table-catalog sinks: DDL generated from StructType + Iceberg/parquet writers.

Single-sources the schema (SURVEY §1.3: the reference's Trino DDL and its
Spark-written schemas drifted apart — e.g. DDL says tweet_count/is_bot while
Spark writes post_count/is_untrustworthy). Here every external DDL string is
GENERATED from the one StructType, extending the reference's auto-DDL sketch
(reference kafka_to_bronze_tiktok.py:180-219) to arbitrary nesting.

Iceberg itself needs a catalog on the classpath; `write_table` degrades to a
partitioned parquet path sink when none is configured, keeping the same
logical contract (append/overwrite by dt) so tests run in this container and
the identical call works against a real Iceberg catalog (S11/S12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# keyed by DataType.simpleString() output
_SIMPLE = {
    "string": "STRING",
    "bigint": "BIGINT",
    "int": "INT",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP_NTZ",
    "binary": "BINARY",
}


def type_ddl(dt: T.DataType) -> str:
    """Spark type -> ANSI-ish DDL type, recursing through nesting."""
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name}: {type_ddl(f.dataType)}" for f in dt.fields)
        return f"STRUCT<{inner}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{type_ddl(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{type_ddl(dt.keyType)}, {type_ddl(dt.valueType)}>"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision}, {dt.scale})"
    name = dt.simpleString()
    if name in _SIMPLE:
        return _SIMPLE[name]
    raise ValueError(f"no DDL mapping for Spark type {name!r}")


def create_table_ddl(
    table: str,
    schema: T.StructType,
    using: str = "iceberg",
    partition_by: tuple[str, ...] = (),
    location: str | None = None,
    comment: str | None = None,
) -> str:
    """CREATE TABLE IF NOT EXISTS, columns from the StructType.

    Partition columns stay in the column list (Spark v2 DDL form); unknown
    partition names fail fast instead of producing broken DDL.
    """
    names = {f.name for f in schema.fields}
    missing = [p for p in partition_by if p not in names]
    if missing:
        raise ValueError(f"partition columns not in schema: {missing}")
    cols = ",\n  ".join(
        f"{f.name} {type_ddl(f.dataType)}"
        + ("" if f.nullable else " NOT NULL")
        for f in schema.fields
    )
    parts = [f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n)", f"USING {using}"]
    if partition_by:
        parts.append(f"PARTITIONED BY ({', '.join(partition_by)})")
    if location:
        parts.append(f"LOCATION '{location}'")
    if comment:
        parts.append(f"COMMENT '{comment}'")
    return "\n".join(parts)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured on this session."""
    confs = spark.sparkContext.getConf().getAll()
    return any(k.startswith("spark.sql.catalog.") and "iceberg" in v.lower() for k, v in confs)


def read_table(
    spark: SparkSession,
    table: str,
    fallback_path: str | None = None,
) -> DataFrame:
    """S6: catalog table scan (`spark.table` resolves Iceberg names when a
    catalog is configured); parquet-path fallback keeps the same call shape
    in catalog-less environments. Partition pruning and column pruning apply
    identically through either path."""
    if iceberg_available(spark):
        return spark.table(table)
    if fallback_path is None:
        raise RuntimeError(f"no Iceberg catalog for {table!r} and no fallback_path given")
    return spark.read.parquet(fallback_path)


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
    fallback_path: str | None = None,
) -> None:
    """S11/S12 sink: `writeTo(table)` v2 append/overwrite when a catalog
    resolves the name; else partitioned parquet at `fallback_path` with the
    same semantics (append / dynamic partition overwrite)."""
    spark = df.sparkSession
    if iceberg_available(spark):
        w = df.writeTo(table)
        if mode == "append":
            w.append()
        elif mode == "overwrite":
            w.overwritePartitions()
        else:
            raise ValueError(f"unsupported mode {mode!r}")
        return
    if fallback_path is None:
        raise RuntimeError(
            f"no Iceberg catalog for {table!r} and no fallback_path given"
        )
    # dynamic overwrite replaces only touched partitions — the idempotent
    # partition-overwrite pattern SURVEY §7.4.4 asks for (no read-modify-write)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(fallback_path)


def merge_upsert_sql(
    target: str,
    source_view: str,
    keys: tuple[str, ...],
    columns: tuple[str, ...],
    delete_flag: str | None = None,
) -> str:
    """MERGE INTO statement for Iceberg upserts, generated from one column
    list (single-sourced like the DDL above).

    The row-level alternative to dynamic partition overwrite for targets
    that update by KEY rather than by partition (e.g. latest-profile
    tables): matched rows update in place, new keys insert, and an optional
    source-side tombstone flag deletes. On Iceberg this executes as
    merge-on-read deltas or copy-on-write file rewrites — either way
    scoped to touched files, never read-modify-write of the whole table.
    Catalog-gated like every Iceberg path here (the SQL itself is pure and
    unit-tested without one).
    """
    non_keys = [c for c in columns if c not in keys and c != delete_flag]
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    set_clause = ", ".join(f"t.{c} = s.{c}" for c in non_keys)
    cols = ", ".join(c for c in columns if c != delete_flag)
    vals = ", ".join(f"s.{c}" for c in columns if c != delete_flag)
    delete_clause = (
        f"WHEN MATCHED AND s.{delete_flag} THEN DELETE\n" if delete_flag else ""
    )
    return (
        f"MERGE INTO {target} t\n"
        f"USING {source_view} s\n"
        f"ON {on}\n"
        f"{delete_clause}"
        f"WHEN MATCHED THEN UPDATE SET {set_clause}\n"
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: tuple[str, ...] = (),
    target_file_rows: int = 1_000_000,
) -> int:
    """Compact a small-files parquet table; returns files written.

    Streaming sinks and frequent small appends leave thousands of tiny
    files per partition — at 100 TB that is scan-planning death (one task
    per file, footer reads dominate). Rewrite = read -> repartition to
    ceil(rows/target) even chunks. On Iceberg the equivalent is
    rewrite_data_files; this is the parquet-path fallback.

    Durability: the compacted copy is FULLY written to a sibling temp dir
    first (a complete durable replacement), then swapped in with
    per-partition-directory renames. Unlike an in-place dynamic overwrite
    (where the only durable copy is deleted mid-commit while the
    replacement exists only in the write-in-flight), a crash before the
    swap leaves the original untouched, and a crash mid-swap leaves every
    partition with a durable copy at `path`, `<dir>.compact-bak`, or the
    temp dir — re-running the compaction recovers. Plain parquet has no
    transaction log, so the directory rename IS the commit; renames are
    atomic on POSIX filesystems/HDFS but not on S3-style object stores —
    use Iceberg there.
    """
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_file_rows))
    tmp = path.rstrip("/") + ".compact-tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # stale leftover from an interrupted run

    w = (
        df.repartition(n_files, *[F.col(c) for c in partition_by])
        if partition_by
        else df.repartition(n_files)
    )
    writer = w.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)

    def _swap(old: str, new: str) -> None:
        bak = old + ".compact-bak"
        if os.path.exists(bak):
            shutil.rmtree(bak)
        if os.path.exists(old):
            os.rename(old, bak)
        os.rename(new, old)
        if os.path.exists(bak):
            shutil.rmtree(bak)

    if partition_by:
        prefix = f"{partition_by[0]}="
        for entry in sorted(os.listdir(tmp)):
            if entry.startswith(prefix):
                _swap(os.path.join(path, entry), os.path.join(tmp, entry))
        shutil.rmtree(tmp)
    else:
        _swap(path, tmp)
    return n_files
