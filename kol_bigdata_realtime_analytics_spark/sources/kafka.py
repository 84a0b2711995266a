"""Kafka wire format: parsing and payload shape (SURVEY §2.1 S7/S13).

A caller reading Kafka through Spark's own `format("kafka")` passes the
reference's reader options (trending_stream.py:394-404: failOnDataLoss=false
and maxOffsetsPerTrigger backpressure) and hands the scan to
`parse_wire_dlq`. The parse is a pure DataFrame->DataFrame transform, so it
is unit-testable without a broker: anything with (value, timestamp)
columns — a kafka scan, a memory stream, a parquet fixture — goes through
the same plan. That keeps batch, streaming, and tests on ONE code path (the
reference re-implements value-parsing in each job). `to_wire` builds the
reference's sink payload (hot_path_scoring.py:489-498: key=kol_id,
value=to_json).

`from_json` is a JVM expression (whole-stage codegen, no Python round-trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: video engagement event (reference trending_stream.py:115-139 semantics)
VIDEO_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("kol_id", T.StringType(), False),
        T.StructField("platform", T.StringType(), True),
        T.StructField("video_id", T.StringType(), True),
        T.StructField("views", T.LongType(), True),
        T.StructField("likes", T.LongType(), True),
        T.StructField("comments", T.LongType(), True),
        T.StructField("shares", T.LongType(), True),
        T.StructField("event_time", T.StringType(), True),
    ]
)


def parse_wire_dlq(
    df: DataFrame,
    schema: T.StructType,
    ts_alias: str = "kafka_ts",
) -> tuple[DataFrame, DataFrame]:
    """S7 with a dead-letter side: (valid, dead) frames from ONE lineage.

    `dead` keeps the RAW value bytes + kafka timestamp, so unparseable
    events can be landed (partitioned parquet/kafka DLQ topic) and replayed
    after a schema fix — at 100 TB you never drop data you can't re-pull.
    Both frames share the parse projection; Spark evaluates the scan once
    per sink and the filter is the only difference (no double parse cost in
    a foreachBatch that persists the batch before splitting).
    """
    first_required = schema.fields[0].name
    parsed = df.select(
        F.col("value"),
        F.from_json(F.col("value").cast("string"), schema).alias("data"),
        F.col("timestamp").alias(ts_alias),
    )
    valid = parsed.filter(F.col(f"data.{first_required}").isNotNull()).select(
        "data.*", ts_alias
    )
    dead = parsed.filter(F.col(f"data.{first_required}").isNull()).select(
        F.col("value").alias("raw_value"), ts_alias
    )
    return valid, dead


def to_wire(df: DataFrame, key_col: str) -> DataFrame:
    """S13 payload shape: key=<key_col>, value=to_json(struct(*)) — the
    project of every column into one JSON value column."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
