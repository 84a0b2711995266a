"""Bronze layer: the canonical ingestion envelope + per-source payload schemas.

One schema registry (the reference's schemas drifted across three files —
SURVEY.md §1.3; here DDL is GENERATED from the StructTypes by
`sources/catalog.create_table_ddl`, single-sourced, extending the auto-DDL
sketch at reference kafka_to_bronze_tiktok.py:180-219).

Envelope (reference load_bronze_data.py:22-28): every raw record rides as
  {kol_id, platform, source, payload(JSON string), ingest_ts, dt}
partitioned by dt — dt pruning is what keeps a 100 TB bronze scan bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("kol_id", T.StringType(), False),
        T.StructField("platform", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("ingest_ts", T.StringType(), True),
        T.StructField("dt", T.DateType(), True),
    ]
)

#: per-source payload schemas (FIXTURES.md §7 shapes)
PAYLOAD_SCHEMAS: dict[str, T.StructType] = {
    "wikipedia_backlinko": T.StructType(
        [
            T.StructField("Name", T.StringType()),
            T.StructField("Link", T.StringType()),
            T.StructField("Subscribers (millions)", T.StringType()),
            T.StructField("Category", T.StringType()),
        ]
    ),
    "twitter_human_bots": T.StructType(
        [
            T.StructField(
                "profile",
                T.StructType(
                    [
                        T.StructField("screen_name", T.StringType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("description", T.StringType()),
                        T.StructField("followers_count", T.LongType()),
                        T.StructField("friends_count", T.LongType()),
                        T.StructField("statuses_count", T.LongType()),
                        T.StructField("favourites_count", T.LongType()),
                        T.StructField("verified", T.BooleanType()),
                        T.StructField("created_at", T.StringType()),
                        T.StructField("default_profile", T.BooleanType()),
                        T.StructField("default_profile_image", T.BooleanType()),
                        T.StructField("has_url", T.BooleanType()),
                    ]
                ),
            ),
            T.StructField(
                "derived_features",
                T.StructType([T.StructField("followers_friends_ratio", T.DoubleType())]),
            ),
            T.StructField(
                "trust_label",
                T.StructType(
                    [
                        T.StructField("is_bot", T.IntegerType()),
                        T.StructField("is_human", T.IntegerType()),
                        T.StructField("account_type", T.StringType()),
                    ]
                ),
            ),
        ]
    ),
    "short_video_trends": T.StructType(
        [
            T.StructField("row_id", T.LongType()),
            T.StructField("author_handle", T.StringType()),
            T.StructField("platform", T.StringType()),
            T.StructField("title_keywords", T.StringType()),
            T.StructField("views", T.LongType()),
            T.StructField("likes", T.LongType()),
            T.StructField("comments", T.LongType()),
            T.StructField("shares", T.LongType()),
            T.StructField("engagement_rate", T.DoubleType()),
            T.StructField("publish_date_approx", T.StringType()),
            T.StructField("duration_sec", T.LongType()),
            T.StructField("hashtag", T.StringType()),
        ]
    ),
    "youtube_trending": T.StructType(
        [
            T.StructField("video_id", T.StringType()),
            T.StructField("channel_id", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("view_count", T.LongType()),
            T.StructField("likes", T.LongType()),
            T.StructField("comment_count", T.LongType()),
            T.StructField("publish_time", T.StringType()),
        ]
    ),
}


def read_bronze(spark: SparkSession, path: str, source: str | None = None) -> DataFrame:
    """Read bronze JSONL with the FIXED envelope schema (no inference — a
    schema-on-read inference pass over 100 TB is a full extra scan) and parse
    the payload with the per-source StructType when the source is known."""
    df = spark.read.schema(ENVELOPE_SCHEMA).json(path)
    if source is not None:
        df = df.filter(F.col("source") == source).withColumn(
            "payload", F.from_json("payload", PAYLOAD_SCHEMAS[source])
        )
    return df
