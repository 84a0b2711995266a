"""Serving surface + streaming sink tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.serving import (
    autocomplete,
    get_kol,
    list_kols,
    platform_stats,
    score_band,
    search_kols,
    top_kols,
)
from kol_bigdata_realtime_analytics_spark.streaming.sinks import (
    foreach_batch_ranking_sink,
    write_stream_to_ranking,
)
from kol_bigdata_realtime_analytics_spark.streaming.trending import (
    scored,
    windowed_engagement,
)

ROWS = [
    # kol_id, platform, username, display_name, followers_count, verified, trust_score, total_views, total_likes, avg_engagement_rate
    ("k1", "tiktok", "alice", "Alice A", 5_000_000, True, 88.0, 900, 90, 2.0),
    ("k2", "tiktok", "albert", "Albert B", 150_000, True, 75.0, 800, 70, 3.5),
    ("k3", "youtube", "bob", "Bob C", 25_000, False, 55.0, 700, 60, 1.0),
    ("k4", "youtube", "carol", "Carol D", 900, False, 35.0, 100, 5, 0.5),
    ("k5", "twitter", "alicia", "Alicia E", 80_000, False, 62.0, 300, 30, 4.0),
]
SCHEMA = (
    "kol_id string, platform string, username string, display_name string, "
    "followers_count long, verified boolean, trust_score double, "
    "total_views long, total_likes long, avg_engagement_rate double"
)


@pytest.fixture(scope="module")
def dim_kol(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_list_kols_pagination(dim_kol):
    page1 = [r["kol_id"] for r in list_kols(dim_kol, limit=2).collect()]
    page2 = [r["kol_id"] for r in list_kols(dim_kol, limit=2, offset=2).collect()]
    assert page1 == ["k1", "k2"]
    assert page2 == ["k5", "k3"]
    with pytest.raises(ValueError):
        list_kols(dim_kol, sort_by="c_custkey; DROP TABLE x")  # sanitized


def test_get_and_search(dim_kol):
    assert get_kol(dim_kol, "k3").collect()[0]["username"] == "bob"
    hits = [r["username"] for r in search_kols(dim_kol, "ali").collect()]
    assert hits == ["alice", "alicia"]  # ordered by followers


def test_autocomplete_prefix(dim_kol):
    got = [r["username"] for r in autocomplete(dim_kol, "al").collect()]
    assert got == ["albert", "alice", "alicia"]


def test_top_kols_rank(dim_kol):
    glob = top_kols(dim_kol, "trust_score", k=3).collect()
    assert [(r["kol_id"], r["rank"]) for r in glob] == [("k1", 1), ("k2", 2), ("k5", 3)]
    per = top_kols(dim_kol, "followers_count", k=1, platform="youtube").collect()
    assert per[0]["kol_id"] == "k3" and per[0]["rank"] == 1


def test_score_band(dim_kol):
    rising = [r["kol_id"] for r in score_band(dim_kol, "trust_score", 40, 79).collect()]
    assert rising == ["k2", "k5", "k3"]


def test_platform_stats_cube(dim_kol):
    stats = {r["platform"]: r for r in platform_stats(dim_kol).collect()}
    assert stats["__all__"]["total_kols"] == 5
    assert stats["__all__"]["verified_kols"] == 2
    assert stats["tiktok"]["total_kols"] == 2
    assert stats["youtube"]["max_followers"] == 25_000


def test_ranking_sink_batch(spark, tmp_path, dim_kol):
    out = str(tmp_path / "ranking")
    sink = foreach_batch_ranking_sink(out, "trust_score", ["kol_id"], k=3)
    sink(dim_kol, epoch_id=7)
    back = spark.read.parquet(out).orderBy(F.col("trust_score").desc()).collect()
    assert [r["kol_id"] for r in back] == ["k1", "k2", "k5"]
    assert back[0]["epoch_id"] == 7


def test_stream_to_ranking_e2e(spark, tmp_path):
    """events stream -> windowed trending -> top-k ranking parquet, no collect."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=20 * i), i % 3, "view", float(100 * (i % 3 + 1)))
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string, value double")
    src = str(tmp_path / "src")
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    plan = scored(windowed_engagement(stream))
    q = write_stream_to_ranking(
        plan,
        out_path=str(tmp_path / "rank_out"),
        checkpoint=str(tmp_path / "ckpt"),
        score_col="trending_score",
        key_cols=["key"],
        query_name="t_rank_sink",
    )
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(str(tmp_path / "rank_out"))
    rows_out = out.orderBy(F.col("trending_score").desc()).collect()
    assert len(rows_out) > 0
    # highest-value key (2 -> value 300) must outrank key 0
    assert rows_out[0]["key"] == 2


def test_ranking_sink_serves_the_last_epoch_in_one_file(spark, tmp_path, dim_kol):
    """Each epoch replaces the served file by one rename: after 5 epochs one
    visible file holds the last epoch's k rows and no hidden file is left.
    A data file another writer left in the directory is deleted, so
    readers never add its rows to the ranking's."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "ranking")
    os.makedirs(out)
    pq.write_table(dim_kol.toArrow(), os.path.join(out, "part-0.parquet"))
    sink = foreach_batch_ranking_sink(out, "trust_score", ["kol_id"], k=3)
    for e in range(5):
        # epoch e lifts k4 by 20 points a step, so the top 3 change over time
        sink(dim_kol.withColumn("trust_score", F.col("trust_score")
                                + F.when(F.col("kol_id") == "k4", 20.0 * e).otherwise(0.0)), e)
    assert os.listdir(out) == ["ranking.parquet"]
    back = spark.read.parquet(out).orderBy(F.col("trust_score").desc()).collect()
    assert [(r["kol_id"], r["trust_score"], r["epoch_id"]) for r in back] == [
        ("k4", 115.0, 4), ("k1", 88.0, 4), ("k2", 75.0, 4)]


def test_ranking_sink_schema_matches_sparks_own_write(spark, tmp_path, dim_kol):
    """A reader sees the schema Spark's parquet writer would have given:
    the ranked columns plus an int epoch_id, every field nullable."""
    from pyspark.sql import types as T

    out = str(tmp_path / "ranking")
    foreach_batch_ranking_sink(out, "trust_score", ["kol_id"], k=3)(dim_kol, 7)
    ranked = dim_kol.orderBy(F.col("trust_score").desc()).limit(3).withColumn("epoch_id", F.lit(7))
    ranked.write.parquet(str(tmp_path / "spark_written"))
    got = spark.read.parquet(out).schema
    assert got == spark.read.parquet(str(tmp_path / "spark_written")).schema
    assert got == T.StructType([T.StructField(f.name, f.dataType, True) for f in ranked.schema])
    assert got["epoch_id"].dataType == T.IntegerType()


def test_ranking_sink_skips_a_redelivered_epoch(tmp_path, dim_kol):
    """A re-delivered epoch id (after a recovery) rewrites nothing, even
    when the re-delivered batch differs; the next epoch id does."""
    out = str(tmp_path / "ranking")
    sink = foreach_batch_ranking_sink(out, "trust_score", ["kol_id"], k=3)
    sink(dim_kol, 3)
    path = os.path.join(out, "ranking.parquet")
    before = os.stat(path)
    sink(dim_kol.withColumn("trust_score", -F.col("trust_score")), 3)
    after = os.stat(path)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    assert os.listdir(out) == ["ranking.parquet"]
    sink(dim_kol, 4)
    assert os.stat(path).st_ino != before.st_ino


def test_ranking_sink_publishes_an_empty_batch(spark, tmp_path, dim_kol):
    """An empty batch publishes a 0-row file that still carries the schema."""
    out = str(tmp_path / "ranking")
    sink = foreach_batch_ranking_sink(out, "trust_score", ["kol_id"], k=3)
    sink(dim_kol, 0)
    schema = spark.read.parquet(out).schema
    sink(dim_kol.limit(0), 1)
    assert os.listdir(out) == ["ranking.parquet"]
    back = spark.read.parquet(out)
    assert back.schema == schema
    assert back.count() == 0


def test_ranking_sink_keeps_the_served_name_through_a_swap(spark, tmp_path, dim_kol):
    """A reader that listed the served file before a swap still opens it and
    reads a whole epoch: the newer one, not FILE_NOT_EXIST."""
    out = str(tmp_path / "ranking")
    sink = foreach_batch_ranking_sink(out, "trust_score", ["kol_id"], k=3)
    sink(dim_kol, 0)
    listed = spark.read.parquet(out)
    assert len(listed.inputFiles()) == 1
    sink(dim_kol, 1)
    assert sorted(r["epoch_id"] for r in listed.collect()) == [1, 1, 1]


@pytest.mark.parametrize("uri", ["file:/srv/ranking", "hdfs://nn/ranking", "s3a://bucket/ranking"])
def test_ranking_sink_refuses_a_uri(uri):
    """out_path is written with os calls, so a Hadoop URI is an error rather
    than a relative local directory named after it."""
    with pytest.raises(ValueError, match="local path"):
        foreach_batch_ranking_sink(uri, "trust_score", ["kol_id"])
