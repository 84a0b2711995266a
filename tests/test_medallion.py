"""End-to-end medallion test: bronze JSONL envelope -> silver -> gold.

Synthetic bronze follows FIXTURES.md §7 payload shapes and the reference's
tier-ladder profile generator (tests/test_hot_path.py:48-101 semantics:
followers ladder, following = 0.1*f, posts = 0.01*f, favorites = 5*f,
verified = f > 100000).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.functions.features import (
    FEATURE_COLUMNS,
    engineer_trust_features,
)
from kol_bigdata_realtime_analytics_spark.medallion.gold import (
    build_dim_kol,
    build_dim_time,
    build_fact_performance,
    build_ml_training,
    build_platform_kpi,
    latest_per_key,
)
from kol_bigdata_realtime_analytics_spark.medallion.silver import (
    content_from_short_video,
    content_from_youtube,
    engagement_metrics,
    profiles_from_twitter,
    profiles_from_wikipedia,
    trust_features_from_twitter,
    unify_content,
    unify_profiles,
    with_profile_derived,
)
from kol_bigdata_realtime_analytics_spark.sources.bronze import (
    ENVELOPE_SCHEMA,
    read_bronze,
)
from kol_bigdata_realtime_analytics_spark.sources.catalog import create_table_ddl

TIERS = [5_000, 25_000, 150_000, 800_000, 5_000_000]


def _mk_bronze_jsonl(path):
    rows = []
    for i, f in enumerate(TIERS):
        prof = {
            "profile": {
                "screen_name": f"kol_{i}",
                "name": f"KOL {i}",
                "description": "creator account" if i % 2 == 0 else "",
                "followers_count": f,
                "friends_count": int(0.1 * f),
                "statuses_count": int(0.01 * f),
                "favourites_count": 5 * f,
                "verified": f > 100_000,
                "created_at": "2020-06-15 12:00:00",
                "default_profile": i % 2 == 1,
                "default_profile_image": False,
                "has_url": True,
            },
            "derived_features": {"followers_friends_ratio": 10.0},
            "trust_label": {"is_bot": i % 2, "is_human": 1 - i % 2,
                            "account_type": "bot" if i % 2 else "human"},
        }
        rows.append(
            {
                "kol_id": f"kol_{i}",
                "platform": "twitter",
                "source": "twitter_human_bots",
                "payload": json.dumps(prof),
                "ingest_ts": "2024-01-01T00:00:00",
                "dt": "2024-01-01",
            }
        )
        rows.append(
            {
                "kol_id": f"chan_{i}",
                "platform": "youtube",
                "source": "wikipedia_backlinko",
                "payload": json.dumps(
                    {
                        "Name": f"Channel {i}",
                        "Link": f"https://youtube.com/c/chan_{i}",
                        "Subscribers (millions)": str(round(f / 1e6, 3)),
                        "Category": "Music",
                    }
                ),
                "ingest_ts": "2024-01-01T00:00:00",
                "dt": "2024-01-01",
            }
        )
        for v in range(3):
            rows.append(
                {
                    "kol_id": f"chan_{i}",
                    "platform": "youtube",
                    "source": "youtube_trending",
                    "payload": json.dumps(
                        {
                            "video_id": f"vid_{i}_{v}",
                            "channel_id": f"chan_{i}",
                            "title": f"Video {v}",
                            "description": "d",
                            "view_count": 1000 * (v + 1) * (i + 1),
                            "likes": 100 * (v + 1),
                            "comment_count": 10 * (v + 1),
                            "publish_time": "2024-01-05",
                        }
                    ),
                    "ingest_ts": "2024-01-01T00:00:00",
                    "dt": "2024-01-01",
                }
            )
        rows.append(
            {
                "kol_id": f"kol_{i}",
                "platform": "tiktok",
                "source": "short_video_trends",
                "payload": json.dumps(
                    {
                        "row_id": i,
                        "author_handle": f"kol_{i}",
                        "platform": "tiktok",
                        "title_keywords": "dance trend",
                        "views": 20_000 * (i + 1),
                        "likes": 2_000,
                        "comments": 150,
                        "shares": 50,
                        "engagement_rate": 0.11,
                        "publish_date_approx": "2024-01-03",
                        "duration_sec": 30,
                        "hashtag": "#fyp",
                    }
                ),
                "ingest_ts": "2024-01-01T00:00:00",
                "dt": "2024-01-01",
            }
        )
    p = path / "bronze.jsonl"
    with open(p, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def bronze_path(spark, tmp_path_factory):
    return _mk_bronze_jsonl(tmp_path_factory.mktemp("bronze"))


def test_bronze_read_fixed_schema(spark, bronze_path):
    df = read_bronze(spark, bronze_path)
    assert df.columns == ["kol_id", "platform", "source", "payload", "ingest_ts", "dt"]
    assert df.count() == len(TIERS) * 6


def test_silver_profiles(spark, bronze_path):
    tw = profiles_from_twitter(read_bronze(spark, bronze_path, "twitter_human_bots"))
    wk = profiles_from_wikipedia(read_bronze(spark, bronze_path, "wikipedia_backlinko"))
    unified = with_profile_derived(unify_profiles(tw, wk))
    rows = {r["username"]: r for r in unified.collect()}
    assert len(rows) == 10
    assert rows["kol_4"]["followers_count"] == 5_000_000
    assert rows["kol_4"]["verified"] is True
    assert rows["chan_4"]["followers_count"] == 5_000_000  # "5.0" millions parsed
    assert rows["kol_0"]["followers_friends_ratio"] == pytest.approx(10.0)
    assert rows["kol_0"]["account_age_days"] > 1000


def test_silver_content_and_engagement(spark, bronze_path):
    yt = content_from_youtube(read_bronze(spark, bronze_path, "youtube_trending"))
    sv = content_from_short_video(read_bronze(spark, bronze_path, "short_video_trends"))
    content = unify_content(yt, sv)
    assert content.count() == len(TIERS) * 4  # 3 yt videos + 1 tiktok each
    em = engagement_metrics(content)
    row = em.filter((F.col("platform") == "youtube") & (F.col("kol_id") == "chan_0")).collect()[0]
    assert row["total_views"] == 1000 + 2000 + 3000
    assert row["total_posts"] == 3
    assert row["max_views"] == 3000 and row["min_views"] == 1000


def test_gold_star_schema(spark, bronze_path):
    tw_bronze = read_bronze(spark, bronze_path, "twitter_human_bots")
    profiles = with_profile_derived(
        unify_profiles(
            profiles_from_twitter(tw_bronze),
            profiles_from_wikipedia(read_bronze(spark, bronze_path, "wikipedia_backlinko")),
        )
    )
    trust = trust_features_from_twitter(tw_bronze)
    content = unify_content(
        content_from_youtube(read_bronze(spark, bronze_path, "youtube_trending")),
        content_from_short_video(read_bronze(spark, bronze_path, "short_video_trends")),
    )
    em = engagement_metrics(content)

    dim_kol = build_dim_kol(profiles, trust, em)
    kols = {r["username"]: r for r in dim_kol.collect()}
    assert kols["kol_4"]["kol_tier"] == "Mega"
    assert kols["kol_0"]["kol_tier"] == "Nano"
    # human-labeled verified mega account scores high; bot-labeled low
    assert kols["kol_4"]["trust_score"] > 70
    assert kols["kol_1"]["trust_score"] < kols["kol_0"]["trust_score"]
    assert 0 <= kols["kol_1"]["trust_score"] <= 100

    fact = build_fact_performance(content, dim_kol)
    assert fact.count() == content.count()
    f0 = fact.filter(F.col("content_id") == "vid_0_0").collect()[0]
    assert f0["platform_key"] == 1 and f0["date_key"] == 20240105
    assert f0["engagement"] == 110

    kpi = {r["platform"]: r for r in build_platform_kpi(content).collect()}
    assert kpi["youtube"]["total_kols"] == 5
    assert kpi["youtube"]["total_content"] == 15

    ml = build_ml_training(trust)
    assert ml.count() == 5
    assert set(r["label"] for r in ml.collect()) == {0, 1}


def test_dim_time(spark):
    dates = spark.createDataFrame([("2024-01-05",), ("2024-03-15",)], "d string").select(
        F.to_date("d").alias("d")
    )
    dt = {r["date_key"]: r for r in build_dim_time(dates, "d").collect()}
    assert dt[20240105]["quarter"] == 1 and dt[20240105]["day_name"] == "Friday"
    assert dt[20240315]["month_name"] == "March"


def test_feature_engineering_29(spark, bronze_path):
    trust = trust_features_from_twitter(read_bronze(spark, bronze_path, "twitter_human_bots"))
    feats = engineer_trust_features(trust)
    missing = [c for c in FEATURE_COLUMNS if c not in feats.columns]
    assert missing == []
    row = feats.filter(F.col("username") == "kol_4").collect()[0]
    assert row["followers_tier"] == 4  # mega
    assert row["verified"] == 1
    assert row["verified_followers_interaction"] == pytest.approx(row["log_followers"])
    assert row["profile_completeness"] == pytest.approx(1.0)  # bio+url+img
    assert row["followers_following_ratio_capped"] == 10.0


def test_latest_per_key(spark):
    rows = [(1, "2024-01-01", 5.0), (1, "2024-01-03", 7.0), (2, "2024-01-02", 3.0)]
    df = spark.createDataFrame(rows, "k int, d string, v double")
    out = {r["k"]: r["v"] for r in latest_per_key(df, ["k"], "d").collect()}
    assert out == {1: 7.0, 2: 3.0}


def test_tiktok_silver_and_product_slice(spark):
    """TikTok per-source projection + product dedup + engine-side sold_delta."""
    from kol_bigdata_realtime_analytics_spark.medallion.gold import sold_deltas
    from kol_bigdata_realtime_analytics_spark.medallion.silver import (
        products_from_tiktok,
        profiles_from_tiktok,
    )

    payload = (
        "username string, nickname string, bio string, followers_raw string, "
        "following_raw string, verified boolean, event_time string, profile_url string"
    )
    rows = [
        (("alice", "Alice", "hi", "852.3K", "1,234", True, None, "u1"),),
        (("bob", "Bob", None, "2B", "12", False, None, "u2"),),
        (("", "Blank", None, "5", "5", False, None, "u3"),),  # filtered
    ]
    bronze = spark.createDataFrame(rows, f"payload struct<{payload}>")
    prof = {r["username"]: r for r in profiles_from_tiktok(bronze).collect()}
    assert set(prof) == {"alice", "bob"}
    assert prof["alice"]["followers_count"] == 852300
    assert prof["alice"]["following_count"] == 1234
    assert prof["bob"]["followers_count"] == 2_000_000_000
    assert prof["alice"]["platform"] == "tiktok" and prof["alice"]["bio"] == "hi"

    ppay = (
        "product_id string, product_url string, title string, "
        "seller_username string, sold_raw string, scraped_at string"
    )
    prows = [
        (("p1", "url1", "t", "s", "1.2K", "2024-01-02"),),
        (("p1", "url1", "t", "s", "900", "2024-01-01"),),  # older dup -> dropped
        (("p2", None, "t", "s", "5", "2024-01-01"),),  # no url -> dropped
    ]
    pbronze = spark.createDataFrame(prows, f"payload struct<{ppay}>")
    prods = {r["product_id"]: r for r in products_from_tiktok(pbronze).collect()}
    assert set(prods) == {"p1"}
    assert prods["p1"]["sold_count"] == 1200  # latest scraped_at won

    ts = spark.createDataFrame(
        [("p1", "2024-01-01", 100), ("p1", "2024-01-02", 130), ("p1", "2024-01-03", 125),
         ("p2", "2024-01-01", 7)],
        "product_id string, scraped_at string, sold_count long",
    )
    deltas = {
        (r["product_id"], r["scraped_at"]): r["sold_delta"]
        for r in sold_deltas(ts).collect()
    }
    assert deltas == {
        ("p1", "2024-01-01"): 0,   # first observation
        ("p1", "2024-01-02"): 30,
        ("p1", "2024-01-03"): -5,
        ("p2", "2024-01-01"): 0,
    }


def test_envelope_ddl_generated():
    ddl = create_table_ddl(
        "bronze.kol_raw", ENVELOPE_SCHEMA, "parquet", ("dt",), "s3://bucket/bronze"
    )
    assert "kol_id STRING NOT NULL" in ddl and "payload STRING" in ddl
    assert "dt DATE" in ddl and "PARTITIONED BY (dt)" in ddl
    assert "USING parquet" in ddl and "LOCATION 's3://bucket/bronze'" in ddl
