"""Fixed-point tests for the domain function library (FIXTURES.md §8 vectors)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.functions.counts import parse_count
from kol_bigdata_realtime_analytics_spark.functions.scoring import (
    composite_score,
    engagement,
    engagement_rate,
    kol_tier,
    trending_label,
    trending_score,
    trending_velocity,
    trust_rule_score,
    virality_index,
)
from kol_bigdata_realtime_analytics_spark.functions.text import (
    language_id,
    punct_ratio,
    stopword_ratio,
    token_count,
)


def one_col(spark, rows, schema, expr):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(expr).collect()]


# reference parse vectors: tiktok_bronze_to_silver.py:60-77 via FIXTURES.md §8
PARSE_VECTORS = [
    ("11.3K", 11300),
    ("1.3M", 1300000),
    ("2B", 2000000000),
    ("12,345", 12345),
    ("", 0),
    (None, 0),
    ("36.5K", 36500),
    ("852.3K", 852300),
    ("33.6M", 33600000),
    ("  7.2k  ", 7200),
    ("garbage", 0),
    ("42", 42),
]


def test_parse_count_vectors(spark):
    rows = [(s,) for s, _ in PARSE_VECTORS]
    got = one_col(spark, rows, "raw string", parse_count("raw"))
    assert got == [v for _, v in PARSE_VECTORS]


def test_trending_sigmoid_tuning_points(spark):
    """Reference tuning: raw=1 -> ~30, raw=2 -> 50, raw=5 -> ~85 (predict.py:879-884)."""
    df = spark.createDataFrame([(1.0,), (2.0,), (5.0,)], "raw double")
    got = [r[0] for r in df.select(trending_score(F.col("raw"))).collect()]
    assert got[1] == pytest.approx(50.0)
    assert got[0] == pytest.approx(100 / (1 + math.exp(0.8)), rel=1e-9)  # ~31.0
    assert got[2] == pytest.approx(100 / (1 + math.exp(-2.4)), rel=1e-9)  # ~91.7 with k=0.8
    assert 25 < got[0] < 35 and 80 < got[2] < 95


def test_trending_velocity_formula(spark):
    df = spark.createDataFrame([(500, 10)], "eng long, n long")
    got = one_col(spark, [(500, 10)], "eng long, n long", trending_velocity("eng", "n"))
    expected = (500 / 5.0) * (1 + 0.1 * math.log1p(10))
    assert got[0] == pytest.approx(expected, rel=1e-12)


def test_trending_labels(spark):
    rows = [(85.0,), (65.0,), (45.0,), (30.0,), (10.0,)]
    got = one_col(spark, rows, "s double", trending_label("s"))
    assert got == ["Viral", "Hot", "Warm", "Normal", "Cold"]


def test_trust_rule_score_components(spark):
    # verified(20) + img(10) + maxed age(20) + maxed ratio(20) + label1(20) = 90
    rows = [
        (True, True, 4000, 200.0, 1),
        (False, False, 0, 0.0, 0),  # -30 -> clamp 0
        (False, True, 365, 5.0, None),  # 10 + 20 + 10 = 40
    ]
    schema = "verified boolean, img boolean, age int, ratio double, label int"
    expr = trust_rule_score("verified", "img", "age", "ratio", "label")
    got = one_col(spark, rows, schema, expr)
    assert got[0] == 90.0
    assert got[1] == 0.0
    assert got[2] == pytest.approx(10 + 20.0 + 10.0)


def test_kol_tier_ladder(spark):
    rows = [(5_000_000,), (800_000,), (150_000,), (25_000,), (5_000,), (500,), (None,)]
    got = one_col(spark, rows, "f long", kol_tier("f"))
    assert got == ["Mega", "Macro", "Macro", "Micro", "Nano", "Rising", "Rising"]


def test_engagement_and_rate(spark):
    rows = [(100, 20, 5, 1000), (None, None, None, 0)]
    schema = "l long, c long, s long, v long"
    df = spark.createDataFrame(rows, schema)
    out = df.select(
        engagement("l", "c", "s").alias("e"),
        engagement_rate(engagement("l", "c", "s"), "v").alias("r"),
    ).collect()
    assert out[0]["e"] == 125 and out[0]["r"] == pytest.approx(0.125)
    assert out[1]["e"] == 0 and out[1]["r"] == 0.0


def test_virality_and_composite(spark):
    rows = [(500, 1000, 80.0, 60.0, 40.0)]
    schema = "fav long, fol long, t double, s double, tr double"
    df = spark.createDataFrame(rows, schema)
    out = df.select(
        virality_index("fav", "fol").alias("v"),
        composite_score("t", "s", "tr").alias("c"),
    ).collect()[0]
    assert out["v"] == pytest.approx(0.5)
    assert out["c"] == pytest.approx(0.4 * 80 + 0.35 * 60 + 0.25 * 40)


def test_text_metrics(spark):
    rows = [("the cat sat on a mat.",), ("",), (None,)]
    df = spark.createDataFrame(rows, "text string")
    out = df.select(
        token_count("text").alias("n"),
        punct_ratio("text").alias("p"),
        stopword_ratio("text").alias("s"),
        language_id("text").alias("l"),
    ).collect()
    assert out[0]["n"] == 6
    assert out[0]["s"] == pytest.approx(2 / 6)  # 'the', 'a' ('on' not in list)
    assert out[0]["p"] == pytest.approx(1 / 21)
    assert out[0]["l"] == "en"
    assert out[1]["n"] == 0 and out[1]["s"] == 0.0 and out[1]["l"] == "unknown"
    assert out[2]["n"] == 0 and out[2]["l"] == "unknown"


def test_pii_redaction_masks_and_counts(spark):
    """Every PII kind is masked with its token and counted on the original
    text; PII-free text passes through untouched."""
    from kol_bigdata_realtime_analytics_spark.functions.text import pii_count, redact_pii

    rows = [
        (1, "mail a.b-c_d%x@sub.example.org and e@f.io today"),
        (2, "call 555-123-4567 or 555-000-9999, host 10.0.255.1"),
        (3, "no pii here, just words and 12345 numbers"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii("t").alias("red"),
            pii_count("t", "email").alias("ne"),
            pii_count("t", "phone").alias("np"),
            pii_count("t", "ipv4").alias("ni"),
        ).collect()
    }
    assert out[1]["red"] == "mail [EMAIL] and [EMAIL] today"
    assert (out[1]["ne"], out[1]["np"], out[1]["ni"]) == (2, 0, 0)
    assert out[2]["red"] == "call [PHONE] or [PHONE], host [IPV4]"
    assert (out[2]["ne"], out[2]["np"], out[2]["ni"]) == (0, 2, 1)
    assert out[3]["red"] == rows[2][1]  # untouched
    assert out[4]["red"] == "" and out[4]["ne"] == 0


def test_repetition_signals(spark):
    """dup/top-token and dup-bigram ratios on hand-computed docs, and the
    keep rule the gopher_repetition_filters query applies to them."""
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        bigrams_of,
        dup_ratio_of,
        gopher_keep,
        token_count,
        tokens,
        top_ratio_of,
    )

    rows = [
        (1, "a a a a b"),        # dup=1-2/5=.6  top=4/5=.8  bigrams: aa aa aa ab -> dup=1-2/4=.5
        (2, "w x y z q v u t"),  # all distinct: dup=0 top=1/8 bigram dup=0
        (3, "only"),             # single token: bigram ratio 0
        (4, ""),                 # empty: all 0
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    sig = df.select(
        "id",
        token_count("t").alias("n"),
        dup_ratio_of(tokens("t")).alias("dt"),
        top_ratio_of(tokens("t")).alias("tt"),
        dup_ratio_of(bigrams_of(tokens("t"))).alias("db"),
    )
    out = {
        r["id"]: r
        for r in sig.select(
            "*", gopher_keep("n", "dt", "tt", "db").alias("keep")
        ).collect()
    }
    assert math.isclose(out[1]["dt"], 0.6) and math.isclose(out[1]["tt"], 0.8)
    assert math.isclose(out[1]["db"], 0.5)
    assert out[1]["keep"] == 0  # top-token 0.8 > 0.2
    assert out[2]["dt"] == 0.0 and math.isclose(out[2]["tt"], 0.125)
    assert out[2]["db"] == 0.0 and out[2]["keep"] == 1
    assert out[3]["db"] == 0.0 and out[3]["keep"] == 0  # too short
    assert out[4]["dt"] == 0.0 and out[4]["keep"] == 0


def test_success_rule_label_both_branches(spark, tmp_path):
    """success_scores_rule's High/Not-High split on a constructed events
    table: TESTDATA's count-parity event mix saturates the two rate caps
    (every driver-sf user lands High — see the query docstring), so the
    Not-High branch is pinned here instead."""
    import datetime as dt

    from kol_bigdata_realtime_analytics_spark.plans import REGISTRY

    ts = dt.datetime(2025, 1, 1)
    rows = [
        # user 1: 1 view, 5 clicks, 2 purchases -> rate caps saturate:
        # 30 + 20 + 1/50000*30 + 7/5000*20 = 50.0286 -> High
        *[(i, ts, 1, t, 1.0, "{}") for i, t in enumerate(
            ["view"] + ["click"] * 5 + ["purchase"] * 2)],
        # user 2: views only -> score = 10/50000*30 = 0.006 -> Not-High
        *[(100 + i, ts, 2, "view", 1.0, "{}") for i in range(10)],
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r["user_id"]: r for r in REGISTRY["success_scores_rule"].fn(spark, str(tmp_path)).collect()}
    assert out[1]["success_label"] == "High"
    assert abs(out[1]["success_score"] - 50.02) < 1e-9
    assert out[2]["success_label"] == "Not-High"
    assert out[2]["success_score"] == 0.0


def test_success_profile_ladder_all_bands(spark, tmp_path):
    """success_scores_profile's five engagement-ratio bands + follower bonus
    + both clamp bounds on constructed customers (TESTDATA populates only
    the <1 and >=50 bands at driver sfs — see the query docstring)."""
    import math as m

    from kol_bigdata_realtime_analytics_spark.plans import REGISTRY

    # favorites = (k*7) % 100000, followers = round(max(acctbal,0)*1000):
    # acctbal .001 -> 1 follower, so er == favorites; acctbal 1000 -> 1e6
    # followers (bonus +5) with er ~ 0.
    rows = [
        (1, 0.001),     # er=7    -> 25 + 6*1.67          (1..10 band)
        (2, 0.001),     # er=14   -> 40 + 4*1.5           (10..20 band)
        (3, 0.001),     # er=21   -> 55 + 1/2             (20..50 band)
        (8, 0.001),     # er=56   -> 70 + min(20, 6/5)    (>=50 band)
        (10, 1000.0),   # er=7e-5 -> 15 + er*10, +5 bonus (<1 band, 1M tier)
        (14300, 0.0),   # fav=(14300*7)%100000=100        er=100 -> 70+min(20,10)=90... cap path
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_acctbal double")
    df.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    out = {r["c_custkey"]: r["success_score"]
           for r in REGISTRY["success_scores_profile"].fn(spark, str(tmp_path)).collect()}

    def fl2(x):
        return m.floor(min(100.0, max(10.0, x)) * 100) / 100

    assert out[1] == fl2(25 + (7 - 1) * 1.67)
    assert out[2] == fl2(40 + (14 - 10) * 1.5)
    assert out[3] == fl2(55 + (21 - 20) / 2)
    assert out[8] == fl2(70 + min(20.0, (56 - 50) / 5))
    assert out[10] == fl2(15 + (70 / max(1000000, 1)) * 10 + 5)
    assert out[14300] == fl2(70 + min(20.0, (100 - 50) / 5))
