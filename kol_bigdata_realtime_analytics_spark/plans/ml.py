"""ML inference queries: in-engine batch scoring over the gold profile shape.

Replaces the reference's scoring seam — per-row HTTP POST /predict/trust from
inside a streaming UDF (reference hot_path_scoring.py:388-430) and a separate
numpy copy of the feature pipeline (predict.py:310-398) — with ONE feature
derivation scored inside the engine (SURVEY §7.2.6).

`ml_trust_inference` runs the BROADCAST-MODEL pandas_udf path on purpose (the
general pattern for real LightGBM artifacts); its oracle is plain SQL because
the stand-in model is a fixed-weight logistic — so the driver hash-checks the
whole Arrow/broadcast plumbing. pytest additionally asserts the pandas path
agrees with the native-expression scorer.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.functions.ml_scoring import (
    score_with_model,
    trust_logit,
)
from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6
from kol_bigdata_realtime_analytics_spark.plans.registry import register, table


def synthetic_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic raw-profile frame derived from customer (same scheme as
    the trust_scores query, plus posts/engagement_rate for the model)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.round(F.greatest(F.col("c_acctbal"), F.lit(0)) * 1000, 0).cast("long").alias("followers"),
        (F.col("c_custkey") % 1000).cast("long").alias("posts"),
        ((F.col("c_custkey") % 100) / 1000.0).alias("engagement_rate"),
        (F.col("c_acctbal") > 5000).alias("verified"),
        (F.col("c_custkey") % 4000).cast("double").alias("age_days"),
        (F.col("c_acctbal") / 1000.0).alias("ff_ratio"),
    )


_PROFILE_SQL = """
  SELECT c_custkey,
         CAST(ROUND(GREATEST(c_acctbal, 0) * 1000) AS BIGINT) AS followers,
         c_custkey % 1000 AS posts,
         (c_custkey % 100) / 1000.0 AS engagement_rate,
         c_acctbal > 5000 AS verified,
         CAST(c_custkey % 4000 AS DOUBLE) AS age_days,
         c_acctbal / 1000.0 AS ff_ratio
  FROM customer
"""

# The trust score over a _PROFILE_SQL row, trunc6'd. Weights mirrored from
# functions/ml_scoring.TRUST_MODEL; term order matters (left-to-right IEEE
# addition must match the udf's sequential accumulate).
_TRUST_SCORE_SQL = """floor(100.0 / (1.0 + exp(-(
         -1.5
         + 0.22 * ln(1 + GREATEST(followers, 0))
         + 0.15 * ln(1 + GREATEST(posts, 0))
         + 3.0 * engagement_rate
         + 1.2 * CASE WHEN verified THEN 1.0 ELSE 0.0 END
         + 0.3 * (age_days / 365.0)
         + -0.08 * LEAST(ff_ratio, 50.0)
       ))) * 1000000) / 1000000"""

_ML_TRUST_ORACLE = f"""
WITH prof AS ({_PROFILE_SQL})
SELECT c_custkey,
       {_TRUST_SCORE_SQL} AS trust_ml
FROM prof
"""


# ---------------------------------------------------------------------------
# Full 29-feature trust pipeline under the oracle (ref feature_engineering.py:
# 154-346): every log/cap/ratio/indicator/tier/interaction expr, not just the
# representative subset the `engineered_features` query keeps checking.
# ---------------------------------------------------------------------------

_TRUST_INPUT_SQL = """
  SELECT c_custkey,
         CAST(ROUND(GREATEST(c_acctbal, 0) * 1000) AS BIGINT) AS followers_count,
         (c_custkey * 37) % 5000 AS following_count,
         (c_custkey * 13) % 20000 AS post_count,
         (c_custkey * 7) % 100000 AS favorites_count,
         c_custkey % 4000 AS account_age_days,
         c_custkey % 300 AS bio_length,
         CAST(c_custkey % 300 > 0 AS INTEGER) AS has_bio,
         CAST(c_custkey % 2 AS INTEGER) AS has_url,
         CAST(c_custkey % 3 != 0 AS INTEGER) AS has_profile_image,
         CAST(c_custkey % 7 = 0 AS INTEGER) AS default_profile,
         CAST(c_custkey % 11 = 0 AS INTEGER) AS default_profile_image,
         CAST(c_acctbal > 5000 AS INTEGER) AS verified
  FROM customer
"""

_TRUST_FEATURES_FULL_ORACLE = f"""
WITH inp AS ({_TRUST_INPUT_SQL}),
d AS (
  SELECT *,
         followers_count / (following_count + 1) AS ffr,
         post_count / (account_age_days + 1) AS ppd,
         favorites_count / (post_count + 1) AS er,
         followers_count / (account_age_days + 1) AS fpd
  FROM inp
),
d2 AS (
  SELECT *,
         CASE WHEN ffr > 10000 THEN 10000 ELSE ffr END AS ratio_capped,
         CASE WHEN ppd > 50 THEN 50 ELSE ppd END AS ppd_capped,
         (has_bio + has_url + has_profile_image) / 3.0 AS completeness
  FROM d
)
SELECT c_custkey,
       floor(ln(1 + followers_count) * 1000000) / 1000000 AS log_followers,
       floor(ln(1 + following_count) * 1000000) / 1000000 AS log_following,
       floor(ln(1 + post_count) * 1000000) / 1000000 AS log_posts,
       floor(ln(1 + favorites_count) * 1000000) / 1000000 AS log_favorites,
       floor(ln(1 + account_age_days) * 1000000) / 1000000 AS log_account_age,
       floor(ratio_capped * 1000000) / 1000000 AS followers_following_ratio_capped,
       floor(ppd_capped * 1000000) / 1000000 AS posts_per_day_capped,
       floor(er * 1000000) / 1000000 AS engagement_rate,
       floor(ppd_capped * sqrt(er + 1) * 1000000) / 1000000 AS activity_score,
       floor(completeness * 1000000) / 1000000 AS profile_completeness,
       floor(fpd * 1000000) / 1000000 AS followers_per_day,
       floor(post_count / (followers_count + 1) * 1000000) / 1000000 AS posts_per_follower,
       floor(following_count / (account_age_days + 1) * 1000000) / 1000000 AS following_per_day,
       floor(LEAST(bio_length / 200.0, 1.0) * 1000000) / 1000000 AS bio_length_norm,
       CASE WHEN ppd > 20 THEN 1 ELSE 0 END AS high_activity_flag,
       CASE WHEN er < 0.01 AND post_count > 1000 THEN 1 ELSE 0 END AS low_engagement_high_posts,
       default_profile + default_profile_image AS default_profile_score,
       CASE WHEN fpd > 100 AND account_age_days < 365 THEN 1 ELSE 0 END AS suspicious_growth,
       CASE WHEN followers_count > 10000 AND er < 0.1 THEN 1 ELSE 0 END AS fake_follower_indicator,
       CASE WHEN followers_count < 1000 THEN 0
            WHEN followers_count < 10000 THEN 1
            WHEN followers_count < 100000 THEN 2
            WHEN followers_count < 1000000 THEN 3
            ELSE 4 END AS followers_tier,
       CASE WHEN account_age_days < 365 THEN 0
            WHEN account_age_days < 730 THEN 1
            WHEN account_age_days < 1825 THEN 2
            ELSE 3 END AS account_age_tier,
       CASE WHEN ppd < 0.5 THEN 0
            WHEN ppd < 2 THEN 1
            WHEN ppd < 10 THEN 2
            ELSE 3 END AS activity_tier,
       floor(verified * ln(1 + followers_count) * 1000000) / 1000000 AS verified_followers_interaction,
       floor(completeness * er * 1000000) / 1000000 AS profile_engagement_interaction,
       floor(ln(1 + account_age_days) * (1 / (ppd_capped + 1)) * 1000000) / 1000000 AS age_activity_interaction,
       has_bio, has_url, has_profile_image, verified
FROM d2
"""


def synthetic_trust_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver trust-features input schema (features.py module docstring),
    synthesized deterministically from customer — every one of the 14 input
    columns the reference's feature_engineering.py:138-151 loads from gold."""
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    followers = F.round(F.greatest(F.col("c_acctbal"), F.lit(0)) * 1000, 0).cast("long")
    following = ((k * 37) % 5000).cast("long")
    posts = ((k * 13) % 20000).cast("long")
    favorites = ((k * 7) % 100000).cast("long")
    age = (k % 4000).cast("long")
    bio_len = (k % 300).cast("long")
    return c.select(
        "c_custkey",
        followers.alias("followers_count"),
        following.alias("following_count"),
        posts.alias("post_count"),
        favorites.alias("favorites_count"),
        age.alias("account_age_days"),
        (followers / (following + 1)).alias("followers_following_ratio"),
        (posts / (age + 1)).alias("posts_per_day"),
        bio_len.alias("bio_length"),
        (bio_len > 0).cast("int").alias("has_bio"),
        (k % 2).cast("int").alias("has_url"),
        (k % 3 != 0).cast("int").alias("has_profile_image"),
        (k % 7 == 0).cast("int").alias("default_profile"),
        (k % 11 == 0).cast("int").alias("default_profile_image"),
        (F.col("c_acctbal") > 5000).cast("int").alias("verified"),
    )


@register("trust_features_full", oracle=_TRUST_FEATURES_FULL_ORACLE)
def trust_features_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL 29 engineered features (functions/features.py, the canonical
    single-sourced pipeline both scoring paths share) hash-checked against a
    full SQL re-derivation — log transforms, capping, ratios, indicators,
    binning tiers, interactions, and the 4 passthrough flags."""
    from kol_bigdata_realtime_analytics_spark.functions.features import (
        FEATURE_COLUMNS,
        engineer_trust_features,
    )

    int_features = {
        "high_activity_flag",
        "low_engagement_high_posts",
        "default_profile_score",
        "suspicious_growth",
        "fake_follower_indicator",
        "followers_tier",
        "account_age_tier",
        "activity_tier",
        "has_bio",
        "has_url",
        "has_profile_image",
        "verified",
    }
    feats = engineer_trust_features(synthetic_trust_inputs(spark, sf_dir))
    return feats.select(
        "c_custkey",
        *[
            F.col(f) if f in int_features else trunc6(F.col(f)).alias(f)
            for f in FEATURE_COLUMNS
        ],
    )


@register("ml_trust_inference", oracle=_ML_TRUST_ORACLE)
def ml_trust_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-model batch scoring via Arrow pandas_udf (the F3 fix)."""
    prof = synthetic_profiles(spark, sf_dir)
    score = score_with_model(spark, prof)
    return prof.select("c_custkey", trunc6(score).alias("trust_ml"))


@register("ml_trust_inference_native", oracle=_ML_TRUST_ORACLE.replace("trust_ml", "trust_ml_native"))
def ml_trust_inference_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same model as ONE native column expression — zero Python, full
    whole-stage codegen; the plan of choice when the model is linear."""
    prof = synthetic_profiles(spark, sf_dir)
    score = trust_logit("followers", "posts", "engagement_rate", "verified", "age_days", "ff_ratio")
    return prof.select("c_custkey", trunc6(score).alias("trust_ml_native"))


# ---------------------------------------------------------------------------
# Grouped-agg pandas UDAF — the remaining UDF-surface shape (SURVEY §2.10):
# scalar pandas_udf (scoring), grouped-map (LSH buckets), mapInPandas
# (multimodal) exist; this adds GROUPED_AGG with a SQL-window oracle so the
# whole-group Arrow transfer is hash-checked, not just smoke-tested.
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH t AS (
  SELECT c_mktsegment AS segment, c_acctbal AS v,
         CAST(c_nationkey + 1 AS BIGINT) AS w
  FROM customer
),
c AS (
  SELECT segment, v,
         SUM(w) OVER (PARTITION BY segment ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(w) OVER (PARTITION BY segment) AS tot
  FROM t
)
SELECT segment, MIN(v) AS weighted_median_acctbal
FROM c WHERE cum >= tot / 2.0
GROUP BY segment
""".strip()


@register("weighted_median_by_segment", oracle=_WMEDIAN_ORACLE)
def weighted_median_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median account balance per market segment via a GROUPED_AGG
    pandas UDF (weight = nationkey + 1 — any deterministic per-row weight).

    Weighted median = smallest value whose running weight reaches half the
    total. The UDAF sorts the group in Arrow-transferred pandas; the oracle
    reproduces the definition with a window cumsum — on ties the smallest
    qualifying value is order-independent, so the two formulations agree
    exactly. Whole-group collection bounds group size by executor memory
    (segments here are ~n/5); at 100 TB skew, use the oracle's own
    window-cumsum formulation in-engine instead — this query exists to pin
    the GROUPED_AGG Arrow path's correctness against it.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _wmedian(v: pd.Series, w: pd.Series) -> float:
        df = pd.DataFrame({"v": v, "w": w}).sort_values("v")
        half = df["w"].sum() / 2.0
        return float(df.loc[df["w"].cumsum() >= half, "v"].iloc[0])

    c = table(spark, sf_dir, "customer")
    t = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("v"),
        (F.col("c_nationkey") + 1).cast("long").alias("w"),
    )
    return t.groupBy("segment").agg(
        _wmedian("v", "w").alias("weighted_median_acctbal")
    )


# ---------------------------------------------------------------------------
# Model evaluation in-engine — the reference's offline evaluation module
# (models/evaluation/evaluate_trained_models.py:32-33 computes sklearn
# accuracy/precision/recall/F1/ROC-AUC on a driver-side pandas frame; at
# engine scale the scored corpus never fits a driver). Confusion counts and
# the EXACT ROC-AUC come from one pass: scores are already trunc6-quantized,
# so group by score value (cardinality <= 1e8 at 6dp over the 0-100 range —
# bounded by score precision, NOT corpus rows), then the Mann-Whitney U on
# the binned frame: 2U = sum_s pos_s * (2*cumneg_below(s) + neg_s), an
# all-integer sum (ties contribute 1/2 via the doubling), AUC = 2U /
# (2*npos*nneg). The only window runs over the distinct-score frame.
# Ground truth = the profile's `verified` flag (the model carries a +1.2
# verified weight, so AUC is far from coin-flip — non-vacuous at every sf).
# ---------------------------------------------------------------------------

_ML_EVAL_ORACLE = f"""
WITH prof AS ({_PROFILE_SQL}),
sc AS (
  SELECT {_TRUST_SCORE_SQL} AS s,
         CASE WHEN verified THEN 1 ELSE 0 END AS y
  FROM prof
), b AS (
  SELECT s,
         CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
  FROM sc GROUP BY s
), c AS (
  SELECT s, pos, neg,
         CAST(SUM(neg) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumneg
  FROM b
), g AS (
  SELECT CAST(SUM(pos * (2 * cumneg - neg)) AS BIGINT) AS u2,
         CAST(SUM(pos) AS BIGINT) AS npos,
         CAST(SUM(neg) AS BIGINT) AS nneg,
         CAST(SUM(CASE WHEN s >= 50 THEN pos ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN s >= 50 THEN neg ELSE 0 END) AS BIGINT) AS fp
  FROM c
), m AS (
  SELECT tp, fp, nneg - fp AS tn, npos - tp AS fn, u2, npos, nneg,
         CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS p_raw,
         CASE WHEN npos > 0 THEN tp / npos ELSE 0.0 END AS r_raw
  FROM g
)
SELECT tp, fp, tn, fn,
       floor((tp + tn) / (npos + nneg) * 1000000) / 1000000 AS accuracy,
       floor(p_raw * 1000000) / 1000000 AS precision_,
       floor(r_raw * 1000000) / 1000000 AS recall_,
       floor(CASE WHEN p_raw + r_raw > 0
                  THEN 2.0 * p_raw * r_raw / (p_raw + r_raw)
                  ELSE 0.0 END * 1000000) / 1000000 AS f1,
       floor(CASE WHEN npos > 0 AND nneg > 0
                  THEN u2 / (2.0 * npos * nneg)
                  ELSE 0.0 END * 1000000) / 1000000 AS roc_auc
FROM m
"""


@register("ml_eval_metrics", oracle=_ML_EVAL_ORACLE)
def ml_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + exact binned-Mann-Whitney ROC-AUC, one row out."""
    from pyspark.sql import Window

    prof = synthetic_profiles(spark, sf_dir)
    score = trunc6(
        trust_logit("followers", "posts", "engagement_rate", "verified", "age_days", "ff_ratio")
    )
    sc = prof.select(score.alias("s"), F.col("verified").cast("int").alias("y"))
    b = sc.groupBy("s").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = b.select("s", "pos", "neg", F.sum("neg").over(w).cast("long").alias("cumneg"))
    g = c.agg(
        F.sum(F.col("pos") * (2 * F.col("cumneg") - F.col("neg"))).cast("long").alias("u2"),
        F.sum("pos").cast("long").alias("npos"),
        F.sum("neg").cast("long").alias("nneg"),
        F.sum(F.when(F.col("s") >= 50, F.col("pos")).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(F.col("s") >= 50, F.col("neg")).otherwise(0)).cast("long").alias("fp"),
    )
    tp, fp = F.col("tp"), F.col("fp")
    npos, nneg, u2 = F.col("npos"), F.col("nneg"), F.col("u2")
    tn, fn = (nneg - fp).alias("tn"), (npos - tp).alias("fn")
    p_raw = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    r_raw = F.when(npos > 0, tp / npos).otherwise(F.lit(0.0))
    return g.select(
        "tp",
        "fp",
        tn,
        fn,
        trunc6((tp + (nneg - fp)) / (npos + nneg)).alias("accuracy"),
        trunc6(p_raw).alias("precision_"),
        trunc6(r_raw).alias("recall_"),
        trunc6(
            F.when(p_raw + r_raw > 0, F.lit(2.0) * p_raw * r_raw / (p_raw + r_raw)).otherwise(
                F.lit(0.0)
            )
        ).alias("f1"),
        trunc6(
            F.when((npos > 0) & (nneg > 0), u2 / (F.lit(2.0) * npos * nneg)).otherwise(F.lit(0.0))
        ).alias("roc_auc"),
    )


# ---------------------------------------------------------------------------
# Profile-based success estimation — the reference's cache-loader fallback
# when a KOL has no product data (scripts/load_profiles_to_redis.py:199-229):
# a piecewise engagement-ratio ladder (likes per follower, 5 bands) plus a
# follower-tier bonus (+5/+3/+1 at 1M/500k/100k), clamped to [10, 100].
# The reference evaluates it per profile inside a Redis-loading loop; here
# it is one narrow projection over the synthesized profile frame — no
# shuffle at all (per-row math), so it composes into any scan. The ladder
# is piecewise-LINEAR in an integer-ratio input, so every band output is a
# rational — floor at 2dp (the reference keeps full float; ROUND could tie
# cross-engine). Both clamp bounds and several bands are exercised at
# sf0.01 (followers span 0..1e7, favorites 0..1e5).
# ---------------------------------------------------------------------------

_SUCCESS_PROFILE_ORACLE = f"""
WITH inp AS ({_TRUST_INPUT_SQL}),
s AS (
  SELECT c_custkey, followers_count, favorites_count,
         favorites_count / greatest(followers_count, 1) AS er,
         CASE WHEN favorites_count / greatest(followers_count, 1) >= 50
                THEN 70 + least(20.0, (favorites_count / greatest(followers_count, 1) - 50) / 5)
              WHEN favorites_count / greatest(followers_count, 1) >= 20
                THEN 55 + (favorites_count / greatest(followers_count, 1) - 20) / 2
              WHEN favorites_count / greatest(followers_count, 1) >= 10
                THEN 40 + (favorites_count / greatest(followers_count, 1) - 10) * 1.5
              WHEN favorites_count / greatest(followers_count, 1) >= 1
                THEN 25 + (favorites_count / greatest(followers_count, 1) - 1) * 1.67
              ELSE 15 + favorites_count / greatest(followers_count, 1) * 10
         END
         + CASE WHEN followers_count >= 1000000 THEN 5
                WHEN followers_count >= 500000 THEN 3
                WHEN followers_count >= 100000 THEN 1
                ELSE 0 END AS score
  FROM inp
)
SELECT c_custkey,
       floor(least(100.0, greatest(10.0, score)) * 100) / 100 AS success_score,
       floor(er * 1000000) / 1000000 AS engagement_ratio,
       followers_count
FROM s
"""


@register("success_scores_profile", oracle=_SUCCESS_PROFILE_ORACLE)
def success_scores_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference profile-based success ladder, pure per-row projection.

    TESTDATA's follower/favorites spread populates only the <1 and >=50
    bands at driver sfs; all five bands, the bonus tiers, and both clamp
    bounds are pinned on constructed rows in
    tests/test_functions.py::test_success_profile_ladder_all_bands."""
    inp = synthetic_trust_inputs(spark, sf_dir)
    er = F.col("favorites_count") / F.greatest(F.col("followers_count"), F.lit(1))
    ladder = (
        F.when(er >= 50, F.lit(70) + F.least(F.lit(20.0), (er - 50) / 5))
        .when(er >= 20, F.lit(55) + (er - 20) / 2)
        .when(er >= 10, F.lit(40) + (er - 10) * 1.5)
        .when(er >= 1, F.lit(25) + (er - 1) * F.lit(1.67))
        .otherwise(F.lit(15) + er * 10)
    )
    bonus = (
        F.when(F.col("followers_count") >= 1000000, 5)
        .when(F.col("followers_count") >= 500000, 3)
        .when(F.col("followers_count") >= 100000, 1)
        .otherwise(0)
    )
    score = F.least(F.lit(100.0), F.greatest(F.lit(10.0), ladder + bonus))
    return inp.select(
        "c_custkey",
        (F.floor(score * 100) / 100).alias("success_score"),
        trunc6(er).alias("engagement_ratio"),
        "followers_count",
    )


# ---------------------------------------------------------------------------
# r5: model calibration (reliability diagram) — the eval-suite companion to
# ml_eval_metrics' confusion/AUC row. Same score/label derivation; bins are
# decile buckets of the trunc6-quantized score, so every aggregate is either
# an integer count or a DECIMAL(18,6)-exact sum (order-proof).
# ---------------------------------------------------------------------------

_CALIBRATION_ORACLE = f"""
WITH prof AS ({_PROFILE_SQL}),
sc AS (
  SELECT {_TRUST_SCORE_SQL} AS s,
         CASE WHEN verified THEN 1 ELSE 0 END AS y
  FROM prof
)
SELECT CAST(floor(s / 10) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       floor(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) * 1000000)
         / 1000000 AS mean_score,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       floor(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000) / 1000000 AS pos_rate
FROM sc GROUP BY 1
"""


@register("calibration_bins", oracle=_CALIBRATION_ORACLE)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for the trust model: per score-decile bin,
    row count, mean predicted score, and observed positive rate — the
    calibration curve a quality-classifier training pipeline reads before
    trusting model-scored corpus filtering.

    Determinism: scores are trunc6-quantized, so the per-bin mean sums
    DECIMAL(18,6)-exact values (any summation order); pos_rate is an
    integer/integer ratio; the decile bin is floor of the same double in
    both engines. One groupBy over <= 10 bins — map-side combined, the
    shuffle carries 10 rows.
    """
    prof = synthetic_profiles(spark, sf_dir)
    score = trunc6(
        trust_logit(
            "followers", "posts", "engagement_rate", "verified", "age_days", "ff_ratio"
        )
    )
    sc = prof.select(score.alias("s"), F.col("verified").cast("int").alias("y"))
    return sc.groupBy(F.floor(F.col("s") / 10).cast("long").alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        (
            F.floor(
                F.sum(F.col("s").cast("decimal(18,6)")).cast("double")
                / F.count("*")
                * 1000000
            )
            / 1000000
        ).alias("mean_score"),
        F.sum("y").cast("long").alias("n_pos"),
        (F.floor(F.sum("y").cast("double") / F.count("*") * 1000000) / 1000000).alias(
            "pos_rate"
        ),
    )
