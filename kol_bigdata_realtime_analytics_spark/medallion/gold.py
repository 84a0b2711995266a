"""Silver -> Gold star schema: dims, fact, KPI aggregate, ML training set.

Rebuild of reference batch/etl/silver_to_gold.py:9-691. Dimension joins
broadcast the (small, deduplicated) dim side; the fact table shuffles once
on its own key. FK derivation uses when-chains exactly like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.functions.scoring import kol_tier, trust_rule_score

# static platform dim (ref silver_to_gold.py:280-293)
PLATFORMS = [
    (1, "youtube", "video"),
    (2, "twitter", "social"),
    (3, "tiktok", "video"),
    (4, "instagram", "social"),
]


def platform_key_expr():
    """FK derivation when-chain (ref :419-435)."""
    c = F.col("platform")
    expr = F.lit(None).cast("int")
    for key, name, _ in reversed(PLATFORMS):
        expr = F.when(c == name, key).otherwise(expr)
    return expr


def build_dim_time(dates: DataFrame, date_col: str) -> DataFrame:
    """Date-part dimension from distinct dates (ref :318-343)."""
    d = F.col(date_col)
    return (
        dates.select(d.alias("d"))
        .where(d.isNotNull())
        .distinct()
        .select(
            F.date_format("d", "yyyyMMdd").cast("int").alias("date_key"),
            F.col("d").alias("full_date"),
            F.year("d").alias("year"),
            F.quarter("d").alias("quarter"),
            F.month("d").alias("month"),
            F.weekofyear("d").alias("week_of_year"),
            F.dayofmonth("d").alias("day_of_month"),
            F.dayofweek("d").alias("day_of_week"),
            F.date_format("d", "EEEE").alias("day_name"),
            F.date_format("d", "MMMM").alias("month_name"),
        )
    )


def build_dim_kol(
    profiles: DataFrame,
    trust_features: DataFrame | None = None,
    engagement: DataFrame | None = None,
) -> DataFrame:
    """dim_kol = profiles ⟕ trust features (kol key) ⟕ engagement metrics
    (composite key), + rule trust score + tier (ref :161-260).

    Join strategy: both right sides are deduped dims — Catalyst broadcasts
    them when under the threshold; at 100 TB-profile scale they'd be the
    smaller sides of a shuffle-hash join on an already-partitioned key.
    """
    dim = profiles
    if trust_features is not None:
        tf = trust_features.select(
            F.col("username").alias("tf_username"),
            "label",
        ).dropDuplicates(["tf_username"])
        dim = dim.join(F.broadcast(tf), dim.username == tf.tf_username, "left").drop("tf_username")
    else:
        dim = dim.withColumn("label", F.lit(None).cast("int"))
    if engagement is not None:
        em = engagement.select(
            F.col("platform").alias("em_platform"),
            F.col("kol_id").alias("em_kol_id"),
            "total_views",
            "total_likes",
            F.col("total_posts").alias("total_posts_tracked"),
            "avg_engagement_rate",
        )
        dim = dim.join(
            F.broadcast(em),
            (dim.platform == em.em_platform) & (dim.kol_id == em.em_kol_id),
            "left",
        ).drop("em_platform", "em_kol_id")
    else:
        dim = (
            dim.withColumn("total_views", F.lit(0).cast("long"))
            .withColumn("total_likes", F.lit(0).cast("long"))
            .withColumn("total_posts_tracked", F.lit(0).cast("long"))
            .withColumn("avg_engagement_rate", F.lit(0.0))
        )
    ratio = F.col("followers_count") / F.greatest(F.coalesce(F.col("following_count"), F.lit(1)), F.lit(1))
    score = trust_rule_score(
        "verified",
        F.coalesce(F.col("has_bio"), F.lit(0)) == 1,  # profile-image proxy when only bio flag exists
        F.coalesce(F.col("account_age_days"), F.lit(0)),
        ratio,
        label=F.col("label"),
    )
    return (
        dim.withColumn("trust_score", F.round(score, 1))
        .withColumn("kol_tier", kol_tier("followers_count"))
        .withColumn("followers_following_ratio", F.round(ratio, 2))
        .fillna(0, subset=["total_views", "total_likes", "total_posts_tracked"])
        .fillna(0.0, subset=["avg_engagement_rate"])
    )


def build_fact_performance(content: DataFrame, dim_kol: DataFrame) -> DataFrame:
    """fact_kol_performance: one row per content item, FK'd to dims
    (ref :415-470). kol_key resolved via broadcast join on (platform, kol)."""
    kol_keys = dim_kol.select(
        F.col("platform").alias("k_platform"),
        F.col("kol_id").alias("k_kol_id"),
        F.xxhash64("platform", "kol_id").alias("kol_key"),
    ).dropDuplicates(["k_platform", "k_kol_id"])
    eng = F.col("likes") + F.col("comments") + F.col("shares")
    return (
        content.join(
            F.broadcast(kol_keys),
            (content.platform == kol_keys.k_platform) & (content.kol_id == kol_keys.k_kol_id),
            "left",
        )
        .drop("k_platform", "k_kol_id")
        .select(
            "content_id",
            "kol_key",
            platform_key_expr().alias("platform_key"),
            F.date_format(F.to_date("published_at"), "yyyyMMdd").cast("int").alias("date_key"),
            "views",
            "likes",
            "comments",
            "shares",
            eng.alias("engagement"),
            F.when(F.col("views") > 0, F.round(eng / F.col("views") * 100, 4))
            .otherwise(0.0)
            .alias("engagement_rate"),
        )
    )


def build_platform_kpi(content: DataFrame) -> DataFrame:
    """agg_platform_kpi (ref :574-614): per-platform KPIs in ONE pass,
    including the verified-count via sum(when) instead of a second job."""
    return content.groupBy("platform").agg(
        F.countDistinct("kol_id").alias("total_kols"),
        F.count("*").alias("total_content"),
        F.sum("views").alias("total_views"),
        F.sum("likes").alias("total_likes"),
        F.sum("comments").alias("total_comments"),
        F.sum("shares").alias("total_shares"),
        F.round(F.avg("engagement_rate"), 4).alias("avg_engagement_rate"),
    )


def build_ml_training(trust_features: DataFrame) -> DataFrame:
    """ml_trust_training (ref :508-538): labeled rows, numeric casts, filter."""
    return (
        trust_features.filter(F.col("label").isin(0, 1))
        .withColumn("followers_count", F.col("followers_count").cast("long"))
        .withColumn("label", F.col("label").cast("int"))
    )


def latest_per_key(
    df: DataFrame, key_cols: list[str], order_col: str | tuple[str, ...]
) -> DataFrame:
    """Append-only timeseries -> latest snapshot per key (ref
    product_tracker.py:287-292): row_number over desc order. Pass a tuple
    of order columns when the primary one can tie (determinism rule)."""
    order = (order_col,) if isinstance(order_col, str) else order_col
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def sold_deltas(
    timeseries: DataFrame, order_cols: tuple[str, ...] = ("scraped_at",)
) -> DataFrame:
    """Append-only sold-count timeseries -> per-observation sold_delta.

    The reference computes this diff DRIVER-side: it collects the previous
    snapshot into a Python dict and subtracts per scraped row
    (product_tracker.py:273-294,437-445) — O(products) driver memory and a
    collect per run. Engine-side it is one lag window over
    (key ORDER BY time): distributed, no collect, and the whole history's
    deltas come out of the same pass. First observation per key gets
    delta 0 (matching the reference's missing-cache default)."""
    w = Window.partitionBy("product_id").orderBy(*[F.col(c).asc() for c in order_cols])
    prev = F.lag("sold_count").over(w)
    return timeseries.withColumn(
        "sold_delta", F.col("sold_count") - F.coalesce(prev, F.col("sold_count"))
    )
