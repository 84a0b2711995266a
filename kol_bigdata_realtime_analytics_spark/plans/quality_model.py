"""In-engine quality-classifier TRAINING (r10 verdict ask #4): the
fastText-style step every production LLM-data pipeline runs — learn a
quality model from heuristic labels, then score the corpus with it
(cf. the reference's trainer seam, models/success/train_success_score_v2.py,
which is lightgbm-gated in this container; logistic regression needs
nothing beyond the engine itself). Features are hashed n-grams: token
and token-bigram COUNTS over the first 200 tokens, hashed into 64
buckets via hash52, plus a bias feature — the classic hashing-trick
text classifier (Weinberger et al. 2009). Labels come from the
engine's own heuristic quality score (trunc6'd, threshold 0.25 — the
~60/40 split on this corpus), i.e. the classifier distills the rule
filter, exactly how production quality classifiers bootstrap.

Training is 8 unrolled rounds of full-batch gradient descent with
lr = 1/64, in FIXED-POINT: weights are BIGINT micro-units, the logit
z = sum(w_micro * count) is an exact integer, the sigmoid is floored
to micro-units before entering the gradient (so the only
engine-sensitive op, exp, is quantized at 1e-6 — the
embedding_kmeans_lloyd fixed-round discipline applied to GD), gradient
sums are exact BIGINT, and the loss uses the established
DECIMAL(28,12) ln-term idiom. Every round's full weight vector AND its
pre-update loss go under the driver hash — the whole training
trajectory is value-certified, and the oracle replays it round for
round in SQL. Measured: loss strictly decreasing at every sf
(0.693 -> 0.507/0.537/0.525), AUC 0.996-0.999 (pinned in pytest).

Scale shape: per round, one broadcast join of the 65-row weight table
against the (doc, feature) count frame, one doc-keyed rollup for
logits, one feature-keyed rollup for gradients — two shuffles of a
frame bounded by 65 rows/doc, repeated a LITERAL number of rounds.
Full-batch GD over 100 TB is exactly this plan; the weight table never
leaves 65 rows.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark import artifacts
from kol_bigdata_realtime_analytics_spark.plans.registry import (
    hash52,
    register,
    sql_hash52,
    table,
)

#: hashed feature buckets (token + bigram counts share the space)
_QC_FEATS = 64
#: bias feature index (constant 1 per doc)
_QC_BIAS = _QC_FEATS
#: per-doc token cap (fastText-style truncation — bounds feature work)
_QC_CAP = 200
#: unrolled full-batch GD rounds and the literal learning rate 1/_QC_LR_DEN
_QC_ROUNDS = 8
_QC_LR_DEN = 64
#: heuristic-label threshold on the trunc6'd quality score (~60/40 here)
_QC_TH = 0.25


def _qc_label_expr():
    from kol_bigdata_realtime_analytics_spark.functions.text import quality_score
    from kol_bigdata_realtime_analytics_spark.plans.domain import trunc6

    return (
        F.when(trunc6(quality_score("text")) >= F.lit(_QC_TH), F.lit(1_000_000))
        .otherwise(F.lit(0))
        .cast("long")
    )


def _qc_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """(feat, lab, n): the (doc_id, f, c) hashed n-gram count frame
    (<= 65 rows per doc), the (doc_id, y) micro-label frame, and the
    corpus size. Both frames are checkpoint-pinned — every GD round
    re-reads them, never the corpus."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.trim(F.coalesce("text", F.lit(""))) != "")
        .select("doc_id", F.lower(F.trim(F.col("text"))).alias("t"), "text")
    )
    # unigrams = the first _QC_CAP tokens; bigrams = adjacent pairs within
    # that cap, built by zipping the capped array against itself shifted
    # by one (r11 opt: the former positional self-join shuffled the
    # exploded token stream against itself; the zip produces the exact
    # same "a b" strings with zero shuffles and ONE corpus scan). Only
    # the cheap concat runs in the interpreted lambda — the md5 hash
    # runs codegen'd on the exploded column.
    ts = F.col("ts")
    big_str = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    grams = docs.select(
        "doc_id",
        F.slice(F.split(F.col("t"), r"\s+"), 1, _QC_CAP).alias("ts"),
    ).select("doc_id", F.explode(F.concat(ts, big_str)).alias("g"))
    cnt = (
        grams.select("doc_id", (hash52(F.col("g")) % _QC_FEATS).alias("f"))
        .groupBy("doc_id", "f")
        .agg(F.count("*").cast("long").alias("c"))
    )
    feat = cnt.unionByName(
        docs.select(
            "doc_id",
            F.lit(_QC_BIAS).cast("long").alias("f"),
            F.lit(1).cast("long").alias("c"),
        )
    ).localCheckpoint(eager=True)
    lab = docs.select("doc_id", _qc_label_expr().alias("y")).localCheckpoint(
        eager=True
    )
    n = lab.count()  # bounded scalar: the corpus row count
    return feat, lab, n


def _qc_train(
    spark: SparkSession, sf_dir: str
) -> tuple[
    list[tuple[int, DataFrame, DataFrame]], DataFrame, int, DataFrame, DataFrame
]:
    """Run the unrolled GD; returns ([(round, w_after, loss_frame)],
    w_final, n, feat, lab). Weight frames are 65 rows (checkpointed per
    round); loss frames are 1 row; feat/lab are the checkpointed inputs
    (returned so the score query never re-derives the corpus features).
    Built once per session (see artifacts) — train and score share one run;
    the 65-row weight table is the entire model artifact."""
    return artifacts.cached(
        "quality_classifier",
        sf_dir,
        (),
        lambda: _qc_train_uncached(spark, sf_dir),
    )


def _qc_train_uncached(
    spark: SparkSession, sf_dir: str
) -> tuple[
    list[tuple[int, DataFrame, DataFrame]], DataFrame, int, DataFrame, DataFrame
]:
    """The uncached training run (see _qc_train)."""
    feat, lab, n = _qc_inputs(spark, sf_dir)
    w = (
        spark.range(_QC_FEATS + 1)
        .select(F.col("id").alias("f"), F.lit(0).cast("long").alias("w"))
        .localCheckpoint(eager=True)
    )
    rounds = []
    for r in range(1, _QC_ROUNDS + 1):
        z = (
            feat.join(F.broadcast(w), "f")
            .groupBy("doc_id")
            .agg(F.sum(F.col("w") * F.col("c")).alias("s"))
        )
        pm_col = F.floor(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("s") / F.lit(1_000_000.0))))
            * F.lit(1_000_000)
        ).cast("long")
        p = (
            z.join(lab, "doc_id")
            .select("doc_id", "y", pm_col.alias("pm"))
            .localCheckpoint(eager=True)  # feeds loss AND gradient
        )
        pc = (
            F.greatest(F.least(F.col("pm"), F.lit(999_999)), F.lit(1))
            / F.lit(1_000_000.0)
        )
        yf = F.col("y") / F.lit(1_000_000.0)
        term = -(
            yf * F.log(pc) + (F.lit(1.0) - yf) * F.log(F.lit(1.0) - pc)
        )
        loss = p.agg(
            (
                F.floor(
                    F.sum(term.cast("decimal(28,12)")).cast("double")
                    / F.lit(float(n))
                    * F.lit(1_000_000)
                )
                / F.lit(1_000_000.0)
            ).alias("mean_loss_t6")
        ).localCheckpoint(eager=True)  # 1 row: loss of the PRE-update model
        g = (
            feat.join(p.select("doc_id", (F.col("pm") - F.col("y")).alias("r")), "doc_id")
            .groupBy("f")
            .agg(F.sum(F.col("c") * F.col("r")).alias("g"))
        )
        w = (
            w.join(g, "f", "left")
            .select(
                "f",
                (
                    F.col("w")
                    - F.floor(
                        F.coalesce(F.col("g"), F.lit(0)).cast("double")
                        / F.lit(float(_QC_LR_DEN * n))
                    ).cast("long")
                ).alias("w"),
            )
            .localCheckpoint(eager=True)  # 65 rows
        )
        rounds.append((r, w, loss))
    return rounds, w, n, feat, lab


# --- oracle -----------------------------------------------------------------

_QC_HEAD_SQL = f"""docs0 AS (
  SELECT doc_id, lower(trim(text)) AS t, text FROM documents
  WHERE trim(COALESCE(text, '')) != ''),
toks AS (SELECT doc_id, regexp_split_to_array(t, '\\s+') AS ts FROM docs0),
tokp AS (SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS pos
         FROM toks),
tokc AS MATERIALIZED (SELECT doc_id, tok, pos FROM tokp WHERE pos <= {_QC_CAP}),
uni AS (SELECT doc_id, {{h_tok}} % {_QC_FEATS} AS f FROM tokc),
big AS (SELECT a.doc_id, {{h_big}} % {_QC_FEATS} AS f
        FROM tokc a JOIN tokc b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
feat AS MATERIALIZED (
  SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big) u GROUP BY doc_id, f
  UNION ALL
  SELECT doc_id, {_QC_BIAS} AS f, 1 AS c FROM docs0),
lab AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN {{quality}} >= {_QC_TH} THEN 1000000 ELSE 0 END AS y
  FROM docs0),
ntot AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
w0 AS (SELECT unnest(range(0, {_QC_FEATS + 1})) AS f, CAST(0 AS BIGINT) AS w)"""


def _qc_round_sql(r: int) -> str:
    return f""",
z{r} AS (SELECT f2.doc_id, SUM(w.w * f2.c) AS s
         FROM feat f2 JOIN w{r - 1} w ON w.f = f2.f GROUP BY f2.doc_id),
p{r} AS MATERIALIZED (
  SELECT l.doc_id, l.y,
         CAST(floor(1.0 / (1.0 + exp(-(CAST(z.s AS DOUBLE) / 1000000.0)))
                    * 1000000) AS BIGINT) AS pm
  FROM lab l JOIN z{r} z ON z.doc_id = l.doc_id),
loss{r} AS MATERIALIZED (
  SELECT floor(CAST(SUM(CAST(
           -( (y / 1000000.0)
              * ln(GREATEST(LEAST(pm, 999999), 1) / 1000000.0)
              + (1.0 - y / 1000000.0)
              * ln(1.0 - GREATEST(LEAST(pm, 999999), 1) / 1000000.0) )
           AS DECIMAL(28,12))) AS DOUBLE)
         / (SELECT n FROM ntot) * 1000000) / 1000000 AS mean_loss_t6
  FROM p{r}),
g{r} AS (SELECT f2.f, SUM(f2.c * (p.pm - p.y)) AS g
         FROM feat f2 JOIN p{r} p ON p.doc_id = f2.doc_id GROUP BY f2.f),
w{r} AS MATERIALIZED (
  SELECT w.f,
         CAST(w.w - CAST(floor(CAST(COALESCE(g.g, 0) AS DOUBLE)
                               / ({_QC_LR_DEN}.0 * (SELECT n FROM ntot)))
                         AS BIGINT) AS BIGINT) AS w
  FROM w{r - 1} w LEFT JOIN g{r} g ON g.f = w.f)"""


def _qc_oracle_head() -> str:
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        PUNCT_RATIO_ORACLE_SQL,
        STOPWORD_RATIO_ORACLE_SQL,
        TOKEN_COUNT_ORACLE_SQL,
    )

    quality = (
        "floor(LEAST(CAST("
        + TOKEN_COUNT_ORACLE_SQL.format(col="text")
        + " AS DOUBLE) / 100.0, 1.0)"
        " * (1.0 - LEAST(" + PUNCT_RATIO_ORACLE_SQL.format(col="text") + ", 0.5))"
        " * (0.5 + LEAST(" + STOPWORD_RATIO_ORACLE_SQL.format(col="text") + ", 0.5))"
        " * 1000000) / 1000000"
    )
    head = _QC_HEAD_SQL.format(
        h_tok=sql_hash52("tok"),
        h_big=sql_hash52("a.tok || ' ' || b.tok"),
        quality=quality,
    )
    return head + "".join(_qc_round_sql(r) for r in range(1, _QC_ROUNDS + 1))


def _qc_train_oracle() -> str:
    body = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS BIGINT) AS train_round, CAST(w.f AS BIGINT) AS "
        f"feature_idx, w.w AS weight_micro, l.mean_loss_t6 "
        f"FROM w{r} w, loss{r} l"
        for r in range(1, _QC_ROUNDS + 1)
    )
    return f"""
    WITH {_qc_oracle_head()}
    {body}
    """


@register("quality_classifier_train", oracle=_qc_train_oracle())
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the hashed-n-gram logistic quality classifier and put the
    ENTIRE training trajectory under the driver hash: one row per
    (round, feature) with the post-update micro-weight and the round's
    pre-update mean cross-entropy (trunc6, DECIMAL-summed) — 8 rounds x
    65 features. Fixed-point GD (see module docstring) makes every
    round bit-replayable by the SQL oracle; pytest pins the loss
    strictly decreasing and AUC >= 0.95 at the score surface."""
    rounds, _, _, _, _ = _qc_train(spark, sf_dir)
    parts = [
        w.select(
            F.lit(r).cast("long").alias("train_round"),
            F.col("f").cast("long").alias("feature_idx"),
            F.col("w").alias("weight_micro"),
        ).crossJoin(F.broadcast(loss))
        for r, w, loss in rounds
    ]
    return functools.reduce(lambda x, y: x.unionByName(y), parts)


def _qc_score_oracle() -> str:
    R = _QC_ROUNDS
    return f"""
    WITH {_qc_oracle_head()},
    zf AS (SELECT f2.doc_id, SUM(w.w * f2.c) AS s
           FROM feat f2 JOIN w{R} w ON w.f = f2.f GROUP BY f2.doc_id),
    pf AS (
      SELECT l.doc_id, l.y,
             CAST(floor(1.0 / (1.0 + exp(-(CAST(z.s AS DOUBLE) / 1000000.0)))
                        * 1000000) AS BIGINT) AS pm
      FROM lab l JOIN zf z ON z.doc_id = l.doc_id)
    SELECT doc_id, CAST(y / 1000000 AS BIGINT) AS label, pm AS score_micro,
           CAST(pm >= 500000 AS BIGINT) AS predicted,
           (pm >= 500000) = (y = 1000000) AS correct
    FROM pf
    """


@register("quality_classifier_score", oracle=_qc_score_oracle())
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the trained classifier (final-round
    weights, shared via the session model cache): per doc the heuristic
    label, the sigmoid score in micro-units, the 0.5-threshold
    prediction, and the agreement flag — the corpus-wide quality
    inference pass a pipeline runs after training, value-hashed end to
    end. Scale: one broadcast join of the 65-row model against the
    count frame + one doc rollup — the same shape as every other
    in-engine scorer (ml_trust_inference)."""
    _, w_final, _, feat, lab = _qc_train(spark, sf_dir)
    z = (
        feat.join(F.broadcast(w_final), "f")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("c")).alias("s"))
    )
    pm = F.floor(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.col("s") / F.lit(1_000_000.0))))
        * F.lit(1_000_000)
    ).cast("long")
    return (
        z.join(lab, "doc_id")
        .select(
            "doc_id",
            (F.col("y") / F.lit(1_000_000)).cast("long").alias("label"),
            pm.alias("score_micro"),
        )
        .select(
            "doc_id",
            "label",
            "score_micro",
            (F.col("score_micro") >= F.lit(500_000)).cast("long").alias("predicted"),
            (
                (F.col("score_micro") >= F.lit(500_000))
                == (F.col("label") == F.lit(1))
            ).alias("correct"),
        )
    )
