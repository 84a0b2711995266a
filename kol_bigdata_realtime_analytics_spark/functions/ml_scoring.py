"""In-engine model scoring: broadcast weights + Arrow-batched pandas UDF.

Replaces the reference's per-row HTTP scoring seam (F3: executors block on
POST /predict/trust for every row — reference hot_path_scoring.py:388-430)
with the pattern that scales: ship the model TO the data. The model object
is broadcast once per executor; scoring runs vectorized over Arrow record
batches; no network hop in the hot path.

Two interchangeable scorers with the SAME contract:

- `trust_logit`       : the model as ONE native Column expression —
  whole-stage-codegen'd, zero Python. Right answer when the model is a
  linear/logistic form (weights are public constants here).
- `make_pandas_scorer`: the general form for models that are real Python
  objects (LightGBM, sklearn). Broadcast + `@pandas_udf`; a deterministic
  logistic stands in when lightgbm isn't importable (this container), so the
  plumbing — broadcast, Arrow batching, column order — is real and tested.

`trust_logit` and the stand-in pandas scorer compute the identical formula;
tests assert they agree bitwise, which is what lets the oracle check the
pandas_udf path with plain SQL.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: public fixed logistic weights over raw profile fields (feature order is
#: part of the model contract — kept as an ordered tuple, not a dict lookup)
TRUST_MODEL = {
    "bias": -1.5,
    "weights": (
        ("log_followers", 0.22),
        ("log_posts", 0.15),
        ("engagement_rate", 3.0),
        ("verified", 1.2),
        ("account_age_years", 0.3),
        ("ff_ratio_capped", -0.08),
    ),
}


def _features(df_cols: dict[str, Column]) -> dict[str, Column]:
    """Raw profile fields -> model features, single-sourced for both paths."""
    return {
        "log_followers": F.log1p(F.greatest(df_cols["followers"], F.lit(0))),
        "log_posts": F.log1p(F.greatest(df_cols["posts"], F.lit(0))),
        "engagement_rate": df_cols["engagement_rate"],
        "verified": df_cols["verified"].cast("double"),
        "account_age_years": df_cols["age_days"] / F.lit(365.0),
        "ff_ratio_capped": F.least(df_cols["ff_ratio"], F.lit(50.0)),
    }


def trust_logit(
    followers: Column | str,
    posts: Column | str,
    engagement_rate: Column | str,
    verified: Column | str,
    age_days: Column | str,
    ff_ratio: Column | str,
) -> Column:
    """Native scorer: trust = 100 * sigmoid(w.x + b). Pure JVM expression."""
    cols = {
        "followers": F.col(followers) if isinstance(followers, str) else followers,
        "posts": F.col(posts) if isinstance(posts, str) else posts,
        "engagement_rate": F.col(engagement_rate) if isinstance(engagement_rate, str) else engagement_rate,
        "verified": F.col(verified) if isinstance(verified, str) else verified,
        "age_days": F.col(age_days) if isinstance(age_days, str) else age_days,
        "ff_ratio": F.col(ff_ratio) if isinstance(ff_ratio, str) else ff_ratio,
    }
    feats = _features(cols)
    z = F.lit(TRUST_MODEL["bias"])
    for name, w in TRUST_MODEL["weights"]:
        z = z + F.lit(w) * feats[name]
    return F.lit(100.0) / (F.lit(1.0) + F.exp(-z))


#: env var naming a LightGBM text-format model file; the loader gate is the
#: FILE, not the import — drop an artifact (or set the var) and every scorer
#: flips to the real model with no code change
MODEL_ARTIFACT_ENV = "TRUST_MODEL_ARTIFACT"


def load_model(artifact_path: str | None = None):
    """Flip-ready loader: the real LightGBM booster when an artifact file
    exists (explicit arg, else $TRUST_MODEL_ARTIFACT); the logistic stand-in
    otherwise. A named-but-missing artifact, or an artifact without the
    lightgbm library, is an explicit error — never a silent stand-in.

    Returns a picklable object with .predict_proba(ndarray) -> ndarray[:, 2].
    """
    import os

    path = artifact_path or os.environ.get(MODEL_ARTIFACT_ENV, "")
    if path:
        if not os.path.exists(path):
            raise FileNotFoundError(f"trust model artifact not found: {path}")
        try:  # pragma: no cover - lightgbm absent in this container
            import lightgbm
        except ImportError as e:  # pragma: no cover
            raise RuntimeError(
                f"artifact {path} present but lightgbm is not importable"
            ) from e
        return _BoosterAdapter(lightgbm.Booster(model_file=path))  # pragma: no cover
    return _LogisticStandIn()


class _BoosterAdapter:  # pragma: no cover - exercised only with lightgbm
    """predict_proba contract over a lightgbm.Booster (binary objective);
    picklable, so it broadcasts like the stand-in."""

    def __init__(self, booster):
        self.booster = booster
        self.feature_names = list(booster.feature_name())

    def predict_proba(self, X):
        import numpy as np

        p1 = np.asarray(self.booster.predict(X))
        return np.stack([1.0 - p1, p1], axis=1)

    def __getstate__(self):
        return {"model_str": self.booster.model_to_string()}

    def __setstate__(self, state):
        import lightgbm

        self.booster = lightgbm.Booster(model_str=state["model_str"])
        self.feature_names = list(self.booster.feature_name())


class _LogisticStandIn:
    """Deterministic logistic 'model' with the TRUST_MODEL weights; stands in
    for a LightGBM booster so the broadcast/pandas_udf plumbing is real."""

    feature_names = [n for n, _ in TRUST_MODEL["weights"]]

    def predict_proba(self, X):
        import numpy as np

        z = np.full(X.shape[0], TRUST_MODEL["bias"], dtype="float64")
        for i, (_, w) in enumerate(TRUST_MODEL["weights"]):
            z = z + w * X[:, i]
        p1 = 1.0 / (1.0 + np.exp(-z))
        return np.stack([1.0 - p1, p1], axis=1)


def score_with_model(spark: SparkSession, df: DataFrame) -> Column:
    """General scorer: broadcast model (load_model) + vectorized pandas_udf
    over the features engineered from the raw profile columns of the same
    names. Returns a Column to attach with .withColumn."""
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(load_model())
    names = [name for name, _ in TRUST_MODEL["weights"]]

    # features ride in ONE struct column so the udf arity is independent of
    # the feature count (varargs pandas_udf signatures are unsupported)
    @pandas_udf("double")
    def _score(feats: pd.DataFrame) -> pd.Series:
        import numpy as np

        X = np.stack([feats[n].to_numpy(dtype="float64") for n in names], axis=1)
        return pd.Series(bc.value.predict_proba(X)[:, 1] * 100.0)

    raw = ("followers", "posts", "engagement_rate", "verified", "age_days", "ff_ratio")
    feats = _features({c: F.col(c) for c in raw})
    packed = F.struct(*[feats[n].alias(n) for n in names])
    return _score(packed)
