"""Driver-hashable invariant companions for approximate queries.

The sketch/ANN/LSH operators are engine-specific, so their raw outputs have
no DuckDB oracle (rows-only driver check). These companions move their
correctness into the driver's hash signal (r3 verdict ask #5): each computes
the operator AND its ground truth in-engine, reduces the comparison to
boolean invariant columns, and pairs it with a trivial oracle asserting the
invariant holds for the exact same row set. A sketch/recall regression flips
a boolean -> hash mismatch -> red driver row.

Bounds are set from measured values at sf0.001/sf0.01/sf0.1 with wide
margins (e.g. measured LSH recall 0.667 -> bound 0.4); everything is
deterministic (fixed hash seeds), so a bound either always holds or the
operator actually regressed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.functions.text import (
    TOKEN_COUNT_ORACLE_SQL,
    token_count,
)
from kol_bigdata_realtime_analytics_spark.operators.dedup import (
    NUM_HASHES,
    SHINGLE_N,
    SIMHASH_MAX_HAMMING,
    hamming64,
    minhash_signature,
    shingle_hash_rows,
    simhash_neardup_pairs,
    simhash_signature,
)
from kol_bigdata_realtime_analytics_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    ivfpq_topk,
    lsh_topk,
)
from kol_bigdata_realtime_analytics_spark.plans.registry import register, table

# ---------------------------------------------------------------------------
# HLL sketch error bound (certifies approx_distinct_users)
# ---------------------------------------------------------------------------


@register(
    "hll_error_bound_check",
    oracle="SELECT event_type, TRUE AS within_5pct FROM events GROUP BY event_type",
)
def hll_error_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|approx_count_distinct - exact| / exact <= 5% per group, as a boolean.

    Companion to the rows-only `approx_distinct_users`: the sketch and the
    exact count run in ONE aggregation pass; the oracle asserts the bound
    holds for every group, so HLL drift turns into a driver hash mismatch.
    """
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02) - F.countDistinct("user_id")
            )
            / F.countDistinct("user_id")
            <= 0.05
        ).alias("within_5pct")
    )


# ---------------------------------------------------------------------------
# KLL-style percentile sketch rank-error bound (certifies approx_value_percentiles)
# ---------------------------------------------------------------------------


@register(
    "approx_percentile_bound_check",
    oracle="""
    SELECT event_type, TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type
    """,
)
def approx_percentile_bound_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile(q) lies within the exact [q-2%, q+2%] quantile band.

    Companion to the rows-only `approx_value_percentiles`: the sketch's rank
    error (accuracy=10000 => 1e-4) is certified against exact percentiles
    computed in the same pass, with a 200x margin. p99's upper band uses the
    0.999 quantile (q+2% would exceed 1).
    """
    ev = table(spark, sf_dir, "events")

    def band(q: float, lo: float, hi: float) -> F.Column:
        ap = F.approx_percentile("value", F.lit(q), F.lit(10000))
        return (F.percentile("value", F.lit(lo)) <= ap) & (
            ap <= F.percentile("value", F.lit(hi))
        )

    return ev.groupBy("event_type").agg(
        band(0.5, 0.48, 0.52).alias("p50_ok"),
        band(0.9, 0.88, 0.92).alias("p90_ok"),
        band(0.99, 0.97, 0.999).alias("p99_ok"),
    )


# ---------------------------------------------------------------------------
# ANN recall bounds vs the exact scorer, computed fully in-engine
# (certify ann_lsh_topk / ann_ivf_topk)
# ---------------------------------------------------------------------------

_RECALL_ORACLE = """
SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries, TRUE AS recall_ge_bound
FROM embeddings WHERE vec_id < 5
"""


def _recall_check(spark: SparkSession, sf_dir: str, approx_fn, bound: float) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3).select("q_id", "c_id")
    approx = approx_fn(emb, queries).select("q_id", "c_id").withColumn("m", F.lit(1))
    j = exact.join(approx, ["q_id", "c_id"], "left")
    return j.agg(
        F.countDistinct("q_id").alias("n_queries"),
        (F.coalesce(F.sum("m"), F.lit(0)) / F.count("*") >= bound).alias("recall_ge_bound"),
    )


@register("ann_lsh_recall_check", oracle=_RECALL_ORACLE)
def ann_lsh_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall@3 vs brute-force cosine >= 0.4 (measured 0.667 at every sf).

    Companion to `ann_lsh_topk` (hash-certified since r10): both the approximate and the
    exact scorer run in-engine; the driver hash now certifies the recall
    bound instead of only a row count.
    """
    return _recall_check(
        spark,
        sf_dir,
        lambda emb, q: lsh_topk(emb, q, dim=64, n_planes=4, n_tables=8),
        bound=0.4,
    )


@register("ann_ivf_recall_check", oracle=_RECALL_ORACLE)
def ann_ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (probe 2 of 8) recall@3 vs brute force >= 0.25 (measured 0.47-0.53).

    Companion to `ann_ivf_topk` (hash-certified since r10) — near-random TESTDATA vectors
    cap achievable recall at ~n_probe/n_centroids-ish; the bound certifies
    the quantizer isn't degenerate (a corner-collapsed quantizer measures
    ~0.1, see tests/test_operators.py clustered-data case).
    """
    return _recall_check(
        spark,
        sf_dir,
        lambda emb, q: ivf_topk(emb, q, n_centroids=8, cache_key=sf_dir),
        bound=0.25,
    )


@register(
    "ann_ivfpq_recall_check",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_queries, TRUE AS recall_ge_bound,
           TRUE AS all_hits_in_cluster
    """,
)
def ann_ivfpq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ recall on CLUSTERED embeddings (r4 verdict ask 5).

    `pq_distortion_check` certifies the quantizer and clustered-recall
    pytest covers recall, but the registered TESTDATA vectors are
    near-random, so recall there is noise-level. This companion generates
    a deterministic 512-vector / 8-cluster mixture IN-PLAN (same family as
    tests/test_operators.py's clustered fixtures: spike centers + small
    per-id jitter, built with spark.range + transform — no driver-side
    data), runs the full ivfpq_topk path (coarse k-means + PQ codebooks +
    ADC scoring, probe 2 of 8), and certifies against in-engine brute
    force: recall@3 >= 0.6 over 8 queries (one per cluster) AND every
    approximate hit lies in its query's cluster (precision of the coarse
    quantizer — a collapsed/corner codebook fails both). Fully
    deterministic (fixed fixture, hash-ordered sample, tie-stable Lloyd),
    sf-independent by design: the invariant certifies the OPERATOR, not
    the corpus. Reference semantics: operators/similarity.py:725-828.
    """
    dim, ncl = 16, 8
    emb = spark.range(512).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), i -> "
            f"(CASE WHEN i = (id % {ncl}) * 2 THEN 1.0d "
            f"      WHEN i = (id % {ncl}) * 2 + 1 THEN 0.6d "
            f"      ELSE 0.05d END) + 0.01d * CAST((id * 7 + i) % 5 AS DOUBLE))"
        ).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < ncl)  # vec_id 0..7 -> one per cluster
    exact = (
        brute_force_topk(emb, queries, k=3)
        .select("q_id", "c_id")
        .withColumn("is_exact", F.lit(1))
    )
    approx = (
        ivfpq_topk(
            emb, queries, k=3, n_centroids=ncl, n_probe=2, m=8, ksub=16,
            sample_size=512,
            # fixture is sf-independent (in-plan deterministic mixture), so a
            # constant key is the correct data identity
            cache_key="ivfpq_recall_fixture_512x16",
        )
        .select("q_id", "c_id")
        .withColumn("is_approx", F.lit(1))
    )
    u = exact.join(approx, ["q_id", "c_id"], "full")
    hit = (F.col("is_exact") == 1) & (F.col("is_approx") == 1)
    return u.agg(
        F.countDistinct(F.when(F.col("is_exact") == 1, F.col("q_id"))).alias("n_queries"),
        (
            F.sum(F.when(hit, 1).otherwise(0))
            / F.sum(F.when(F.col("is_exact") == 1, 1).otherwise(0))
            >= 0.6
        ).alias("recall_ge_bound"),
        F.min(
            F.when(
                F.col("is_approx") == 1,
                (F.col("c_id") % ncl) == (F.col("q_id") % ncl),
            )
        ).alias("all_hits_in_cluster"),
    )


@register(
    "ann_ivfpq_residual_recall_check",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_queries, TRUE AS recall_ge_bound,
           TRUE AS residual_beats_plain
    """,
)
def ann_ivfpq_residual_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ (IVFADC) recall BEATS the non-residual form (r6
    verdict ask #2).

    The original `ann_ivfpq_recall_check` fixture saturates both forms at
    recall 1.0 (its clusters differ along 2 coordinates and contain exact
    duplicates, so PQ ties resolve by id) — "beats" is unmeasurable there.
    This check uses a harder deterministic mixture where residual encoding
    has something to win: 512 vectors / 8 clusters whose centers differ in
    EVERY coordinate (spread ±3 via a (cluster*31 + i*17) % 7 lattice), so
    plain PQ spends its 16 centroids per subspace covering inter-cluster
    spread, while per-id jitter (±0.05, the thing that decides top-3 among
    64 same-cluster candidates) is what residual codebooks see after the
    list anchor is subtracted. Measured, fully deterministic (fixed
    fixture, hash-ordered sample, tie-stable Lloyd): plain recall@3 =
    12/24, residual = 15/24 — the booleans certify residual >= 0.5 AND
    residual STRICTLY beats plain. A regression in the residual encode /
    correction-term math (e.g. dropping the 2*c·r cross term) collapses
    residual to plain or below and flips the second boolean.
    Reference semantics: operators/similarity.py pq_residual_codebooks /
    ivfpq_topk(residual=True)."""
    dim, ncl = 16, 8
    emb = spark.range(512).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), i -> "
            f"CAST(((id % {ncl}) * 31 + i * 17) % 7 AS DOUBLE) - 3.0d"
            f" + 0.05d * CAST((id * 13 + i * 29) % 97 AS DOUBLE) / 97.0d)"
        ).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < ncl)
    # exact reference feeds BOTH recall branches: pin it (512-row frame)
    exact = (
        brute_force_topk(emb, queries, k=3)
        .select("q_id", "c_id")
        .localCheckpoint(eager=True)
    )
    key = "ivfpq_residual_fixture_512x16"

    def recall_frame(residual: bool, col: str) -> DataFrame:
        approx = ivfpq_topk(
            emb, queries, k=3, n_centroids=ncl, n_probe=2, m=8, ksub=16,
            sample_size=512, cache_key=key, residual=residual,
        ).select("q_id", "c_id").withColumn("m", F.lit(1))
        return exact.join(approx, ["q_id", "c_id"], "left").agg(
            F.countDistinct("q_id").alias(f"nq_{col}"),
            (F.coalesce(F.sum("m"), F.lit(0)) / F.count("*")).alias(col),
        )
    plain = recall_frame(False, "r_plain")
    res = recall_frame(True, "r_res")
    return res.crossJoin(F.broadcast(plain)).select(
        F.col("nq_r_res").cast("long").alias("n_queries"),
        (F.col("r_res") >= 0.5).alias("recall_ge_bound"),
        (F.col("r_res") > F.col("r_plain")).alias("residual_beats_plain"),
    )


@register(
    "pq_distortion_check",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS mean_rel_err_ok, TRUE AS max_rel_err_ok
    FROM embeddings
    """,
)
def pq_distortion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (8x16) relative reconstruction error: mean <= 0.75, max <= 0.9.

    Companion to `ann_pq_topk` (hash-certified since r10). Rank-based recall is the
    wrong invariant for PQ on TESTDATA: the vectors are near-random, so
    exact top-3 margins are at quantization-noise level and recall@3
    measures 0.07-0.4 across sfs (pytest bounds recall on CLUSTERED data
    instead, where it is stable). The quantizer's own contract — encode to
    the NEAREST centroid, codebooks fit the data — is ||x - x_hat||^2 /
    ||x||^2, measured 0.54-0.58 mean / 0.67-0.73 max at sf0.001-0.1
    (deterministic: hash-ordered sample, tie-stable Lloyd). A degenerate
    or collapsed codebook scores ~1.0 and flips both booleans.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        as_double_vec,
        pq_codebooks,
    )

    emb = table(spark, sf_dir, "embeddings")
    B = np.array(pq_codebooks(emb, m=8, ksub=16, cache_key=sf_dir), dtype="float64")
    m, _, dsub = B.shape

    @pandas_udf("double")
    def _rel_err(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        err = np.zeros(len(X))
        for s in range(m):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1)
        n2 = (X * X).sum(axis=1)
        return pd.Series(np.where(n2 > 0, err / np.maximum(n2, 1e-300), 0.0))

    from kol_bigdata_realtime_analytics_spark.plans.registry import dsum_raw

    # decimal-accumulated sum (order-proof) / count instead of raw AVG —
    # the registry float-agg fence applies to invariant queries too
    return emb.select(_rel_err(as_double_vec(F.col("embedding"))).alias("e")).agg(
        F.count("*").alias("n_vectors"),
        (dsum_raw(F.col("e")) / F.count("*") <= 0.75).alias("mean_rel_err_ok"),
        (F.max("e") <= 0.9).alias("max_rel_err_ok"),
    )


@register(
    "pca_variance_check",
    oracle="""
    SELECT CAST(512 AS BIGINT) AS n_vectors, TRUE AS pca_captures_signal,
           TRUE AS beats_truncation
    """,
)
def pca_variance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA's defining optimality, driver-hash-certified (companion to the
    rows-only `embedding_pca_project`). The registered TESTDATA embeddings
    are near-isotropic — PCA provably can't beat coordinate truncation
    there — so the check builds a deterministic ANISOTROPIC mixture
    in-plan: 512 vectors whose signal lives in a rank-4 subspace SPREAD
    ACROSS all 16 coordinates (4 fixed LCG directions x per-id integer
    coefficients) plus ~0.02 noise. Top-4 PCA reconstruction must recover
    the signal (mean relative error <= 0.05; the noise floor is ~1e-4),
    while keeping the first 4 raw coordinates — the naive compression —
    must be >= 4x worse (measured ~0.75: the signal is deliberately not
    axis-aligned). A wrong eigen-order, sign handling, or centering bug
    inflates the PCA error and flips a boolean."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        _seeded_planes,
        as_double_vec,
        pca_fit,
    )
    from kol_bigdata_realtime_analytics_spark.plans.registry import dsum_raw

    dim, rank = 16, 4
    R = _seeded_planes(dim, rank, seed=7)
    rlits = [F.array(*[F.lit(x) for x in row]) for row in R]
    primes = [3, 7, 11, 13]
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def coord(j):
        out = F.lit(0.0)
        for t in range(rank):
            coef = ((F.col("id") * primes[t]) % 11 - 5).cast("double")
            out = out + coef * F.element_at(rlits[t], j + 1)
        noise = 0.02 * ((F.col("id") * 13 + j * 29) % 97).cast("double") / 97.0
        return out + noise

    emb = spark.range(512).select(
        F.col("id").alias("vec_id"), F.transform(idx, coord).alias("embedding")
    )
    mu, comps = pca_fit(
        emb, n_components=rank, sample_size=512,
        # in-plan deterministic fixture -> constant key is the data identity
        cache_key="pca_aniso_fixture_512x16",
    )
    m = np.array(mu)
    P = np.array(comps)  # (rank, dim)

    @pandas_udf("array<double>")
    def _rel_errs(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        Xc = X - m
        tot = (Xc * Xc).sum(axis=1)
        pca_res = Xc - (Xc @ P.T) @ P
        trunc_res = Xc.copy()
        trunc_res[:, :rank] = 0.0  # truncation keeps the first `rank` coords
        denom = np.maximum(tot, 1e-300)
        return pd.Series(
            list(
                np.stack(
                    [(pca_res * pca_res).sum(axis=1) / denom,
                     (trunc_res * trunc_res).sum(axis=1) / denom],
                    axis=1,
                )
            )
        )

    errs = emb.select(_rel_errs(as_double_vec(F.col("embedding"))).alias("e")).select(
        F.element_at("e", 1).alias("pca_err"), F.element_at("e", 2).alias("trunc_err")
    )
    return errs.agg(
        F.count("*").alias("n_vectors"),
        (dsum_raw(F.col("pca_err")) / F.count("*") <= 0.05).alias("pca_captures_signal"),
        (
            dsum_raw(F.col("trunc_err")) >= 4.0 * dsum_raw(F.col("pca_err"))
        ).alias("beats_truncation"),
    )


# ---------------------------------------------------------------------------
# MinHash signature fidelity vs exact n-gram Jaccard (certifies the
# signature lanes minhash_lsh_candidates bands)
# ---------------------------------------------------------------------------

_MINHASH_EST_ORACLE = f"""
SELECT d1.doc_id, TRUE AS ok
FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
WHERE {TOKEN_COUNT_ORACLE_SQL.format(col='d1.text')} >= 3
  AND {TOKEN_COUNT_ORACLE_SQL.format(col='d2.text')} >= 3
"""


@register("minhash_estimate_check", oracle=_MINHASH_EST_ORACLE)
def minhash_estimate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|signature-estimated Jaccard - exact shingle Jaccard| <= 0.4 per pair.

    Companion to `minhash_lsh_candidates` (hash-certified since r10): for every
    consecutive-id doc pair (both docs long enough to shingle), the agreement
    fraction of the 32 lanes of dedup.minhash_signature — the signature the
    query bands — must track the EXACT 3-gram Jaccard computed from distinct
    shingle-hash rows. 32 lanes bound the estimator std at ~0.09, so 0.4 is
    a >4-sigma margin — and the lanes are literal, so the check is fully
    deterministic.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # exact side: distinct shingle-hash rows -> per-doc set size + pair
    # overlap. The three shared frames (shingle rows, signatures, token
    # counts) are pinned: each feeds 2-3 join branches, and unpinned the
    # corpus re-tokenized once per branch (plan audit: 8 scans -> 1).
    sh = shingle_hash_rows(docs, "text", "doc_id", SHINGLE_N).distinct().localCheckpoint(eager=True)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    # shuffle_hash hint: BOTH sides are the corpus-sized shingle frame, and
    # the checkpointed RDD's stats mislead the planner into BROADCASTING it
    # — at 8x volume that is a multi-GB driver-built hash relation (the
    # scale_check run never finished). A composite-key shuffle join is the
    # correct shape at any size; same rows, same hash.
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y").hint("shuffle_hash"),
            (F.col("y.doc") == F.col("x.doc") + 1) & (F.col("x.h") == F.col("y.h")),
        )
        .groupBy(F.col("x.doc").alias("doc_id"))
        .agg(F.count("*").alias("n_inter"))
    )
    # estimate side: fraction of agreeing minhash lanes of the codegen'd
    # signature frame (an array-lambda signature ran interpreted per
    # shingle and never finished the 8x scale audit; PERF.md §6)
    sig = (
        minhash_signature(docs, "text", "doc_id")
        .select(
            F.col("doc").alias("doc_id"),
            F.array(*[f"l{i}" for i in range(NUM_HASHES)]).alias("sig"),
        )
        .localCheckpoint(eager=True)
    )
    tc = docs.select("doc_id", token_count("text").alias("tc")).localCheckpoint(eager=True)
    pairs = (
        tc.alias("a")
        .join(tc.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter((F.col("a.tc") >= 3) & (F.col("b.tc") >= 3))
        .select(F.col("a.doc_id").alias("doc_id"))
    )
    est_frac = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda v: v,
            )
        ).cast("double")
        / NUM_HASHES
    )
    joined = (
        pairs.join(sig.select(F.col("doc_id"), F.col("sig").alias("sig_a")), "doc_id")
        .join(
            sig.select((F.col("doc_id") - 1).alias("doc_id"), F.col("sig").alias("sig_b")),
            "doc_id",
        )
        .join(sizes.select(F.col("doc").alias("doc_id"), F.col("sz").alias("sz_a")), "doc_id")
        .join(
            sizes.select((F.col("doc") - 1).alias("doc_id"), F.col("sz").alias("sz_b")),
            "doc_id",
        )
        .join(inter, "doc_id", "left")
    )
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0))
    true_j = n_inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - n_inter)
    return joined.select(
        "doc_id", (F.abs(est_frac - true_j) <= 0.4).alias("ok")
    )


# ---------------------------------------------------------------------------
# Count-min sketch invariants — est >= exact (counters only add) and each
# depth-row of counters sums to N (every item lands in exactly one bucket
# per row). Both are STRUCTURAL: they hold for any data and hash seeds, so
# the driver hash certifies the sketch build+estimate pipeline end-to-end.
# The probabilistic tightness bound (est <= exact + e*N/width w.h.p.) is
# empirically bounded in tests/test_operators.py.
# ---------------------------------------------------------------------------

_COUNT_MIN_ORACLE = """
SELECT user_id,
       COUNT(*) AS exact_count,
       CAST(1 AS INTEGER) AS est_ge_exact,
       CAST(1 AS INTEGER) AS rows_sum_to_n
FROM events GROUP BY user_id
""".strip()


@register("count_min_check", oracle=_COUNT_MIN_ORACLE)
def count_min_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4x1024 count-min over events.user_id, estimate every
    distinct user's event count, and emit the structural invariants next
    to the exact count (computed in the same plan). The sketch itself is
    hash-seed-dependent; the INVARIANTS are not — the oracle states them
    as constants and recomputes the exact counts."""
    from kol_bigdata_realtime_analytics_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    ev = table(spark, sf_dir, "events")
    # ONE corpus aggregation: the sketch derives from the exact counts via
    # the weighted build (the counter grid is linear in its inputs), and
    # the tiny counts frame is pinned so its lineage doesn't re-execute
    # for the sketch / estimate / total branches.
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
        .localCheckpoint(eager=True)
    )
    sketch = count_min_build(exact, "user_id", weight_col="exact_count")
    est = count_min_estimate(exact, sketch, "user_id")
    # every depth-row's counters must sum to the total item count
    n_total = exact.agg(F.sum("exact_count").alias("n")).select("n")
    row_sums = sketch.groupBy("d").agg(F.sum("cnt").alias("row_sum"))
    rows_ok = (
        row_sums.crossJoin(F.broadcast(n_total))
        .agg(
            F.min((F.col("row_sum") == F.col("n")).cast("int")).alias("rows_sum_to_n")
        )
    )
    return (
        exact.join(est, "user_id")
        .crossJoin(F.broadcast(rows_ok))
        .select(
            "user_id",
            "exact_count",
            (F.col("cm_estimate") >= F.col("exact_count")).cast("int").alias("est_ge_exact"),
            F.col("rows_sum_to_n").cast("int").alias("rows_sum_to_n"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling distinct-users via DAILY HLL SKETCHES merged over 7-day windows —
# the sketch-REUSE pattern: the corpus is scanned once to build one sketch
# per day; every rolling window is a union of 7 tiny sketches (range join
# on day keys), never a rescan. Exact rolling distincts are re-derived in
# both engines from (day, user) pairs for the error invariant, so the
# driver hash certifies estimate accuracy without depending on sketch
# internals.
# ---------------------------------------------------------------------------

_ROLLING_HLL_ORACLE = """
WITH du AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM du),
exact AS (
  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS exact_users_7d
  FROM days d JOIN du u
    ON u.day <= d.day AND u.day >= strftime(CAST(d.day AS DATE) - INTERVAL 6 DAY, '%Y-%m-%d')
  GROUP BY d.day
)
SELECT day, exact_users_7d, CAST(1 AS INTEGER) AS approx_within_5pct
FROM exact
""".strip()


@register("rolling_hll_users_check", oracle=_ROLLING_HLL_ORACLE)
def rolling_hll_users_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct users: daily HLL sketches (one scan) merged
    per window via hll_union_agg over a day-range join, checked against
    the exact rolling distinct (derived from per-day distinct pairs — at
    day grain that stays small). Emits the exact count + a 5% relative-
    error boolean; the estimate itself is sketch-internal and stays out
    of the hash."""
    ev = table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    # one sketch row per day; pinned — the day-spine and the window join
    # must not re-scan events to re-derive it (that IS the pattern: daily
    # sketches are staged once, windows merge the staged rows)
    daily_sk = (
        ev.groupBy(day.alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .localCheckpoint(eager=True)
    )
    days = daily_sk.select(F.col("day").alias("anchor"))
    window_sk = (
        days.join(
            daily_sk,
            (F.col("day") <= F.col("anchor"))
            & (
                F.col("day")
                >= F.date_format(F.date_sub(F.to_date("anchor"), 6), "yyyy-MM-dd")
            ),
        )
        .groupBy("anchor")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx"))
    )
    du = ev.select(day.alias("day"), "user_id").distinct()
    exact = (
        days.join(
            du,
            (F.col("day") <= F.col("anchor"))
            & (
                F.col("day")
                >= F.date_format(F.date_sub(F.to_date("anchor"), 6), "yyyy-MM-dd")
            ),
        )
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    return (
        exact.join(window_sk, "anchor")
        .select(
            F.col("anchor").alias("day"),
            "exact_users_7d",
            (
                F.abs(F.col("approx") - F.col("exact_users_7d"))
                <= F.col("exact_users_7d") * 0.05
            )
            .cast("int")
            .alias("approx_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash banding completeness (certifies simhash_neardups)
# ---------------------------------------------------------------------------


@register(
    "simhash_recall_check",
    oracle="SELECT TRUE AS pigeonhole_complete, TRUE AS found_pairs_nonempty",
)
def simhash_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every pair within hamming <= 3 is found by the 4 x 13-bit banding.

    Unlike the probabilistic LSH recall checks, SimHash banding's
    guarantee is EXACT (pigeonhole: 3 bit flips touch <= 3 of 4 chunks, so
    one chunk always matches) — this certifies the implementation, not a
    bound. Ground truth = brute-force hamming over dedup.simhash_signature
    of a bounded doc slice UNIONED WITH A PLANTED COPY of itself (hamming-0
    pairs by construction, so the check can never pass vacuously at any
    sf); candidates = dedup.simhash_neardup_pairs over the same slice, the
    pair function `simhash_neardups` runs. An anti-join of exact pairs
    against the candidates must be empty. Companion to `simhash_neardups`
    (hash-certified since r10).
    """
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
    )
    base = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    # signatures for the brute-force side (<= 800 rows; broadcast); the
    # candidate side signs the same slice again inside the pair function
    sig = simhash_signature(base, "text", "doc_id").localCheckpoint(eager=True)
    a, b = sig.alias("a"), sig.alias("b")
    exact = (
        a.join(F.broadcast(b), F.col("a.doc") < F.col("b.doc"))
        .filter(hamming64(F.col("a.sim"), F.col("b.sim")) <= SIMHASH_MAX_HAMMING)
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
    )
    cand = simhash_neardup_pairs(base, "text", "doc_id").select("id_a", "id_b")
    missed = exact.join(cand, ["id_a", "id_b"], "left_anti")
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(missed.agg(F.count("*").alias("n_missed")))
        .select(
            (F.col("n_missed") == 0).alias("pigeonhole_complete"),
            (F.col("n_exact") > 0).alias("found_pairs_nonempty"),
        )
    )


# ---------------------------------------------------------------------------
# HLL sketch ALGEBRA — set-operation estimates from mergeable sketches
# ---------------------------------------------------------------------------


@register(
    "hll_segment_overlap_check",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
         b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
    SELECT CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
             AS exact_overlap,
           TRUE AS within_15pct
    """,
)
def hll_segment_overlap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-overlap estimate by HLL inclusion-exclusion, bounded vs exact.

    |A∩B| ≈ est(A) + est(B) − est(A∪B): the sketch-algebra answer to
    "how many users are in BOTH segments" when segments live on different
    machines and only sketches travel. One events scan: per-user segment
    flags (a grouping HLL would dedup anyway), then ONE aggregation builds
    both filtered sketches, the union sketch, and the exact overlap.
    Inclusion-exclusion compounds the three sketch errors, hence the 15%
    band (measured ≤1.6% at sf0.001-0.1 with rsd defaults)."""
    ev = table(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("in_a"),
        F.max((F.col("event_type") == "click").cast("int")).alias("in_b"),
    )
    stats = flags.agg(
        F.sum((F.col("in_a") * F.col("in_b"))).alias("exact_overlap"),
        F.hll_sketch_estimate(
            F.expr("hll_sketch_agg(user_id) FILTER (WHERE in_a = 1)")
        ).alias("ea"),
        F.hll_sketch_estimate(
            F.expr("hll_sketch_agg(user_id) FILTER (WHERE in_b = 1)")
        ).alias("eb"),
        F.hll_sketch_estimate(
            F.expr("hll_sketch_agg(user_id) FILTER (WHERE in_a = 1 OR in_b = 1)")
        ).alias("eab"),
    )
    return stats.select(
        F.col("exact_overlap").cast("long").alias("exact_overlap"),
        (
            F.abs(F.col("ea") + F.col("eb") - F.col("eab") - F.col("exact_overlap"))
            <= F.greatest(F.col("exact_overlap") * 0.15, F.lit(5.0))
        ).alias("within_15pct"),
    )


# ---------------------------------------------------------------------------
# AGMS join-size estimation — the sketch a cost-based optimizer exchanges
# instead of scanning either side: |A ⋈ B on k| = <f_A, f_B> estimated from
# two depth x width signed-counter grids.
# ---------------------------------------------------------------------------


@register(
    "join_size_ams_check",
    oracle="""
    WITH c AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
      FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(ca * cb) AS BIGINT) AS exact_join_size,
           TRUE AS ams_within_10pct
    FROM c
    """,
)
def join_size_ams_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGMS estimate of |views ⋈ clicks on user_id| within 10% of exact.

    One events scan builds per-user counts for both sides (the grids are
    linear, so they derive from the aggregated frame — the count_min_check
    pattern); the join size is estimated by `agms_join_size` (median of
    depth all-integer inner products — deterministic seeded hashes) and
    certified against the exact sum-of-count-products computed from the
    SAME pinned counts frame. At 100 TB this is the pre-join cardinality
    check that costs two depth*width sketch exchanges, not a data shuffle.
    Bound: with ~2.4k distinct users at sf0.1 vs width 256, measured
    relative error <= 2-4%; 10% is the stable margin.
    """
    from kol_bigdata_realtime_analytics_spark.operators.sketch import (
        agms_build,
        agms_join_size,
    )

    ev = table(spark, sf_dir, "events")
    counts = (
        ev.groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "view").cast("long")).alias("ca"),
            F.sum((F.col("event_type") == "click").cast("long")).alias("cb"),
        )
        .localCheckpoint(eager=True)
    )
    sa = agms_build(counts.filter(F.col("ca") > 0), "user_id", weight_col="ca")
    sb = agms_build(counts.filter(F.col("cb") > 0), "user_id", weight_col="cb")
    est = agms_join_size(sa, sb)
    exact = counts.agg(F.sum(F.col("ca") * F.col("cb")).alias("exact_join_size"))
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("exact_join_size").cast("long").alias("exact_join_size"),
        (
            F.abs(F.col("est") - F.col("exact_join_size"))
            <= F.col("exact_join_size") * 0.10
        ).alias("ams_within_10pct"),
    )
