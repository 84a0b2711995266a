"""Similarity search over embedding columns (array<float>).

- brute_force_topk : exact cosine top-k. The query side is broadcast; the
  candidate scan is embarrassingly parallel (no shuffle except the final
  per-query top-k, which is a tiny window over k*|queries| rows after a
  partition-local prefilter).
- lsh_bucket_pairs : random-hyperplane LSH (sign of dot with fixed seeded
  planes) -> bucket equi-join. The scale path: at 100 TB the bucket join
  shuffles only (bucket_id) keys, never the O(n^2) cross product.

Dot products use F.zip_with + F.aggregate over double-cast arrays: sequential
JVM-side fold, deterministic order (matches the DuckDB oracle bit-for-bit
before rounding).
"""

from __future__ import annotations


import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark import artifacts

#: The embeddings table's id and vector columns, which the search operators read.
ID_COL = "vec_id"
VEC_COL = "embedding"
#: Neighbours per query of the approximate top-k operators.
TOP_K = 3
#: Rows of the deterministic fit sample (hash_sample, hash_sample_offline).
SAMPLE_SIZE = 4096
#: Lloyd rounds of every quantizer fit (k-means, PQ, residual PQ).
LLOYD_ITERS = 20
#: Bits of a binary (sign) code: two packed 32-bit halves.
CODE_BITS = 64


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product as a zip_with/aggregate fold, left to right (i = 0..dim-1),
    matching DuckDB's list_dot_product order. Unrolling it into a chain of
    GetArrayItem multiplies measured slower: 2.4 s against 1.3 s for the
    fold (brute-force top-k, sf0.1, dim=64, local[32])."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a scored (q_id, c_id, cosine) frame: the one
    rank rule of the similarity family. Ranks by cosine DESC, then c_id
    ASC, so equal (rounded) cosines resolve to the lower id — the
    tie-break every DuckDB oracle mirrors with `ORDER BY cosine DESC,
    c_id ASC`. Returns (q_id, c_id, cosine, rank) with rank a 1-based
    BIGINT; a query with fewer than k candidates keeps all of them."""
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def brute_force_topk(candidates: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k per query: (q_id, c_id, cosine) with rank <= k.

    queries is broadcast (small side); ranking sorts on ROUND(cos, 6) with an
    id tie-break so results are engine-independent.
    """
    q = queries.select(
        F.col(ID_COL).alias("q_id"), as_double_vec(F.col(VEC_COL)).alias("q_vec")
    )
    c = candidates.select(
        F.col(ID_COL).alias("c_id"), as_double_vec(F.col(VEC_COL)).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    return rank_topk(scored, k)


def cosine_neardup_pairs(
    df: DataFrame,
    block_col: str | None = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs (a < b) with cosine >= threshold, equi-blocked by block_col.

    Blocking (label / LSH bucket / IVF centroid) bounds the pair count; the
    join is a plain shuffle-hash join on the block key.
    """
    base = df.select(
        F.col(ID_COL).alias("vid"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
        as_double_vec(F.col(VEC_COL)).alias("vec"),
    )
    # per-ROW norm before the pairing (not per pair): O(n·dim) instead of
    # O(pairs·dim)
    base = base.withColumn("nrm", norm(F.col("vec")))
    if block_col:
        # blocked + fold-order dot: ONE cogrouped Arrow pass scores each
        # block's pair matrix vectorized (bucket_pair_scores) — each vector
        # crosses the Python boundary once per block membership instead of
        # once per pair, bit-identical to the equi-join + interpreted HOF
        # fold it replaces (r11 opt, guide §4.2). NULL blocks pair with
        # nothing under the old join's equality semantics; the cogroup
        # groups NULL keys together, so drop them up front to match.
        nn = base.filter(F.col("blk").isNotNull())
        q = nn.select(
            F.col("vid").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
            F.col("blk").alias("bkt"),
        )
        c = nn.select(
            F.col("vid").alias("c_id"),
            F.col("vec").alias("c_vec"),
            F.col("nrm").alias("c_nrm"),
            F.col("blk").alias("c_bkt"),
        )
        return (
            bucket_pair_scores(q, c, keys=[("bkt", "c_bkt")], pair_filter="lt")
            .select(
                F.col("q_id").alias("id_a"),
                F.col("c_id").alias("id_b"),
                "cosine",
            )
            .filter(F.col("cosine") >= threshold)
        )
    a = base.alias("a")
    b = base.alias("b")
    join_on = (F.col("a.blk") == F.col("b.blk")) if block_col else F.lit(True)
    return (
        a.join(b, join_on)
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(
                dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def bucket_pair_scores(
    q: DataFrame,
    c: DataFrame,
    keys: list[tuple[str, str]] | None = None,
    pair_filter: str = "ne",
) -> DataFrame:
    """All (q, c) cosine pairs sharing a bucket key, scored in ONE cogrouped
    Arrow pass — the shared kernel of every bucket-blocked pair join
    (kNN graph, HNSW layers, insert/repair probes, LSH near-dup pairs).

    q: (q_id long, q_vec array<double>, q_nrm double, <q bucket key>[, lead keys])
    c: (c_id long, c_vec array<double>, c_nrm double, <c bucket key>[, lead keys])
    keys: [(q_col, c_col), ...] match columns, bucket key LAST; leading key
      pairs (e.g. ("level", "level")) are emitted in the output under the
      q-side name. Default [("probe", "c_bkt")].
    pair_filter: "ne" drops q_id == c_id (kNN self-pairs); "lt" keeps only
      q_id < c_id (unordered near-dup pairs).

    Returns (lead keys..., q_id, c_id, cosine) with cosine =
    ROUND(dot / (q_nrm * c_nrm), 6).

    Why this shape: the equi-join form materializes BOTH 64-double vectors
    per PAIR and folds the dot interpreted per pair (HigherOrderFunction —
    PERF §2.1); here each vector crosses the JVM->Arrow boundary once per
    GROUP MEMBERSHIP (~bucket occupancy × fewer bytes) and the fold runs
    vectorized over the whole q×c pair block. Determinism: the accumulator
    adds one (rounded) product per dimension left-to-right — element-wise
    the exact IEEE sequence of the F.aggregate fold and DuckDB's
    list_dot_product (the _lsh_buckets_udf discipline), so results are
    bit-identical to the join form (A/B'd IDENTICAL at sf0.1; oracle SQL
    unchanged). Group size = bucket occupancy, which the plane-count
    scaling keeps bounded at any corpus size (same guarantee the join
    relied on), so the per-group pandas block never grows with the corpus.

    MEASURED (sf0.1, local[32], interleaved best-of-2): the kNN-graph
    build 7.5 s (HOF join) / 5.7 s (pair-wise Arrow UDF) / 1.8 s (this
    kernel) — 4x on the shared build path.
    """
    import numpy as np

    keys = keys or [("probe", "c_bkt")]
    lead = [qk for qk, _ in keys[:-1]]
    out_schema = (
        ", ".join(f"{k} long" for k in lead)
        + (", " if lead else "")
        + "q_id long, c_id long, cosine double"
    )
    empty_cols = [*lead, "q_id", "c_id", "cosine"]

    def _score(key, qp: pd.DataFrame, cp: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # executor-side import

        if not len(qp) or not len(cp):
            return pd.DataFrame(
                {
                    k: pd.Series(dtype="float64" if k == "cosine" else "int64")
                    for k in empty_cols
                }
            )
        Q = np.stack(qp["q_vec"].to_numpy())
        C = np.stack(cp["c_vec"].to_numpy())
        acc = np.zeros((len(Q), len(C)), dtype="float64")
        for d in range(Q.shape[1]):  # sequential per-dim fold: one IEEE
            acc += Q[:, d : d + 1] * C[None, :, d]  # rounding per step
        qn = qp["q_nrm"].to_numpy()
        cn = cp["c_nrm"].to_numpy()
        cos = acc / (qn[:, None] * cn[None, :])
        qi = np.repeat(qp["q_id"].to_numpy(), len(C))
        ci = np.tile(cp["c_id"].to_numpy(), len(Q))
        keep = (qi != ci) if pair_filter == "ne" else (qi < ci)
        out = {k: np.full(int(keep.sum()), key[i]) for i, k in enumerate(lead)}
        out.update(
            {"q_id": qi[keep], "c_id": ci[keep], "cosine": cos.ravel()[keep]}
        )
        return pd.DataFrame(out)

    scored = (
        q.groupBy(*[qk for qk, _ in keys])
        .cogroup(c.groupBy(*[ck for _, ck in keys]))
        .applyInPandas(_score, out_schema)
    )
    return scored.select(
        *lead, "q_id", "c_id", F.round(F.col("cosine"), 6).alias("cosine")
    )


def _seeded_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (pure-Python LCG; no numpy RNG
    state, so the plan is reproducible across runs and machines)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_id(vec_col: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket: n_planes sign bits packed into a long.

    Cosine-similar vectors agree on most sign bits -> land in the same bucket
    with high probability. Planes are literal arrays (broadcast as constants
    into codegen — no side channel)."""
    planes = _seeded_planes(dim, n_planes)
    bucket = F.lit(0).cast("long")
    v = as_double_vec(vec_col)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bit = F.when(dot(v, plane) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit * F.lit(2**i).cast("long")
    return bucket


def _lsh_buckets_udf(dim: int, n_planes: int, n_tables: int):
    """All per-table bucket ids in one Arrow-batched matmul.

    The native per-plane expression (lsh_bucket_id) is right for a handful of
    planes; at n_tables*n_planes projections the literal-array expression
    tree dominates compile time, so here the plane matrix rides inside the
    udf closure. The projection is a SEQUENTIAL FOLD over dims (64
    vectorized mul+add steps, not one BLAS matmul): each accumulator
    element sees exactly ((0 + x0*p0) + x1*p1) + ... with one IEEE
    rounding per op — bit-identical to lsh_bucket_id's F.aggregate fold
    AND to DuckDB's list_dot_product, so every per-table bucket id is
    oracle-derivable from the literal planes (BLAS may sum blocked/
    pairwise, which can flip a >= 0 sign bit on near-orthogonal vectors
    — the one thing that kept ann_lsh_topk rows-only through r9).
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    P = np.array(
        [
            _seeded_planes(dim, n_planes, seed=42 + 1000 * t)[p]
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype="float64",
    ).T  # (dim, n_tables*n_planes)
    powers = np.array([2**i for i in range(n_planes)], dtype="int64")

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        acc = np.zeros((X.shape[0], P.shape[1]), dtype="float64")
        for d in range(X.shape[1]):  # left-to-right fold: matches the
            acc += X[:, d : d + 1] * P[d : d + 1, :]  # SQL engines' order
        bits = (acc >= 0).astype("int64").reshape(len(X), n_tables, n_planes)
        ids = (bits * powers).sum(axis=2)
        return pd.Series(list(ids))

    return _buckets


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    n_planes: int = 6,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: multi-table random-hyperplane LSH.

    Each table hashes with independent planes (fewer bits -> higher recall);
    a query only scores candidates sharing a bucket in ANY table. At scale
    this replaces the full candidate scan with one bucket equi-join on
    (table, bucket) — the scored fraction is ~n_tables/2^n_planes of the
    corpus per query. All n_tables buckets are computed in a SINGLE pass over
    the candidate scan (posexplode), not one scan per table. Same output
    contract as brute_force_topk (q_id, c_id, cosine, rank); recall is
    probabilistic (tests bound it against the exact scorer).
    """

    buckets = _lsh_buckets_udf(dim, n_planes, n_tables)
    c = candidates.select(
        F.col(ID_COL).alias("c_id"), as_double_vec(F.col(VEC_COL)).alias("c_vec")
    ).select("c_id", "c_vec", F.posexplode(buckets(F.col("c_vec"))).alias("t", "b"))
    q = queries.select(
        F.col(ID_COL).alias("q_id"), as_double_vec(F.col(VEC_COL)).alias("q_vec")
    ).select("q_id", "q_vec", F.posexplode(buckets(F.col("q_vec"))).alias("t", "b"))
    # score per bucket-match, THEN dedup: a pair hit in several tables is
    # re-scored (cheap, codegen'd) so the dedup shuffle moves only narrow
    # (q_id, c_id, cosine) rows, never the vectors themselves
    scored = (
        c.join(F.broadcast(q), ["t", "b"])
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"))
        .groupBy("q_id", "c_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    return rank_topk(scored, TOP_K)


def lsh_bucket_sql(vec_expr: str, dim: int, n_planes: int = 8, seed: int = 42) -> str:
    """DuckDB SQL expression computing the SAME bucket id as lsh_bucket_id.

    The planes are literal constants in both engines (same LCG), and both
    compute the plane dot product as a left-to-right sequential fold
    (zip_with/aggregate vs list_dot_product), so the >= 0 sign test sees
    the identical IEEE double — the bucket ids match bit-for-bit. This is
    what lets an LSH-BLOCKED query keep a hash-exact DuckDB oracle: the
    oracle re-derives the buckets instead of trusting the engine's.
    """
    planes = _seeded_planes(dim, n_planes, seed)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0 "
            f"THEN {2**i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def lsh_neardup_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    threshold: float = 0.95,
) -> DataFrame:
    """Scale path for cosine_neardup_pairs: block by LSH bucket instead of a
    semantic label; verify candidates with the exact cosine."""
    with_bucket = df.select(
        F.col(ID_COL).alias(ID_COL),
        F.col(VEC_COL).alias(VEC_COL),
        lsh_bucket_id(F.col(VEC_COL), dim, n_planes).alias("lsh_bucket"),
    )
    return cosine_neardup_pairs(with_bucket, block_col="lsh_bucket", threshold=threshold)


def _sample_fingerprint(sample) -> tuple | None:
    """Content fingerprint of an explicit caller-supplied sample array (None
    for no sample), folded into the fit-memo key so a memo hit can never
    silently discard the sample and return centroids fit on different data.
    sha1 over ~2 MB is a few ms — negligible next to a Lloyd fit."""
    import hashlib

    import numpy as np

    if sample is None:
        return None
    arr = np.ascontiguousarray(sample)
    return (
        "sample_fp",
        arr.shape,
        str(arr.dtype),
        hashlib.sha1(arr.tobytes()).hexdigest(),
    )


def hash_sample(
    candidates: DataFrame,
    id_col: str = ID_COL,
    vec_col: str = VEC_COL,
    sample_size: int = SAMPLE_SIZE,
    cache_key=None,
):
    """Deterministic bounded sample as a numpy array: the `sample_size` rows
    with the smallest xxhash64(id) — stable across partitionings and data
    layout (a seeded rand() sample is not). Shared by every quantizer fit
    so a combined build (e.g. IVF-PQ) collects the corpus sample ONCE.
    `cache_key`: opaque data identity (e.g. sf_dir) enabling the session
    artifact cache, which hands the array out read-only; None (the
    default) always re-collects."""
    import numpy as np

    def collect():
        rows = (
            candidates.select(
                F.col(id_col).alias("vid"),
                as_double_vec(F.col(vec_col)).alias("v"),
                F.xxhash64(F.col(id_col)).alias("h"),
            )
            .orderBy("h", "vid")
            .limit(sample_size)
            .collect()
        )
        return np.array([r["v"] for r in rows], dtype="float64")

    return artifacts.cached(
        "sample", cache_key, (id_col, vec_col, sample_size), collect
    )


def _sample_fit(
    kind, fit, params, candidates, id_col, vec_col, sample_size, sample,
    cache_key,
):
    """fit(X) over the explicit `sample`, else over the shared hash_sample(),
    memoized in the session artifact cache. The explicit sample's content
    is part of the fit identity: a memo hit under a reused cache_key must
    not discard it."""

    def build():
        X = sample if sample is not None else hash_sample(
            candidates, id_col, vec_col, sample_size, cache_key
        )
        return fit(X)

    key = (_sample_fingerprint(sample), id_col, vec_col, sample_size, *params)
    return artifacts.cached(kind, cache_key, key, build)


def kmeans_centroids(
    candidates: DataFrame,
    id_col: str = ID_COL,
    vec_col: str = VEC_COL,
    n_centroids: int = 8,
    sample_size: int = SAMPLE_SIZE,
    sample=None,
    cache_key=None,
) -> list[list[float]]:
    """Spherical k-means centroids fit on a deterministic bounded sample.

    Sample = the `sample_size` rows with the smallest xxhash64(id) — stable
    across partitionings and cluster sizes (a seeded rand() sample is not:
    it depends on row order within partitions). The fit is driver-side
    numpy Lloyd iterations over at most sample_size x dim doubles
    (4096 x 64 = 2 MB) — a bounded model-fit artifact like a broadcast ML
    model, NOT a data-path collect; the corpus itself is never collected.
    Assignment maximizes cosine (rows and centroids L2-normalized every
    round); argmax ties and empty clusters resolve to the lowest index /
    the previous centroid, so the result is reproducible with no RNG seed.
    Initialization is the first n_centroids rows of the hash-ordered
    sample — i.e. a uniform pseudo-random draw, but a fixed one.
    `sample`: pre-fetched hash_sample() array, to share one collect
    across several fits.
    """
    import numpy as np

    def fit(X):
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        Xn = X / nrm
        k = min(n_centroids, len(Xn))
        C = Xn[:k].copy()
        for _ in range(LLOYD_ITERS):
            assign = np.argmax(Xn @ C.T, axis=1)
            new_c = np.empty_like(C)
            for j in range(k):
                members = Xn[assign == j]
                new_c[j] = members.mean(axis=0) if len(members) else C[j]
            cn = np.linalg.norm(new_c, axis=1, keepdims=True)
            cn[cn == 0] = 1.0
            new_c = new_c / cn
            converged = np.allclose(new_c, C, atol=1e-12)
            C = new_c
            if converged:
                break
        return [[float(x) for x in c] for c in C]

    return _sample_fit(
        "kmeans", fit, (n_centroids,),
        candidates, id_col, vec_col, sample_size, sample, cache_key,
    )


def ivf_topk(
    candidates: DataFrame, queries: DataFrame, n_centroids: int = 8, cache_key=None
) -> DataFrame:
    """Approximate cosine top-k: IVF (inverted-file) coarse quantizer.

    Build phase: spherical k-means centroids are fit on a deterministic
    bounded sample (kmeans_centroids above) and broadcast; every candidate
    vector is assigned to its nearest centroid (one broadcast nested-loop
    over n_centroids rows — no shuffle of the corpus itself). Search phase:
    each query probes only its 2 nearest centroids' lists, so the
    scored fraction is ~2/n_centroids of the corpus. At 100 TB the
    assignment is a one-off write of a `cent_id` partition column; searches
    then prune to 2 partitions. Output contract matches
    brute_force_topk; recall is approximate (tests bound it against the
    exact scorer on clustered data, where a non-representative quantizer
    measurably fails).
    """
    centroids = kmeans_centroids(candidates, n_centroids=n_centroids, cache_key=cache_key)
    cents = candidates.sparkSession.createDataFrame(
        [(i, v) for i, v in enumerate(centroids)],
        "cent_id long, cent_vec array<double>",
    )
    base = candidates.select(
        F.col(ID_COL).alias("c_id"), as_double_vec(F.col(VEC_COL)).alias("c_vec")
    )
    wc = Window.partitionBy("c_id").orderBy(F.col("cent_cos").desc(), F.col("cent_id").asc())
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .select("c_id", "c_vec", "cent_id", cosine(F.col("c_vec"), F.col("cent_vec")).alias("cent_cos"))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select("c_id", "c_vec", "cent_id")
    )
    qbase = queries.select(
        F.col(ID_COL).alias("q_id"), as_double_vec(F.col(VEC_COL)).alias("q_vec")
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cent_cos").desc(), F.col("cent_id").asc())
    probed = (
        qbase.crossJoin(F.broadcast(cents))
        .select("q_id", "q_vec", "cent_id", cosine(F.col("q_vec"), F.col("cent_vec")).alias("cent_cos"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .select("q_id", "q_vec", "cent_id")
    )
    scored = (
        assigned.join(F.broadcast(probed), "cent_id")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"))
        .groupBy("q_id", "c_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    return rank_topk(scored, TOP_K)


# ---------------------------------------------------------------------------
# Scalar quantization — int8 embeddings for the 100 TB ANN index
# ---------------------------------------------------------------------------


def quantize_int8(vec_col: Column) -> tuple[Column, Column]:
    """(scale, int8 codes) for a float vector: symmetric per-vector scalar
    quantization, code = round(x / scale), scale = max|x| / 127.

    This is what makes a 100 TB embedding index serveable: 4x smaller than
    float32 (so 4x more of the index fits in executor memory / page cache)
    at <1% cosine-recall loss for typical normalized embeddings. All-native
    array exprs — quantization happens in the scan projection, no UDF.

    Zero vectors get scale 0 and all-zero codes (guarded division).
    """
    absmax = F.array_max(F.transform(vec_col, lambda x: F.abs(x)))
    scale = (absmax / F.lit(127.0)).cast("double")
    codes = F.when(
        scale > 0,
        F.transform(vec_col, lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(vec_col, lambda x: F.lit(0)))
    return scale, codes


def int8_topk_matmul(candidates: DataFrame, queries: DataFrame) -> DataFrame:
    """int8 cosine top-k where scoring is ONE numpy matmul per Arrow batch.

    The scale path for int8 rescoring (PERF.md §5): `ann_int8_topk` proves
    the semantics with native per-pair HOF lambdas, but those evaluate
    interpreted — O(pairs * dim) interpreter steps. Here the (bounded)
    query batch's int8 codes ride inside the UDF closure — the serving-side
    QUERY PAYLOAD, like the IVF centroid artifact, not corpus data — and
    every Arrow batch of candidate codes scores against ALL queries with a
    single (batch x dim) @ (dim x n_queries) int64 matmul.

    Bit-identical to ann_int8_topk by construction: integer dot products
    are exact in int64 and convert to double exactly (< 2^53), the norm/
    divide expression applies the same IEEE ops in the same order, and the
    6dp ROUND happens Spark-side on the identical double. Zero-norm
    vectors score NaN and are filtered. `candidates` is the full corpus
    here; at scale pass the IVF-probed / LSH-bucketed candidate list — the
    matmul is candidate-set-agnostic.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    _, qcodes_expr = quantize_int8(F.col(VEC_COL))
    qrows = queries.select(F.col(ID_COL).alias("q_id"), qcodes_expr.alias("codes")).collect()
    Q = np.array([r["codes"] for r in qrows], dtype="int64")  # (nq, dim)
    qn2 = (Q * Q).sum(axis=1)
    keep = qn2 > 0
    q_ids = [int(r["q_id"]) for i, r in enumerate(qrows) if keep[i]]
    Qm = np.ascontiguousarray(Q[keep].T)  # (dim, nq)
    qnorm = np.sqrt(qn2[keep].astype("float64"))

    @pandas_udf("array<double>")
    def _cosines(codes: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(c, dtype="int64") for c in codes])
        dots = (X @ Qm).astype("float64")  # exact: |dot| <= 127^2 * dim << 2^53
        cn = np.sqrt((X * X).sum(axis=1).astype("float64"))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / (qnorm[None, :] * cn[:, None])
        return pd.Series(list(cos))

    _, ccodes_expr = quantize_int8(F.col(VEC_COL))
    scored = (
        candidates.select(F.col(ID_COL).alias("c_id"), ccodes_expr.alias("codes"))
        .select("c_id", F.posexplode(_cosines(F.col("codes"))).alias("qpos", "cos_raw"))
        .select(
            # lit() of a small Python int types as INT; the id contract is
            # LONG (pandas int32-vs-int64 drift flagged by the r5 audit)
            F.element_at(
                F.array(*[F.lit(i).cast("long") for i in q_ids]), F.col("qpos") + 1
            ).alias("q_id"),
            "c_id",
            "cos_raw",
        )
        .filter((F.col("c_id") != F.col("q_id")) & ~F.isnan("cos_raw"))
        .select("q_id", "c_id", F.round("cos_raw", 6).alias("cosine"))
    )
    return rank_topk(scored, TOP_K)


def pq_codebooks(
    candidates: DataFrame,
    id_col: str = ID_COL,
    vec_col: str = VEC_COL,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = SAMPLE_SIZE,
    sample=None,
    cache_key=None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: m per-subspace k-means codebooks.

    The vector is split into m contiguous subvectors (dim/m dims each); each
    subspace gets its own `ksub`-centroid L2 k-means codebook, fit driver-side
    on the SAME deterministic bounded sample as kmeans_centroids (smallest
    xxhash64(id) rows — stable under repartitioning; a model artifact, not a
    data collect: 4096 x 64 doubles = 2 MB). PQ is the compression layer of
    the standard 100 TB ANN layout (IVF for pruning + PQ for in-memory codes):
    m=8, ksub=16 stores a 64-dim float vector in 8 nibbles — 64x smaller —
    and query-time scoring needs only an m x ksub lookup table per query.

    Deterministic: init = first ksub rows of the hash-ordered sample per
    subspace, argmin ties -> lowest index, empty cluster keeps its previous
    centroid. Returns [m][ksub][dsub] floats. `sample`: pre-fetched
    hash_sample() array, to share one collect across several fits.
    """
    return _sample_fit(
        "pq", lambda X: _pq_fit(X, m, ksub), (m, ksub),
        candidates, id_col, vec_col, sample_size, sample, cache_key,
    )


def _pq_fit(X, m: int, ksub: int) -> list[list[list[float]]]:
    """The per-subspace L2 Lloyd fit shared by pq_codebooks (raw vectors)
    and pq_residual_codebooks (coarse-quantizer residuals). Deterministic:
    init = first ksub rows of the (hash-ordered) input per subspace, argmin
    ties -> lowest index, empty cluster keeps its previous centroid."""
    import numpy as np

    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        k = min(ksub, len(Xs))
        C = Xs[:k].copy()
        for _ in range(LLOYD_ITERS):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties -> lowest index
            new_c = np.empty_like(C)
            for j in range(k):
                members = Xs[assign == j]
                new_c[j] = members.mean(axis=0) if len(members) else C[j]
            converged = np.allclose(new_c, C, atol=1e-12)
            C = new_c
            if converged:
                break
        books.append([[float(x) for x in c] for c in C])
    return books


def _coarse_assign(X, coarse):
    """Nearest-coarse-centroid assignment of sample rows by cosine — the
    same rule the in-plan candidate assignment uses (argmax cosine, ties ->
    lowest cent_id). Zero-norm rows fall to centroid 0."""
    import numpy as np

    C = np.array(coarse, dtype="float64")
    xn = np.linalg.norm(X, axis=1, keepdims=True)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    xn[xn == 0] = 1.0
    cn[cn == 0] = 1.0
    sim = (X / xn) @ (C / cn).T
    return np.argmax(sim, axis=1)


def coarse_anchors(X, coarse):
    """Per-list reconstruction anchors for IVFADC: the NON-normalized mean
    of the sample rows assigned (by cosine) to each coarse list. Spherical
    k-means centroids are unit vectors — subtracting one from unnormalized
    data leaves residuals nearly as large as the data itself, which is why
    IVFADC subtracts the list MEAN (the L2 reconstruction anchor) while the
    unit centroid keeps doing the cosine pruning. Empty lists fall back to
    the unit centroid. Deterministic given (sample, coarse)."""
    import numpy as np

    C = np.array(coarse, dtype="float64")
    assign = _coarse_assign(X, coarse)
    A = C.copy()
    for t in range(C.shape[0]):
        members = X[assign == t]
        if len(members):
            A[t] = members.mean(axis=0)
    return A


def pq_residual_codebooks(
    candidates: DataFrame,
    coarse: list[list[float]],
    id_col: str = ID_COL,
    vec_col: str = VEC_COL,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = SAMPLE_SIZE,
    sample=None,
    cache_key=None,
) -> list[list[list[float]]]:
    """PQ codebooks fit on RESIDUALS vs the coarse lists' reconstruction
    anchors — the IVFADC layout (Jegou, Douze & Schmid 2011; the Faiss
    IVF-PQ default): each sample row is assigned (by cosine) to its coarse
    list and the codebooks quantize x - anchor(list) instead of x, where
    the anchor is the list's non-normalized mean (coarse_anchors; the unit
    spherical centroid would leave residuals nearly as large as the data).
    Residuals concentrate around 0 with a fraction of the raw vectors'
    variance, so the same (m, ksub) budget spends its centroids on the
    fine structure the coarse quantizer left — what keeps ksub=16
    codebooks accurate at 100 TB. Same determinism contract and memo
    discipline as pq_codebooks."""

    def fit(X):
        A = coarse_anchors(X, coarse)
        return _pq_fit(X - A[_coarse_assign(X, coarse)], m, ksub)

    # the coarse centroids' CONTENT is part of the fit identity — two
    # same-length coarse sets under one cache_key must not share residual
    # codebooks (the same hole as a discarded explicit sample)
    params = (_sample_fingerprint(coarse), m, ksub)
    return _sample_fit(
        "pq_res", fit, params,
        candidates, id_col, vec_col, sample_size, sample, cache_key,
    )


def pq_encode_udf(books: list[list[list[float]]]):
    """Arrow-batched encoder: float vector -> array<int> of m subspace codes.

    The codebook tensor rides in the closure (a broadcast model artifact);
    each batch assigns every subvector to its nearest centroid with one
    vectorized distance computation per subspace. Argmin ties -> lowest
    index (numpy argmin), matching pq_codebooks' assignment rule.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    B = np.array(books, dtype="float64")  # (m, ksub, dsub)
    m, _, dsub = B.shape

    @pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        codes = np.empty((len(X), m), dtype="int32")
        for s in range(m):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return _encode


def pq_encode_residual_udf(books: list[list[list[float]]], anchors):
    """Arrow-batched IVFADC encoder: (float vector, coarse cent_id) -> m
    residual subspace codes. The candidate's residual vs ITS OWN list's
    reconstruction anchor (coarse_anchors) is quantized — both model
    artifacts ride in the closure. Same argmin tie rule as pq_encode_udf."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    B = np.array(books, dtype="float64")  # (m, ksub, dsub)
    C = np.array(anchors, dtype="float64")  # (ncent, dim)
    m, _, dsub = B.shape

    @pandas_udf("array<int>")
    def _encode(vecs: pd.Series, cents: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        R = X - C[cents.to_numpy(dtype="int64")]
        codes = np.empty((len(R), m), dtype="int32")
        for s in range(m):
            Rs = R[:, s * dsub : (s + 1) * dsub]
            d2 = ((Rs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return _encode


def _adc_query_payload(
    queries: DataFrame,
    books: list[list[list[float]]],
    id_col: str = ID_COL,
    vec_col: str = VEC_COL,
):
    """(q_ids, qnorms, flat LUTs, code offsets, flat centroid norms^2) for
    ADC scoring — the per-query serving payload shared by pq_adc_topk and
    ivfpq_topk. Every array is sized from the FITTED codebook tensor
    (books may hold fewer than the requested ksub centroids when the
    sample is small — pq_codebooks clamps k = min(ksub, sample rows), and
    sizing from the ksub parameter instead would misalign the flat
    offsets and crash the LUT build). Zero-norm queries are dropped."""
    import numpy as np

    B = np.array(books, dtype="float64")  # (m, k_eff, dsub)
    m, k_eff, dsub = B.shape
    cent_n2 = (B * B).sum(axis=2).reshape(-1)  # (m*k_eff,)
    qrows = queries.select(
        F.col(id_col).alias("q_id"), as_double_vec(F.col(vec_col)).alias("v")
    ).collect()
    Qv = np.array([r["v"] for r in qrows], dtype="float64")
    qn = np.sqrt((Qv * Qv).sum(axis=1))
    keep = qn > 0
    q_ids = [int(r["q_id"]) for i, r in enumerate(qrows) if keep[i]]
    Qv, qn = Qv[keep], qn[keep]
    lut = np.empty((len(q_ids), m, k_eff), dtype="float64")
    for s in range(m):
        lut[:, s, :] = Qv[:, s * dsub : (s + 1) * dsub] @ B[s].T
    return q_ids, Qv, qn, lut.reshape(len(q_ids), -1), np.arange(m, dtype="int64") * k_eff, cent_n2


def pq_adc_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = SAMPLE_SIZE,
    cache_key=None,
    sample=None,
) -> DataFrame:
    """Approximate cosine top-k by PQ asymmetric distance computation (ADC).

    Build: fit codebooks (bounded-sample artifact), encode every candidate
    to m nibble codes — at rest the index is the codes column, 64x smaller
    than the float vectors. Search: each query precomputes an m x ksub
    table of subvector dot products against the codebooks; a candidate's
    approximate dot is the sum of m table lookups — no float vector is
    ever read at query time. The reconstruction norm ||x_hat|| comes from
    the same tables (subspaces are orthogonal: ||x_hat||^2 = sum of chosen
    centroid norms^2), so approx cosine = ADC_dot / (||q|| * ||x_hat||).

    One Arrow batch scores against ALL queries via a (nq, m*ksub) LUT
    gather + fixed-order sum over m — the int8_topk_matmul shape. The
    query payload (codes + LUTs) is serving-side input like the IVF
    centroids; the corpus is never collected. Output contract matches
    brute_force_topk; recall is bounded by the invariant companion.
    """
    from pyspark.sql.functions import pandas_udf

    books = pq_codebooks(
        candidates, m=m, ksub=ksub, sample_size=sample_size, cache_key=cache_key,
        sample=sample,
    )
    q_ids, _, qn, lut2, offsets, cent_n2 = _adc_query_payload(queries, books)

    @pandas_udf("array<double>")
    def _adc(codes: pd.Series) -> pd.Series:
        import numpy as np

        C = np.stack([np.asarray(c, dtype="int64") for c in codes]) + offsets
        dots = lut2[:, C].sum(axis=2)  # (nq, batch): fixed-order sum over m
        rn = np.sqrt(cent_n2[C].sum(axis=1))  # (batch,) reconstruction norms
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / (qn[:, None] * rn[None, :])
        return pd.Series(list(cos.T))

    encode = pq_encode_udf(books)
    scored = (
        candidates.select(F.col(ID_COL).alias("c_id"), as_double_vec(F.col(VEC_COL)).alias("v"))
        .select("c_id", encode(F.col("v")).alias("codes"))
        .select("c_id", F.posexplode(_adc(F.col("codes"))).alias("qpos", "cos_raw"))
        .select(
            # lit() of a small Python int types as INT; the id contract is
            # LONG (pandas int32-vs-int64 drift flagged by the r5 audit)
            F.element_at(
                F.array(*[F.lit(i).cast("long") for i in q_ids]), F.col("qpos") + 1
            ).alias("q_id"),
            "c_id",
            "cos_raw",
        )
        .filter((F.col("c_id") != F.col("q_id")) & ~F.isnan("cos_raw"))
        .select("q_id", "c_id", F.round("cos_raw", 6).alias("cosine"))
    )
    return rank_topk(scored, k)


def ivfpq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = ID_COL,
    vec_col: str = VEC_COL,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = SAMPLE_SIZE,
    cache_key=None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: coarse-quantizer pruning + PQ-ADC scoring — the standard
    100 TB ANN layout (FAISS IVFPQ / SCANN shape) assembled from the two
    operators above.

    IVF bounds WORK: each query scores only its n_probe coarse lists
    (~n_probe/n_centroids of the corpus). PQ bounds MEMORY/IO: the scored
    lists are read as 8-nibble codes (64x smaller), never float vectors.
    At scale the index layout is cent_id-partitioned parquet of
    (id, pq_codes): a query prunes to n_probe partitions and streams
    codes through the per-query LUT. Both model artifacts (coarse
    centroids, PQ codebooks) come from the same bounded deterministic
    sample fit. Output contract matches brute_force_topk; ranking quality
    is certified by the same distortion/recall machinery as the parts.

    residual=True selects true IVFADC (Jegou et al. 2011): codebooks fit
    on and codes quantize x - a(x), the residual vs the assigned list's
    reconstruction ANCHOR (the list's non-normalized sample mean,
    coarse_anchors — the unit spherical centroid keeps doing the cosine
    pruning but would leave residuals nearly as large as the data), and
    reconstruction is x_hat = a + r_hat. ADC then needs the per-list
    correction terms: dot(q, x_hat) = dot(q, a) + LUT-sum, and
    ||x_hat||^2 = ||a||^2 + 2*sum_s(a_s . b_code) + sum_s||b_code||^2 —
    all (n_centroids x m x ksub)-sized query-side artifacts. Residuals
    carry a fraction of the raw variance, so the same (m, ksub) budget is
    spent on fine structure — what keeps ksub=16 accurate at scale
    (certified by ann_ivfpq_residual_recall_check's residual-beats-plain
    invariant).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # ---- model artifacts: ONE bounded sample collect feeds both fits ----
    X = hash_sample(
        candidates, id_col=id_col, vec_col=vec_col, sample_size=sample_size,
        cache_key=cache_key,
    )
    coarse = kmeans_centroids(
        candidates, id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, sample_size=sample_size, sample=X,
        cache_key=cache_key,
    )
    if residual:
        books = pq_residual_codebooks(
            candidates, coarse, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub,
            sample_size=sample_size, sample=X, cache_key=cache_key,
        )
    else:
        books = pq_codebooks(
            candidates, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub,
            sample_size=sample_size, sample=X, cache_key=cache_key,
        )

    cents = candidates.sparkSession.createDataFrame(
        [(i, v) for i, v in enumerate(coarse)],
        "cent_id long, cent_vec array<double>",
    )
    # ---- index build: coarse assignment + PQ codes (one corpus pass) ----
    base = candidates.select(
        F.col(id_col).alias("c_id"), as_double_vec(F.col(vec_col)).alias("c_vec")
    )
    wc = Window.partitionBy("c_id").orderBy(F.col("cent_cos").desc(), F.col("cent_id").asc())
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .select("c_id", "c_vec", "cent_id", cosine(F.col("c_vec"), F.col("cent_vec")).alias("cent_cos"))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
    )
    if residual:
        anchors = coarse_anchors(X, coarse)
        encode_res = pq_encode_residual_udf(books, anchors)
        indexed = assigned.select(
            "c_id", "cent_id", encode_res(F.col("c_vec"), F.col("cent_id")).alias("codes")
        )
    else:
        encode = pq_encode_udf(books)
        indexed = assigned.select(
            "c_id", "cent_id", encode(F.col("c_vec")).alias("codes")
        )
    # ---- query payload: shared ADC arrays + probed coarse lists ----
    q_ids, Qv, qn, lut2, offsets, cent_n2 = _adc_query_payload(
        queries, books, id_col=id_col, vec_col=vec_col
    )
    nq = len(q_ids)
    Cn = np.array(coarse, dtype="float64")
    cn_norm = np.sqrt((Cn * Cn).sum(axis=1))
    cn_norm[cn_norm == 0] = 1.0
    sim = (Qv @ Cn.T) / (qn[:, None] * cn_norm[None, :])
    # n_probe nearest coarse cells per query (ties -> lowest cent_id, like ivf_topk)
    order = np.lexsort((np.arange(sim.shape[1])[None, :].repeat(nq, 0), -sim), axis=1)
    probes = [
        (int(q_ids[i]), int(order[i, j])) for i in range(nq) for j in range(n_probe)
    ]
    probe_df = candidates.sparkSession.createDataFrame(probes, "q_id long, cent_id long")
    qpos_of = {qid: i for i, qid in enumerate(q_ids)}

    if residual:
        # IVFADC correction artifacts vs the list ANCHORS (x_hat = a + r_hat):
        # per-(list, subspace, code) cross dots a_s . b_code, laid out flat
        # to match the LUT/code offsets
        k_eff = cent_n2.shape[0] // m
        A = np.asarray(anchors, dtype="float64")  # (ncent, dim)
        qc_dot = Qv @ A.T  # (nq, ncent) raw dots
        cent_norm2 = (A * A).sum(axis=1)  # (ncent,)
        B = np.array(books, dtype="float64")  # (m, k_eff, dsub)
        dsub = B.shape[2]
        cross = np.empty((A.shape[0], m * k_eff), dtype="float64")
        for s in range(m):
            cross[:, s * k_eff : (s + 1) * k_eff] = (
                A[:, s * dsub : (s + 1) * dsub] @ B[s].T
            )

        @pandas_udf("double")
        def _adc_one(codes: pd.Series, qpos: pd.Series, cent: pd.Series) -> pd.Series:
            C = np.stack([np.asarray(c, dtype="int64") for c in codes]) + offsets
            qi = qpos.to_numpy(dtype="int64")
            t = cent.to_numpy(dtype="int64")
            dots = qc_dot[qi, t] + np.take_along_axis(lut2[qi], C, axis=1).sum(axis=1)
            rn2 = (
                cent_norm2[t]
                + 2.0 * np.take_along_axis(cross[t], C, axis=1).sum(axis=1)
                + cent_n2[C].sum(axis=1)
            )
            rn = np.sqrt(np.maximum(rn2, 0.0))
            # NaN (not a 0-divide ±inf) for degenerate reconstructions: the
            # plan filters NaN, and an inf would sort above every real hit
            # (r7 review)
            denom = qn[qi] * rn
            return pd.Series(np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), np.nan))

        adc_cols = [F.col("codes"), F.col("qpos"), F.col("cent_id")]
    else:

        @pandas_udf("double")
        def _adc_one(codes: pd.Series, qpos: pd.Series) -> pd.Series:
            C = np.stack([np.asarray(c, dtype="int64") for c in codes]) + offsets
            qi = qpos.to_numpy(dtype="int64")
            dots = np.take_along_axis(lut2[qi], C, axis=1).sum(axis=1)
            rn = np.sqrt(cent_n2[C].sum(axis=1))
            denom = qn[qi] * rn
            return pd.Series(np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), np.nan))

        adc_cols = [F.col("codes"), F.col("qpos")]

    qpos_map = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(q) for q in q_ids]),
            F.array(*[F.lit(qpos_of[q]) for q in q_ids]),
        ),
        F.col("q_id"),
    )
    scored = (
        indexed.join(F.broadcast(probe_df), "cent_id")
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn("qpos", qpos_map)
        .select("q_id", "c_id", _adc_one(*adc_cols).alias("cos_raw"))
        .filter(~F.isnan("cos_raw"))
        .select("q_id", "c_id", F.round("cos_raw", 6).alias("cosine"))
    )
    return rank_topk(scored, k)


def pca_fit(
    candidates: DataFrame,
    n_components: int = 16,
    sample_size: int = SAMPLE_SIZE,
    sample=None,
    cache_key=None,
) -> tuple[list[float], list[list[float]]]:
    """(mean, components) PCA artifact fit on the deterministic bounded
    sample — the dimensionality-reduction / rotation step that precedes
    PQ in the standard 100 TB ANN index build (PCA-k then OPQ/PQ is the
    Faiss preprocessing idiom). Driver-side eigh on the sample covariance
    (dim x dim doubles — a model artifact, not a data collect); components
    are the top n_components eigenvectors, DESCENDING eigenvalue, each
    sign-canonicalized (largest-|entry| coordinate made positive) so the
    fit is fully deterministic. Same memo discipline as kmeans_centroids."""
    import numpy as np

    def fit(X):
        mu = X.mean(axis=0)
        Xc = X - mu
        cov = (Xc.T @ Xc) / max(len(Xc) - 1, 1)
        evals, evecs = np.linalg.eigh(cov)  # ascending; columns: eigenvectors
        order = np.argsort(evals)[::-1][:n_components]
        P = evecs[:, order].T  # (k, dim)
        for i in range(P.shape[0]):  # canonical sign: largest-|entry| positive
            j = int(np.argmax(np.abs(P[i])))
            if P[i, j] < 0:
                P[i] = -P[i]
        return ([float(x) for x in mu], [[float(x) for x in r] for r in P])

    return _sample_fit(
        "pca", fit, (n_components,),
        candidates, ID_COL, VEC_COL, sample_size, sample, cache_key,
    )


def opq_rotation(
    candidates: DataFrame,
    m: int = 8,
    sample_size: int = SAMPLE_SIZE,
    sample=None,
    cache_key=None,
) -> list[list[float]]:
    """Full-rank OPQ rotation (Ge et al. 2013's parametric solution; Faiss
    OPQMatrix): PCA-decorrelate, then allocate principal directions to the
    m subspaces so each subspace's eigenvalue PRODUCT is balanced (greedy:
    next-largest eigenvalue goes to the subspace with the smallest current
    log-variance product and a free slot). Pure PCA CONCENTRATES variance
    into the first subspace — measurably worse than no rotation on rank-
    deficient data — while the balanced allocation is what makes rotated
    PQ dominate plain PQ on anisotropic data (ann_opq_distortion_check
    pins plain 0.121 vs OPQ 0.009 mean rel err on the planted fixture).
    Returns the (dim x dim) rotation R, rows orthonormal, applied as
    z = R @ x (NO centering: a pure rotation preserves dots and norms, so
    cosine top-k in the rotated space is cosine top-k in the original).
    Deterministic (sign-canonicalized eigh on the hash-ordered sample) and
    memoized like every quantizer fit."""
    return _sample_fit(
        "opq_rot", lambda X: _opq_fit(X, m), (m,),
        candidates, ID_COL, VEC_COL, sample_size, sample, cache_key,
    )


def _opq_fit(X, m: int) -> list[list[float]]:
    """The balanced-allocation OPQ rotation of opq_rotation, fit on X."""
    import math

    import numpy as np

    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    mu = X.mean(axis=0)
    Xc = X - mu
    cov = (Xc.T @ Xc) / max(len(Xc) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, P = evals[order], evecs[:, order].T  # rows are components
    for i in range(P.shape[0]):  # canonical sign: largest-|entry| positive
        j = int(np.argmax(np.abs(P[i])))
        if P[i, j] < 0:
            P[i] = -P[i]
    dsub = dim // m
    slots: list[list[int]] = [[] for _ in range(m)]
    logprod = [0.0] * m
    for comp in range(dim):
        s = min(
            (s for s in range(m) if len(slots[s]) < dsub),
            key=lambda s: (logprod[s], s),
        )
        slots[s].append(comp)
        logprod[s] += math.log(max(float(evals[comp]), 1e-12))
    perm = [c for s in range(m) for c in slots[s]]
    return [[float(x) for x in P[c]] for c in perm]


def opq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = SAMPLE_SIZE,
    cache_key=None,
) -> DataFrame:
    """OPQ ANN: rotate by the eigenvalue-balanced PCA basis (opq_rotation),
    then run the standard PQ-ADC pipeline in the rotated space. The
    rotation is a broadcast model artifact applied as one Arrow-batched
    fold in the scan projection (rotation_fold_udf — a pure rotation, so
    the returned cosines are cosines of the ORIGINAL vectors); codebooks
    are fit on the ROTATED sample (one shared collect — the corpus is
    never collected). Same output contract as pq_adc_topk. This is Faiss's
    standard 100 TB preprocessing: OPQMatrix -> PQ."""
    X = hash_sample(candidates, sample_size=sample_size, cache_key=cache_key)
    import numpy as np

    R = opq_rotation(
        candidates, m=m, sample_size=sample_size, sample=X, cache_key=cache_key
    )
    # fold rotation (r10): sequential over-dims product instead of a BLAS
    # matmul, so every rotated float is oracle-derivable bit-for-bit (the
    # _lsh_buckets_udf discipline); the codebook-fit sample below MUST use
    # the same fold or the fitted books drift in the last ulp
    rot = rotation_fold_udf(R)
    rc = candidates.select(
        F.col(ID_COL), rot(as_double_vec(F.col(VEC_COL))).alias(VEC_COL)
    )
    rq = queries.select(
        F.col(ID_COL), rot(as_double_vec(F.col(VEC_COL))).alias(VEC_COL)
    )
    return pq_adc_topk(
        rc, rq, m=m, ksub=ksub, sample_size=sample_size, cache_key=cache_key,
        sample=fold_project(X, np.array(R, dtype="float64").T),
    )


def pca_project_int_udf(mean_q: list[int], components_q: list[list[int]]):
    """Integer-exact Arrow-batched PCA projection: xq -> Pq @ (xq - muq)
    over quantized int64 vectors: one (batch x dim) @ (dim x k) matmul per
    Arrow batch, artifacts in closure. numpy's int64 GEMM is its own exact
    loop (no BLAS float path), so the result is bit-identical under ANY
    summation order — the property a DuckDB list_sum oracle hash needs.
    Bounds: |xq|,|Pq| <= 1e6 => a 64-dim dot is <= 64 * 4e12 ~ 2.6e14, far
    inside int64."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    mu = np.array(mean_q, dtype="int64")
    P = np.array(components_q, dtype="int64").T  # (dim, k)

    @pandas_udf("array<long>")
    def _project(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype="int64") for v in vecs])
        return pd.Series(list((X - mu) @ P))

    return _project


def dequantize_mse(vec_col: Column, scale: Column, codes: Column) -> Column:
    """Mean squared reconstruction error of the quantization (double)."""
    sq = F.zip_with(
        vec_col, codes, lambda x, q: (x.cast("double") - q * scale) * (x.cast("double") - q * scale)
    )
    n = F.size(vec_col)
    return F.when(
        n > 0,
        F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v) / n,
    ).otherwise(F.lit(0.0))


def binary_code_cols(vec_col: Column) -> tuple[Column, Column]:
    """1-bit (sign) binary quantization of a float vector into two packed
    longs (lo = dims 0..31, hi = dims 32..63): bit i = (x_i > 0).

    The most aggressive memory layout in the ANN ladder (float32 -> int8 ->
    PQ -> 1 bit): 16 bytes/vector means a 100 TB float index becomes a
    ~3 TB bit index that whole-stage-codegen scans with xor+popcount —
    no float math on the hot path at all. Hamming distance on sign bits
    approximates angular distance (Charikar 2002: P[bit match] =
    1 - theta/pi, the same guarantee hyperplane LSH relies on, with the
    data's own axes as planes).

    Two 32-bit halves rather than one 64-bit word: bit 63 would need
    2^63, which overflows SIGNED long. All-native aggregate() fold in the
    scan projection — no UDF, no shuffle."""
    v = as_double_vec(vec_col)
    halves = []
    for lo in (0, CODE_BITS // 2):
        halves.append(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(CODE_BITS // 2 - 1)),
                F.lit(0).cast("long"),
                lambda acc, i: acc
                + F.when(
                    F.element_at(v, (i + F.lit(lo + 1)).cast("int")) > 0,
                    # F.shiftleft only takes a literal bit count — the SQL
                    # function itself accepts a column, so call it directly
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"), i.cast("int")
                    ),
                ).otherwise(F.lit(0).cast("long")),
            )
        )
    return halves[0], halves[1]


def hamming64(lo_a: Column, hi_a: Column, lo_b: Column, hi_b: Column) -> Column:
    """Hamming distance between two 64-bit binary codes stored as (lo, hi)
    long pairs: popcount of the xor, pure integer — bit-identical on any
    engine."""
    return (
        F.bit_count(lo_a.bitwiseXOR(lo_b)) + F.bit_count(hi_a.bitwiseXOR(hi_b))
    ).cast("long")


def binary_code_sql(vec_expr: str) -> tuple[str, str]:
    """DuckDB expressions computing the SAME (lo, hi) packed sign-bit codes
    as binary_code_cols: both engines evaluate the identical widened-double
    `> 0` test per dimension, and bit packing is integer — codes match
    bit-for-bit, which keeps the Hamming top-k oracle hash-exact."""
    out = []
    for lo in (0, CODE_BITS // 2):
        out.append(
            "CAST(list_sum(list_transform(range(1, {n}), i -> "
            "CASE WHEN ({v})[i + {lo}] > 0 THEN (1::BIGINT << (i - 1)) "
            "ELSE 0::BIGINT END)) AS BIGINT)".format(
                n=CODE_BITS // 2 + 1, v=vec_expr, lo=lo
            )
        )
    return out[0], out[1]


# ---------------------------------------------------------------------------
# Offline (Spark-free) twin of hash_sample — lets an ORACLE GENERATOR refit
# the exact model artifact (k-means centroids, PQ codebooks) the engine
# fits, so artifact-literal oracles can hash-certify quantizer queries.
# ---------------------------------------------------------------------------

_XXH_M = (1 << 64) - 1
_XXH_P1 = 11400714785074694791
_XXH_P2 = 14029467366897019727
_XXH_P3 = 1609587929392839161
_XXH_P4 = 9650029242287828579
_XXH_P5 = 2870177450012600261


def xxh64_long(v: int) -> int:
    """XXH64 of one 8-byte little-endian long with Spark XxHash64's exact
    semantics (seed 42, result as SIGNED long) — validated bit-for-bit
    against F.xxhash64 in tests/test_r10_certificates.py. Pure Python so
    oracle generators can reproduce hash_sample's ordering without a
    SparkSession."""
    v &= _XXH_M
    h = (42 + _XXH_P5 + 8) & _XXH_M  # Spark's xxhash64 seed
    k = (v * _XXH_P2) & _XXH_M
    k = ((k << 31) | (k >> 33)) & _XXH_M
    k = (k * _XXH_P1) & _XXH_M
    h ^= k
    h = ((((h << 27) | (h >> 37)) & _XXH_M) * _XXH_P1 + _XXH_P4) & _XXH_M
    h ^= h >> 33
    h = (h * _XXH_P2) & _XXH_M
    h ^= h >> 29
    h = (h * _XXH_P3) & _XXH_M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def hash_sample_offline(sf_dir: str):
    """numpy twin of hash_sample(table(embeddings), ...): same rows, same
    order (ascending signed xxhash64(vec_id), then vec_id), same float64
    widening — read via DuckDB, no Spark. Memoized in the session artifact
    cache so one process fits each artifact once."""
    import os

    import duckdb
    import numpy as np

    def collect():
        path = f"{sf_dir}/embeddings.parquet"
        if os.path.isdir(path):
            path = f"{path}/**/*.parquet"
        rows = duckdb.sql(
            f"SELECT vec_id, embedding::DOUBLE[] FROM '{path}'"
        ).fetchall()
        rows.sort(key=lambda r: (xxh64_long(int(r[0])), int(r[0])))
        return np.array([r[1] for r in rows[:SAMPLE_SIZE]], dtype="float64")

    return artifacts.cached("sample_offline", sf_dir, (), collect)


def fold_project(X, P):
    """(n, dim) x (dim, k) product as a LEFT-TO-RIGHT fold over dim — one
    IEEE mul+add per element per step, matching DuckDB's list_dot_product
    exactly (BLAS dgemm may sum blocked/pairwise, which wobbles the last
    ulp and breaks value-hash oracles). Shared by rotation_fold_udf and
    the offline oracle artifacts so engine and oracle derive identical
    rotated floats."""
    import numpy as np

    acc = np.zeros((X.shape[0], P.shape[1]), dtype="float64")
    for d in range(X.shape[1]):
        acc += X[:, d : d + 1] * P[d : d + 1, :]
    return acc


def rotation_fold_udf(R: list[list[float]]):
    """Arrow-batched pure rotation z = R @ x computed via fold_project —
    oracle-derivable (each output dim equals a sequential
    list_dot_product against R's row literals)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    P = np.array(R, dtype="float64").T  # (dim, dim)

    @pandas_udf("array<double>")
    def _rotate(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        return pd.Series(list(fold_project(X, P)))

    return _rotate
