"""Count-min sketch: mergeable heavy-hitter counting in bounded space.

The sketch is a depth x width counter grid; each key increments one
counter per row (bucket = hash_d(key) % width), and a point estimate is
the MIN of the key's depth counters. Structural guarantees (not
probabilistic — they hold for every dataset and hash choice):
  * est(key) >= exact(key)    (counters only ever add counts)
  * each row's counters sum to N (every item lands in exactly one bucket
    per row)
The probabilistic part — est <= exact + e*N/width w.h.p. — is what makes
the fixed size useful; it's bounded empirically in pytest.

Spark shapes:
  * BUILD is one narrow aggregation: posexplode to (d, bucket) pairs —
    depth rows per item, map-side combined — then groupBy(d, bucket)
    count. The result is <= depth*width rows no matter the input size,
    and sketches of partitions/days MERGE by adding counters (the
    groupBy does that implicitly; unioned sketches re-group the same way).
  * ESTIMATE broadcast-joins the <= depth*width-row sketch to the query
    keys' (key, d, bucket) probes and takes min per key — the key side
    never shuffles.

This is the counting complement of the HLL (distinct) and KLL/GK
(percentile) sketches already in the registry's approx queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_WIDTH = 1024
DEFAULT_DEPTH = 4


def _buckets(col, width: int, depth: int):
    return [F.pmod(F.xxhash64(col, F.lit(d)), F.lit(width)) for d in range(depth)]


def count_min_build(
    df: DataFrame,
    key_col: str,
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
    weight_col: str | None = None,
) -> DataFrame:
    """(d, bucket, cnt) counter grid, <= depth*width rows.

    With `weight_col`, each row adds its weight instead of 1 — so a sketch
    can be built from an ALREADY-AGGREGATED (key, count) frame in one pass
    instead of re-scanning the raw rows (identical counters, since the
    grid is linear in its inputs)."""
    pos = df.select(
        F.posexplode(F.array(*_buckets(F.col(key_col), width, depth))).alias(
            "d", "bucket"
        ),
        (F.col(weight_col) if weight_col else F.lit(1)).cast("long").alias("w"),
    )
    return pos.groupBy("d", "bucket").agg(F.sum("w").alias("cnt"))


def count_min_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str,
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
) -> DataFrame:
    """(key_col, cm_estimate): the count-min point estimate per DISTINCT key.

    Output carries ONLY those two columns — non-key columns of `keys` are
    dropped and duplicate key rows collapse (the groupBy is part of the
    probe); join the result back on key_col to re-attach payload.
    Probes = keys x depth rows; the sketch broadcasts; a bucket missing
    from the sketch means zero items hashed there, so the estimate is 0
    (coalesce) — correct, since est >= exact >= 0 forces exact = 0."""
    probes = keys.select(
        key_col,
        F.posexplode(F.array(*_buckets(F.col(key_col), width, depth))).alias(
            "d", "bucket"
        ),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_estimate"))
    )


# ---------------------------------------------------------------------------
# Fast-AGMS (count-sketch) join-size estimation
# ---------------------------------------------------------------------------

#: The AGMS grid's buckets per row and rows.
AGMS_WIDTH = 256
AGMS_DEPTH = 5


def agms_build(df: DataFrame, key_col: str, weight_col: str | None = None) -> DataFrame:
    """(d, bucket, s) signed counter grid — the fast-AGMS / count-sketch.

    Each key gets a bucket h_d(k) AND a sign s_d(k) in {-1, +1} per depth
    row; counters accumulate sign * weight. The grid is linear in its
    inputs (buildable from an aggregated (key, count) frame via
    `weight_col`, like count_min_build) and MERGEABLE by bucket-wise
    addition — at 100 TB each partition/machine sketches locally and
    ships depth*width longs.

    Its defining algebra: for two relations' frequency vectors f, g the
    JOIN SIZE |A join B on k| = <f, g>, and E[sum_b A_d[b]*B_d[b]] = <f,g>
    with stdev <= sqrt(F2(f)*F2(g)/width) per row — the median over depth
    rows is the classic CBO-grade estimate (Alon-Matias-Szegedy '96;
    Cormode-Garofalakis sketch joins). Signs/buckets are seeded xxhash64:
    deterministic across runs and partitionings.
    """
    sign = [
        (F.pmod(F.xxhash64(F.col(key_col), F.lit(1_000_003 + d)), F.lit(2)) * 2 - 1)
        for d in range(AGMS_DEPTH)
    ]
    bucket = _buckets(F.col(key_col), AGMS_WIDTH, AGMS_DEPTH)
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    pos = df.select(
        F.posexplode(
            F.arrays_zip(F.array(*bucket), F.array(*sign).cast("array<long>"))
        ).alias("d", "bs"),
        w.alias("w"),
    ).select("d", F.col("bs.0").alias("bucket"), (F.col("bs.1") * F.col("w")).alias("sw"))
    return pos.groupBy("d", "bucket").agg(F.sum("sw").alias("s"))


def agms_join_size(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """1-row frame `est`: median over depth rows of the bucket-wise inner
    product of two AGMS grids built with the SAME (width, depth, seeds).

    All-integer arithmetic until the final median (exact for odd depth):
    deterministic at any partitioning/summation order. The join is
    (d, bucket) equi on two <= depth*width-row frames — sketch exchange,
    never data exchange. A depth row whose grids share NO buckets has
    inner product 0 — the depth spine (distinct d over both grids) keeps
    those zeros in the median instead of silently shrinking it, so
    disjoint or near-empty relations estimate 0 rather than a biased
    median over the surviving rows."""
    dots = (
        sketch_a.alias("a")
        .join(sketch_b.alias("b"), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("a.s") * F.col("b.s")).alias("dot"))
    )
    spine = sketch_a.select("d").union(sketch_b.select("d")).distinct()
    full = spine.join(dots, "d", "left").select(
        F.coalesce("dot", F.lit(0)).alias("dot")
    )
    return full.agg(F.coalesce(F.expr("percentile(dot, 0.5)"), F.lit(0.0)).alias("est"))


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters — the 2-pass distributed shape: bounded
# per-partition summaries give a candidate SUPERSET of every item with
# frequency > n/(k+1) (mergeable-summaries guarantee, Agarwal et al. 2012),
# then one exact re-count of the tiny candidate set makes the final answer
# EXACT — which is what lets a DuckDB oracle certify the whole pipeline,
# no-false-negative property included.
# ---------------------------------------------------------------------------


def misra_gries_candidates(df: DataFrame, key_col: str, k: int = 16) -> DataFrame:
    """Per-partition Misra-Gries summaries -> distinct candidate keys.

    Each partition keeps at most k weighted counters (Arrow batches merge
    by value_counts; over-capacity triggers subtract-the-min eviction
    rounds until <= k survive — the weighted MG merge, whose undercount is
    bounded by n_p/(k+1)). Pigeonhole across partitions: an item with
    global count > n/(k+1) exceeds n_p/(k+1) in at least one partition and
    therefore survives there — candidates are a guaranteed superset of the
    true heavy hitters. Memory is O(k) per partition at ANY scale; the
    shuffle moves only |partitions| * k candidate keys."""
    import pandas as pd

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for item, c in pdf[key_col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            while len(counters) > k:
                m = min(counters.values())
                counters = {i: c2 - m for i, c2 in counters.items() if c2 > m}
        yield pd.DataFrame({key_col: list(counters.keys())})

    # schema follows the key's actual type (string/int/... keys all valid —
    # a hardcoded 'long' broke non-long keys at Arrow conversion, r7 review)
    key_type = df.schema[key_col].dataType.simpleString()
    return df.select(key_col).mapInPandas(mg, f"{key_col} {key_type}").distinct()


def heavy_hitters_exact(df: DataFrame, key_col: str, k: int = 16) -> DataFrame:
    """Keys with count * (k+1) > total, found scalably: MG candidates
    (bounded state, one scan) -> semi-join -> exact count of candidates
    (second scan, group-by over <= partitions*k keys) -> threshold filter
    against the in-plan total. Exact output despite the sketch: the
    candidate set can only over-include, and the re-count is exact."""
    cand = misra_gries_candidates(df, key_col, k)
    exact = (
        df.select(key_col)
        .join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("n_events"))
    )
    total = df.select(key_col).agg(F.count("*").alias("_total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_events") * (k + 1) > F.col("_total"))
        .select(key_col, "n_events")
    )
