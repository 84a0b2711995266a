"""As-of join: for each left row, the latest right row at-or-before its time.

Spark has no native as-of join (pyspark guide: compose or applyInPandas).
Two implementations with the same contract:

- `as_of_join`       : equi-join on key + time filter + row_number. One
  shuffle per side on the key; correct everywhere, but the intermediate is
  O(per-key matches) — every left row pairs with EVERY earlier right row
  for its key before the dedup window keeps one. Use `left_unique` to slim
  the dedup window partition to the left row's unique id.
- `as_of_join_pandas`: cogrouped applyInPandas with pd.merge_asof per key
  group — Arrow-batched, linear after the per-key sort, the scale path
  (registered for `asof_last_event_before_order`; r3 flagged the composed
  form as the one bench outlier because its fan-out grows with data per
  key at constant key cardinality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    left_unique: list[str] | None = None,
) -> DataFrame:
    """Left as-of join (backward): latest right row with right_ts <= left_ts.

    left_unique: columns that uniquely identify a left row — the keep-latest
    window partitions on them alone (partitioning on every left column forces
    a wider sort key for zero extra correctness). Defaults to all left columns.
    """
    r = right.select(
        F.col(key).alias("_r_key"),
        F.col(right_ts).alias("_r_ts"),
        *[F.col(c) for c in right_cols],
    )
    cond = (left[key] == r["_r_key"]) & (r["_r_ts"] <= left[left_ts])
    joined = left.join(r, cond, "left")
    part = [left[c] for c in (left_unique or left.columns)]
    w = Window.partitionBy(*part).orderBy(F.col("_r_ts").desc())
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_r_key", "_r_ts")
    )


def as_of_join_union(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Left as-of join (backward) as ONE sorted window pass — the scale path.

    Union both sides tagged (right=0, left=1), sort per key by (ts, tag),
    carry the latest right values forward with last(..., ignorenulls=True)
    over ROWS UNBOUNDED PRECEDING, keep the left rows. Entirely JVM-side:
    a single hash shuffle on `key` + one per-partition sort, linear in
    |left| + |right| — no per-row fan-out (the composed join's failure mode)
    and no Arrow transfer of the big side to Python (the pandas path's cost).

    Ordering (ts, tag) puts a right row BEFORE a left row at equal ts, so
    right_ts == left_ts matches (<= semantics). The carried right_cols are
    packed into ONE struct per right row and carried atomically — the
    struct is non-null whenever the row IS a right row, even when payload
    FIELDS are null, so the output never stitches columns from different
    right rows (carrying each column independently with last(ignorenulls)
    did exactly that when a newer row held a genuine NULL payload).
    NULL-key right rows are dropped up front: a window partition groups
    NULLs together, but the equi-join and merge_asof forms never match
    NULL keys — NULL-key left rows keep NULL right cols in all three.
    right_cols must not collide with left column names — alias first.
    """
    overlap = set(right_cols) & set(left.columns)
    if overlap:
        raise ValueError(
            f"right_cols {sorted(overlap)} collide with left column names; "
            "alias them on the right DataFrame first"
        )
    l = left.withColumn("_ts", F.col(left_ts)).withColumn("_tag", F.lit(1))
    r = (
        right.filter(F.col(key).isNotNull())
        .select(
            F.col(key),
            F.col(right_ts).alias("_ts"),
            F.struct(*[F.col(c) for c in right_cols]).alias("_rrow"),
        )
        .withColumn("_tag", F.lit(0))
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts").asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.select(
        *[F.col(c) for c in left.columns],
        F.col("_tag"),
        F.last("_rrow", ignorenulls=True).over(w).alias("_asof"),
    )
    return carried.filter(F.col("_tag") == 1).select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"_asof.{c}").alias(c) for c in right_cols],
    )


def as_of_join_pandas(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """merge_asof per cogrouped key — no quadratic intermediate.

    Two hash shuffles (one per side, on `key`), then a linear-time
    backward merge per key group inside Arrow-batched pandas. right_cols
    may not collide with left column names — alias on the right side
    first (e.g. `F.col("ts").alias("event_ts")`). `right_ts` MAY share
    its name with a left column (both sides calling their time column
    `ts` is the natural case): it is renamed to a private name inside the
    merge, so pandas never suffixes or drops the left column.
    """
    import pandas as pd

    # right_ts itself may not be carried: rpdf[[right_ts, *right_cols]]
    # followed by the rename would produce a duplicate '_r_ts' column and
    # merge_asof would fail confusingly (r4 advice)
    overlap = set(right_cols) & ({right_ts, "_r_ts"} | set(left.columns))
    if overlap:
        raise ValueError(
            f"right_cols {sorted(overlap)} collide with left/{right_ts}/_r_ts "
            "names; alias them on the right DataFrame first"
        )
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields]
        + [f"{f.name} {f.dataType.simpleString()}" for f in right.schema.fields if f.name in right_cols]
    )

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.sort_values(left_ts)
        if rpdf.empty:
            for c in right_cols:
                lpdf[c] = None
            return lpdf
        rpdf = rpdf.sort_values(right_ts)[[right_ts, *right_cols]].rename(
            columns={right_ts: "_r_ts"}
        )
        merged = pd.merge_asof(
            lpdf, rpdf, left_on=left_ts, right_on="_r_ts", direction="backward"
        )
        return merged.drop(columns=["_r_ts"])

    # NULL-key right rows never match in the equi-join form; drop them so
    # the cogrouped NULL-key groups (which pandas WOULD pair up) agree
    return (
        left.groupBy(key)
        .cogroup(right.filter(F.col(key).isNotNull()).groupBy(key))
        .applyInPandas(lambda l, r: merge(l, r), schema=out_schema)
    )
