"""As-of join: for each left row, the latest right row at-or-before its time.

Spark has no native as-of join (pyspark guide: compose or applyInPandas).
`as_of_join_union` runs it as one sorted window pass over the union of both
sides, linear in |left| + |right|: no equi-join fan-out over every earlier
right row, and no Arrow transfer of the big side to Python. The registered
query `asof_last_event_before_order` runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join_union(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Left as-of join (backward) as ONE sorted window pass.

    Union both sides tagged (right=0, left=1), sort per key by (ts, tag),
    carry the latest right values forward with last(..., ignorenulls=True)
    over ROWS UNBOUNDED PRECEDING, keep the left rows. Entirely JVM-side:
    a single hash shuffle on `key` + one per-partition sort, linear in
    |left| + |right|.

    Ordering (ts, tag) puts a right row BEFORE a left row at equal ts, so
    right_ts == left_ts matches (<= semantics). The carried right_cols are
    packed into ONE struct per right row and carried atomically — the
    struct is non-null whenever the row IS a right row, even when payload
    FIELDS are null, so the output never stitches columns from different
    right rows (carrying each column independently with last(ignorenulls)
    did exactly that when a newer row held a genuine NULL payload).
    NULL-key right rows are dropped up front: a window partition groups
    NULLs together, but an as-of join never matches a NULL key, so NULL-key
    left rows keep NULL right cols.
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

