"""MERGE INTO — apply a keyed changelog (upserts + deletes) to a base table.

The lakehouse maintenance primitive the reference performs implicitly by
re-overwriting Silver tables from scratch every run (`batch/etl/
bronze_to_silver.py:122-140` re-derives the full table to apply what is
really a small daily delta); Iceberg/Delta spell it ``MERGE INTO``. Here it
is one composable operator with the scale-correct physical shape.

Scale shape — the base table NEVER shuffles. The naive plan is a full-outer
join on the key (one shuffle of base + delta — and Spark cannot broadcast a
full outer, it falls back to SortMergeJoin; verified on 4.1); a CDC batch is
orders of magnitude smaller than the table it amends, so the merge
decomposes into

  1. one column-pruned scan of base's KEY column, semi-joined against the
     broadcast upsert keys -> the tiny "already present" key set (<= |delta|
     rows, pinned with localCheckpoint so it never re-executes),
  2. base LEFT JOIN broadcast(delta) — carry / update / delete per row
     (the one full-width base scan, streamed through codegen),
  3. delta upserts ANTI JOIN broadcast(present-keys) -> fresh inserts,
  4. UNION of 2 and 3.

So the full-width base data is read ONCE; the key-only pre-scan reads a
single column (parquet column pruning) and nothing base-sized is ever
cached, shuffled, or broadcast. When the delta is genuinely large
(backfill), pass ``broadcast_delta=False`` and the same logical plan runs
as hash-shuffle joins keyed on the merge key — bucket both tables by that
key at write time and even those exchanges disappear.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: A changelog's op column and its two ops.
OP_COL = "op"
UPSERT = "U"
DELETE = "D"


def merge_changelog(
    base: DataFrame,
    delta: DataFrame,
    key: str,
    broadcast_delta: bool = True,
) -> DataFrame:
    """Apply ``delta`` (key + op + full payload columns) onto ``base``.

    Semantics (ANSI/Delta MERGE with the three standard clauses):
      - key matched,     op=U -> row replaced by the delta payload
      - key matched,     op=D -> row deleted
      - key not matched, op=U -> row inserted
      - key not matched, op=D -> no-op
      - key only in base      -> row carried unchanged

    ``delta`` must carry the same payload columns as ``base`` (values for
    delete rows are ignored) and AT MOST ONE ROW PER KEY — like Delta/
    Iceberg MERGE INTO, which raise on multiple source matches, a
    duplicate-key delta is rejected: silently joining it would multiply
    matched base rows and make the outcome order-dependent. NOTE: this
    validation is an EAGER Spark action at call time (a
    groupBy+limit(5).collect over the DELTA side only — never the base).
    Squash a multi-op CDC stream to its latest op per key upstream.
    Output schema = base schema + ``merge_action`` (carry|update|insert)
    so callers can audit what the merge did.
    """
    dup = delta.groupBy(key).count().filter(F.col("count") > 1).limit(5).collect()
    if dup:
        raise ValueError(
            f"delta has multiple rows for key(s) {[r[key] for r in dup]}; "
            "MERGE requires at most one source row per key — squash the "
            "changelog to its latest op per key first"
        )
    payload = [c for c in base.columns if c != key]
    d = delta.select(
        F.col(key),
        F.col(OP_COL).alias("__op"),
        *[F.col(c).alias(f"__new_{c}") for c in payload],
    )
    d_b = F.broadcast(d) if broadcast_delta else d

    matched = base.join(d_b, key, "left")
    survivors = matched.filter(
        F.col("__op").isNull() | (F.col("__op") != F.lit(DELETE))
    ).select(
        F.col(key),
        *[
            F.when(F.col("__op") == UPSERT, F.col(f"__new_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in payload
        ],
        F.when(F.col("__op") == UPSERT, F.lit("update"))
        .otherwise(F.lit("carry"))
        .alias("merge_action"),
    )

    upserts = delta.filter(F.col(OP_COL) == UPSERT)
    if broadcast_delta:
        # Inserts = upserts whose key is NOT in base. Deriving the present
        # set from `matched` would re-execute the full-width base scan for
        # this branch (Spark does not share unpinned subplans across union
        # branches); instead run a KEY-ONLY semi-join — parquet prunes the
        # scan to the single key column — and pin the <=|delta|-row result
        # so base data is read full-width exactly once (the left join).
        present_keys = (
            base.select(key)
            .join(F.broadcast(upserts.select(key)), key, "left_semi")
            .localCheckpoint(eager=True)
        )
        inserts_src = upserts.join(F.broadcast(present_keys), key, "left_anti")
    else:
        inserts_src = upserts.join(base.select(key), key, "left_anti")
    inserts = inserts_src.select(
        F.col(key), *payload, F.lit("insert").alias("merge_action")
    )
    return survivors.unionByName(inserts)


def changelog_from_snapshots(
    old: DataFrame, new: DataFrame, key: str, fingerprint: Column
) -> DataFrame:
    """Derive the minimal changelog that turns snapshot ``old`` into ``new``:
    upserts for added/changed keys, deletes for vanished keys. The inverse of
    :func:`merge_changelog` — ``merge(old, changelog) == new``. One
    full-outer join on fingerprinted keys; at scale run it per partition of
    a shared partitioning (both snapshots bucketed by key)."""
    o = old.select(F.col(key), fingerprint.alias("__old_fp"))
    n = new.select(*new.columns, fingerprint.alias("__new_fp"))
    j = n.join(o, key, "full_outer")
    return (
        j.filter(F.col("__new_fp").isNull() | (~F.col("__new_fp").eqNullSafe(F.col("__old_fp"))))
        .withColumn(
            OP_COL, F.when(F.col("__new_fp").isNull(), F.lit(DELETE)).otherwise(F.lit(UPSERT))
        )
        .drop("__old_fp", "__new_fp")
    )
