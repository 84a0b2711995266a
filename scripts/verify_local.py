#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle at the given sf dir,
then compares row count, column names, and an order-insensitive value hash.
Usage: python scripts/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kol_bigdata_realtime_analytics_spark.session import TABLES, get_spark  # noqa: E402


def normalize(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def rows_only_canonical_check(cols: list[str], rows: list[tuple]) -> str | None:
    """Replicate the driver's pandas canonicalization on the NO-ORACLE tier.

    The driver sort_values-canonicalizes every result frame — including
    rows-only queries — before recording even the row count, so an
    array/map/struct output cell raises `TypeError: unhashable type` and the
    query goes driver-RED while a fetchall-only harness stays green (r7's
    embedding_pca_project). Returns the error string, or None if clean.
    """
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=cols)
    try:
        if len(pdf.columns):
            pdf.sort_values(by=sorted(pdf.columns))
    except Exception as e:  # noqa: BLE001 — any canonicalization error is the finding
        return f"{type(e).__name__}: {e}"
    return None


def _duck_family(ty: str) -> str:
    t = str(ty).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if "TIMESTAMP" in t:
        return "ts"
    return {"BOOLEAN": "bool", "DATE": "date", "VARCHAR": "str"}.get(t, t)


def _spark_family(dt: str) -> str:
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt.startswith("timestamp"):
        return "ts"
    return {"boolean": "bool", "date": "date", "string": "str"}.get(dt, dt)


def dtype_family_problems(sdt: dict, rel) -> list[str]:
    """Pandas-materialization drift the fetchall hash below cannot see.

    The driver compares pandas frames (Spark toPandas vs DuckDB fetchdf),
    where a DuckDB HUGEINT (any un-CAST integer SUM) or a family mismatch
    turns into float64 against Spark's int64 — "236.0" vs "236" — flipping
    its hash while this script's Python-value hash stays green (the r1-r4
    sql_platform_stats outage). Mirror that sensitivity here via the
    oracle's logical types.
    """
    problems = []
    for col, ty in zip(rel.columns, rel.types):
        tname = str(ty).upper()
        if "HUGEINT" in tname:
            problems.append(f"{col}: oracle {tname} (CAST the SUM to BIGINT)")
        elif col in sdt and _duck_family(ty) != _spark_family(sdt[col]):
            problems.append(f"{col}: oracle {ty} vs spark {sdt[col]}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as se

    spark = get_spark(cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = se.queries()
    oracles = se.oracle_sql(sf_dir)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            canon_err = rows_only_canonical_check(scols, srows)
            if canon_err:
                print(f"FAIL  {name}: driver canonicalization would reject: {canon_err}")
                failures.append(name)
            else:
                print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        try:
            problems += dtype_family_problems(dict(sdf.dtypes), con.sql(oracles[name]))
        except Exception as e:  # noqa: BLE001 — a type-probe failure is data
            problems.append(f"dtype probe error: {e}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if not problems:
            sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
            if sh != oh:
                # find a sample mismatching line for debugging
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = sorted("|".join(normalize(r[i]) for i in so) for r in srows)
                oset = sorted("|".join(normalize(r[i]) for i in oo) for r in orows)
                diff = next(((a, b) for a, b in zip(sset, oset) if a != b), None)
                problems.append(f"hash {sh} != {oh}; first diff:\n  spark: {diff[0]}\n  duck : {diff[1]}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
