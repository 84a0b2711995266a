#!/usr/bin/env python
"""Emulate the driver's pandas-frame comparison over every oracled query.

The r1-r4 sql_platform_stats outage was a COMPARISON-CHANNEL bug invisible
to fetchall-based harnesses: the driver evidently compares pandas frames on
both sides (Spark toPandas vs DuckDB fetchdf), where dtype materialization
drift — HUGEINT -> float64, int32 vs int64, NULL-int -> float64+NaN —
changes the stringified values even when the underlying data is identical.
This script reproduces that sensitivity: strict per-cell repr, no integer
collapsing, columns sorted by name, rows sorted. Any MISMATCH line is a
query that could be driver-red while verify_local stays green.

Usage: python scripts/oracle_channel_audit.py [sf_dir] [query ...]
(default sf_dir /root/testdata/sf0.01; ~10 min for the full registry)
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd  # noqa: F401 — toPandas/fetchdf materialization under test

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kol_bigdata_realtime_analytics_spark.plans import REGISTRY  # noqa: E402
from kol_bigdata_realtime_analytics_spark.session import TABLES  # noqa: E402


def canon(df):
    df = df[sorted(df.columns)]

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)

    lines = sorted(
        "|".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    return lines, {c: str(df[c].dtype) for c in df.columns}


def main() -> int:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    mismatches = []
    for name, q in REGISTRY.items():
        oracle = q.oracle_for(sf_dir)
        if oracle is None or (only and name not in only):
            continue
        try:
            sl, sd = canon(q.fn(spark, sf_dir).toPandas())
            ol, od = canon(con.execute(oracle).fetchdf())
        except Exception as e:  # noqa: BLE001 — an erroring query is a finding
            print(f"ERR       {name}: {str(e).splitlines()[0][:140]}", flush=True)
            mismatches.append(name)
            continue
        dt_mism = {c: (sd.get(c), od.get(c)) for c in sd if sd.get(c) != od.get(c)}
        if dt_mism or sl != ol:
            first = next(((a, b) for a, b in zip(sl, ol) if a != b), None)
            print(f"MISMATCH  {name}: dtypes {dt_mism}", flush=True)
            if first:
                print(f"   spark: {first[0][:160]}\n   duck : {first[1][:160]}")
            mismatches.append(name)
        else:
            print(f"ok        {name}", flush=True)
    print(f"\n{len(mismatches)} mismatches" + (f": {mismatches}" if mismatches else ""))
    return 1 if mismatches else 0


if __name__ == "__main__":
    raise SystemExit(main())
