#!/usr/bin/env python
"""Capture .explain("formatted") for headline queries into .scratch/plans/.

Usage: python scripts/capture_plans.py <suffix> [query ...]
  suffix: "before" or "after" (file name becomes .scratch/plans/<q>_<suffix>.txt)
  with no query list, captures every bench.HEADLINE query.

The dumps are evidence for plan-shape claims (Exchange counts, join
strategies, PushedFilters, Python-eval nodes), so capture goes through the
same registry entry points the bench times. `.scratch/` is gitignored:
quote the lines a claim rests on rather than committing the dumps.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from kol_bigdata_realtime_analytics_spark.plans import REGISTRY  # noqa: E402
from kol_bigdata_realtime_analytics_spark.session import get_spark  # noqa: E402


def main() -> int:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "plans"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — record the failure, keep going
            plan = f"ERROR capturing plan: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {name}_{suffix}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
