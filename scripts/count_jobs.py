#!/usr/bin/env python
"""Count Spark jobs (and wall time) per named query — evidence channel for
iterative-query optimizations whose per-round work lives in checkpoint jobs
that the final explain() cannot show (the plan dump only sees lineage above
the last pinned frame). Usage:
    python scripts/count_jobs.py q1 q2 ...   [env: SPARK_GRAFT_SF_DIR, N_RUNS]
Prints: query, jobs per run, wall seconds per run.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _FORCED_COLD  # noqa: E402
from kol_bigdata_realtime_analytics_spark import artifacts  # noqa: E402
from kol_bigdata_realtime_analytics_spark.plans import REGISTRY  # noqa: E402
from kol_bigdata_realtime_analytics_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("N_RUNS", "2"))
    spark = get_spark(app_name="count_jobs")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    tracker = spark.sparkContext.statusTracker()

    def n_jobs() -> int:
        # every job here runs without a job group, so the None group holds all
        return len(tracker.getJobIdsForGroup(None))

    for name in names:
        q = REGISTRY[name]
        if name in _FORCED_COLD:
            artifacts.clear()
        jobs, walls = [], []
        for i in range(n_runs):
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            j0, t0 = n_jobs(), time.perf_counter()
            df = q.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            jobs.append(n_jobs() - j0)
        spark.sparkContext.setJobDescription(None)
        print(f"{name:42s} jobs={jobs} wall={walls}", flush=True)


if __name__ == "__main__":
    main()
