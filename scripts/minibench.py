#!/usr/bin/env python
"""Isolated per-query timing and Spark job counts for optimization work
(guide §1): runs the named queries through the same noop-sink methodology
as bench.py (forced cold first run for the cache-backed queries, then warm
runs) and prints a calibration line, then per query the Spark jobs and
wall seconds of each run. Job counts are the evidence channel for
iterative queries whose per-round work lives in checkpoint jobs that the
final explain() cannot show. Usage:
    python scripts/minibench.py q1 q2 ...  [env: SPARK_GRAFT_SF_DIR, N_RUNS]
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
    # validate BEFORE paying Spark session startup + calibration (r11 advice)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries (not in REGISTRY): {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("N_RUNS", "3"))
    spark = get_spark(app_name="minibench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    cal = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr(
            "sum(id * 3 + 1)", "count(distinct id % 1000)"
        ).collect()
        cal.append(round(time.perf_counter() - t0, 3))
    print(f"calibration: {cal}", flush=True)
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        # The tracker fills from the listener bus, so drain it first or a
        # run's last jobs land in the next run's count. Job ids are
        # sequential and every job here runs without a job group; the
        # tracker keeps only the newest spark.ui.retainedJobs ids, so count
        # by the newest id, not by the length of the list.
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return max(tracker.getJobIdsForGroup(None), default=-1)

    for name in names:
        q = REGISTRY[name]
        if name in _FORCED_COLD:
            artifacts.clear()
        jobs, walls = [], []
        for i in range(n_runs):
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            j0, t0 = last_job(), time.perf_counter()
            df = q.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            jobs.append(last_job() - j0)
        spark.sparkContext.setJobDescription(None)
        print(f"{name:42s} jobs={jobs} wall={walls}", flush=True)


if __name__ == "__main__":
    main()
