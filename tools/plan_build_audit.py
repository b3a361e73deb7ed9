#!/usr/bin/env python
"""Measure per-query PLAN-BUILD cost: DataFrame construction (Python
DSL + analysis probes) and Catalyst optimization/physical planning,
separately from execution. VERDICT r17 item 6: the unrolled-kernel
experiment proved analysis time is material (~0.5 s per 64-dim dot
instance); this tool makes the plan-build share of the sub-second tail
measurable instead of guessed.

Usage: python tools/plan_build_audit.py [query ...]   (default: all
headline bench queries). Each query's registered setup (SETUPS: the
standing artifact it reads) runs untimed first, as in bench.py and
tools/sf1_smoke.py; the query is then constructed once untimed (first
reads infer input schemas) and measured on a second construction.
Prints one line per query, slowest plan-build first:

  name  construct_s  plan_s  total_s  jobs

construct_s: time for the second queries[name](spark, sf_dir) to
return, including the Spark jobs it runs.
plan_s: time for queryExecution().executedPlan() to materialize —
analysis + optimization + physical planning, no job execution.
jobs: Spark jobs the second construction ran (status tracker, under a
job group of its own). A registry callable should only build a plan, so
anything but 0 is a construction-time cut (ROADMAP item 2) or a
side effect, and its time is in construct_s.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import HEADLINE
    from cpx_etl_spark.queries import SETUPS, load_registry
    from cpx_etl_spark.session import get_spark

    queries, _ = load_registry()
    names = sys.argv[1:] or list(HEADLINE)
    spark = get_spark("cpx-etl-planaudit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    rows = []
    for name in names:
        if name in SETUPS:
            SETUPS[name](spark, sf_dir)
        queries[name](spark, sf_dir)
        group = f"plan-build-audit:{name}"
        sc.setJobGroup(group, group)
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        t1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        rows.append((name, t1 - t0, t2 - t1, t2 - t0, jobs))
    rows.sort(key=lambda r: -r[3])
    print(f"{'query':38s} {'construct_s':>11s} {'plan_s':>8s} {'total_s':>8s} "
          f"{'jobs':>5s}")
    for name, c, p, t, j in rows:
        print(f"{name:38s} {c:11.3f} {p:8.3f} {t:8.3f} {j:5d}")
    print(f"{'TOTAL':38s} {sum(r[1] for r in rows):11.3f} "
          f"{sum(r[2] for r in rows):8.3f} {sum(r[3] for r in rows):8.3f} "
          f"{sum(r[4] for r in rows):5d}")


if __name__ == "__main__":
    main()
