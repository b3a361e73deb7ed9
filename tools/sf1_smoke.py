"""Full-registry sf1 smoke: execute EVERY registered query at the 10x
corpus (benchdata/sf1) and record wall + row count + any failure.

This is the robustness complement to bench.py (58 headline queries,
min-of-3) and the per-family PERF probes: one pass, min-of-1, whole
registry. It exists because it caught real bugs the gate cannot see —
the r9 run found q_trend_regression overflowing int64 (Spark threw
where DuckDB's HUGEINT answered) and q_negative_sampling's fixed
64-bucket knob costing 599 s (now catalog-derived: 29 s).

A query that reads a standing artifact (an index, a shard set) runs its
registered setup first, untimed by ``sec``: the build's seconds go to
``setup_sec`` beside it, so a query's ``sec`` never mixes in a build.

The output JSON is the canonical smoke-artifact shape (sf_dir, ok,
total_sec, slowest, fails, results) — SF1_SMOKE_r*.json committed at
the repo root holds one or more of these runs under named keys, so
round-over-round artifacts stay parseable by the same readers. The
file is rewritten after EVERY query (a driver-killing failure at
query 200/260 is exactly what a smoke exists to catch; losing the
199 readings before it would force a full restart). Parallelism
inherits SPARK_GRAFT_CPUS via get_spark, the same code path as
bench.py, so ratio audits comparing two smoke runs are same-config by
construction.

Usage: python tools/sf1_smoke.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _summary(sf_dir: str, results: dict, fails: dict) -> dict:
    return {
        "sf_dir": sf_dir,
        "ok": len(results),
        "total_sec": round(sum(v["sec"] for v in results.values()), 1),
        "slowest": dict(
            sorted(
                ((k, v["sec"]) for k, v in results.items()),
                key=lambda kv: kv[1],
                reverse=True,
            )[:12]
        ),
        "fails": fails,
        "results": results,
    }


def main() -> int:
    from cpx_etl_spark.queries import SETUPS, load_registry
    from cpx_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "benchdata",
        "sf1",
    )
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_smoke.json"
    queries, _ = load_registry()
    spark = get_spark("sf1-smoke")  # master/shuffle from SPARK_GRAFT_CPUS
    results: dict = {}
    fails: dict = {}
    for i, (name, fn) in enumerate(sorted(queries.items()), 1):
        try:
            res = {}
            if name in SETUPS:
                t0 = time.time()
                SETUPS[name](spark, sf_dir)
                res["setup_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            n = len(fn(spark, sf_dir).collect())
            results[name] = {"sec": round(time.time() - t0, 2), "rows": n, **res}
        except Exception as exc:
            fails[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
        print(
            f"[{i}/{len(queries)}] {name}: {results.get(name, fails.get(name))}",
            flush=True,
        )
        tmp = out + ".tmp"
        with open(tmp, "w") as f:
            json.dump(_summary(sf_dir, results, fails), f, indent=1)
        os.replace(tmp, out)
    print(f"DONE ok={len(results)} fail={len(fails)} -> {out}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
