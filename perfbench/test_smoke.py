"""Smoke test of the benchmark at sf0.001: every metric BENCHMARK.json
declares is printed with its unit, and the outputs check out.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.mark.parametrize(("workload", "trace", "declared"), [
    ("etl_surface", 0, "end_to_end"),
    ("index_serve", 1, "per_layer"),
])
def test_every_declared_metric_is_printed(workload, trace, declared):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace),
         "--data", os.path.join(HERE, "data", "sf0.001")],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec[declared]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    for name, unit in want.items():
        assert any(line.strip().startswith(f"{name}: ") and line.endswith(f" {unit}")
                   for line in lines[:-1]), name
