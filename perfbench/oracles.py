"""Oracle-derived output digests for the benchmark's correctness check.

A digest is a SHA-256 over a query's output in the canonical form of
``tools/verify_oracles.py`` (columns sorted by name, rows sorted,
integer widths unified, floats exact). A Spark result and its DuckDB
oracle have the same digest exactly when that tool's strict comparator
would accept them, so the benchmark checks every run without running
the oracles live.

Regenerate ``digests.json`` after changing the data, an oracle, a
workload's queries or the canonical form:

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
DIGESTS_FILE = os.path.join(HERE, "digests.json")


def digest(pdf) -> str:
    """SHA-256 of a pandas frame's canonical form: dtypes, then each row."""
    from tools.verify_oracles import canon

    c = canon(pdf)
    h = hashlib.sha256()
    h.update(repr([(col, str(dt)) for col, dt in c.dtypes.items()]).encode())
    for row in c.itertuples(index=False, name=None):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def load_digests() -> dict[str, dict[str, dict]]:
    """{data dir name: {query: {"rows": n, "sha256": hex}}}."""
    with open(DIGESTS_FILE, encoding="utf-8") as fh:
        return json.load(fh)


def main() -> int:
    sys.path.insert(0, ROOT)
    from cpx_etl_spark.queries import load_registry
    from tools.verify_oracles import duck_con
    from workloads import WORKLOADS

    _, oracles = load_registry()
    names = sorted({q for w in WORKLOADS.values() for q in w.queries})
    missing = [n for n in names if n not in oracles]
    if missing:
        print(f"no DuckDB oracle for: {', '.join(missing)}", file=sys.stderr)
        return 1
    out: dict[str, dict[str, dict]] = {}
    for scale in sorted(os.listdir(DATA_DIR)):
        con = duck_con(os.path.join(DATA_DIR, scale))
        out[scale] = {}
        for name in names:
            pdf = con.execute(oracles[name]).fetch_df()
            out[scale][name] = {"rows": len(pdf), "sha256": digest(pdf)}
            print(f"{scale} {name}: {len(pdf)} rows", flush=True)
        con.close()
    with open(DIGESTS_FILE, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
