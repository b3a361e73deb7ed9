#!/usr/bin/env python
"""Maintain cpx_etl_spark/queries/gate_digests.json — the content-based
semantic-change ledger behind the gate-sweep rotation.

Each registered query maps to {"digest": query_digest, "round": N}
where N is the round its CURRENT digest first shipped; driver evidence
counts only when STRICTLY newer than N (see queries/__init__.py). The
digest covers the query's body, its oracle and every cpx_etl_spark
function, class and constant it reaches, so a change inside an operator
re-gates its callers. This tool keeps the ledger in sync with HEAD:

  python tools/update_gate_digests.py            # sync (new/changed -> next round)
  python tools/update_gate_digests.py --check    # exit 1 if out of sync
  python tools/update_gate_digests.py --init     # bootstrap: everything round 0

"Next round" = 1 + the newest CORRECTNESS_r*.json at the repo root (the
upcoming driver sweep). No timestamps — deterministic from artifacts.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def current_round(root: Path) -> int:
    rounds = [0]
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", p.stem)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--init", action="store_true",
                    help="bootstrap every entry at round 0")
    args = ap.parse_args()

    from cpx_etl_spark.queries import (
        ORACLES,
        _GATE_DIGESTS_FILE,
        load_registry,
        query_digest,
    )

    queries, _ = load_registry()
    path = ROOT / "cpx_etl_spark" / "queries" / _GATE_DIGESTS_FILE
    try:
        stored = json.loads(path.read_text())
    except (OSError, ValueError):
        stored = {}
    nxt = current_round(ROOT)

    out: dict[str, dict] = {}
    changes: list[str] = []
    for name, fn in queries.items():
        dig = query_digest(fn, ORACLES.get(name))
        ent = stored.get(name)
        if args.init:
            out[name] = {"digest": dig, "round": 0}
            if not isinstance(ent, dict) or ent.get("digest") != dig:
                changes.append(f"init  {name} -> r0")
        elif not isinstance(ent, dict):
            out[name] = {"digest": dig, "round": nxt}
            changes.append(f"new   {name} -> r{nxt}")
        elif ent.get("digest") != dig:
            out[name] = {"digest": dig, "round": nxt}
            changes.append(
                f"chgd  {name}: r{ent.get('round')} -> r{nxt}"
            )
        else:
            out[name] = {"digest": dig, "round": int(ent.get("round", 0))}
    dropped = sorted(set(stored) - set(out))
    for name in dropped:
        changes.append(f"drop  {name}")

    if args.check:
        if changes:
            print("gate_digests.json out of sync with HEAD:")
            for c in changes:
                print(" ", c)
            return 1
        print(f"gate_digests.json in sync ({len(out)} queries)")
        return 0

    path.write_text(
        json.dumps(out, indent=0, sort_keys=True, separators=(",", ": "))
        + "\n"
    )
    for c in changes:
        print(c)
    print(f"wrote {path.relative_to(ROOT)} ({len(out)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
