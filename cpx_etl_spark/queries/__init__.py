"""Headline query registry — the driver contract surface.

Every operator in SURVEY.md §2 registers here: a Spark callable
``(spark, sf_dir) -> DataFrame`` and (unless genuinely
non-SQL-expressible) an equivalent DuckDB oracle SQL string. The driver
hash-compares the two at sf=0.01, order-insensitively, after sorting
columns by name — so every computed column is aliased identically on
both sides.

Cross-engine determinism rules used throughout:
- SUM over doubles is order-dependent; we cast each term to
  DECIMAL(20,4) first (exact, associative) and round the final double.
  ``dsum``/``davg`` encode the Spark side; oracles spell the same
  ROUND(CAST(SUM(CAST(x AS DECIMAL(20,4))) AS DOUBLE), s).
- Scalar double arithmetic (mul/div/sqrt) is IEEE-identical in both
  engines, so per-row expressions are safe without rounding.
- Every top-k ORDER BY carries a unique tiebreaker column so the
  selected row SET is deterministic.

Eager-action posture: a registered callable builds a plan; nothing
runs until the driver/bench consumes it, apart from planning lookups
and the lineage cuts of operators/cut.py. Standing artifacts (persisted
indexes, training-shard sets, the bloom snapshot) are not built at
construction: each query that reads one declares its builder as
``setup`` at registration, benchmarks run every setup untimed first,
and the body's call of the same builder is then a meta probe
(scratch.standing_artifact). Only the protocol queries still act at
construction — q_snapshot_rollback, q_snapshot_expire,
q_upsert_concurrent_merge, q_dead_letter_replay and their kin run
scratch writes, commit/CAS dances and eager counts because the
protocol itself IS the operator under test. For those, invocation cost
includes the side-effect pipeline, and a failure there surfaces as a
registry-call error rather than a query-execution error; the returned
DataFrame still hash-gates the protocol's end state.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
SETUPS: dict[str, Callable[[SparkSession, str], object]] = {}


def register(name: str, oracle: str | None = None,
             setup: Callable[[SparkSession, str], object] | None = None):
    """Decorator: add a query to the registry, with its DuckDB oracle
    and, for a query that reads a standing artifact, the builder that
    makes it (``setup(spark, sf_dir)``; scratch.standing_artifact).
    Benchmarks call every selected query's setup untimed before they
    time anything; the query body calls the same builder, an idempotent
    ensure, so a caller that skips setup still gets a working query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if setup is not None:
            SETUPS[name] = setup
        return fn

    return deco


# Rational-valued results land EXACTLY on rounding half-ties (e.g.
# 0.12*226/48 + 0.5*3/48 = 0.59625), where Spark (BigDecimal HALF_UP)
# and DuckDB (scaled-double / half-even decimal) disagree. Shifting
# every rounded double by -1e-9 moves exact ties off the boundary
# identically in both engines; values not at a tie are unaffected.
EPS = 1e-9


def fround(col: Column, scale: int) -> Column:
    """Tie-safe cross-engine ROUND for double results."""
    return F.round(col - EPS, scale)


def sql_fround(expr: str, scale: int) -> str:
    # trailing "+ 0" normalizes DuckDB's ROUND(-tiny) = -0.0 to +0.0
    # (IEEE: x + 0.0 is identity except for negative zero), matching
    # Spark's BigDecimal rounding which never emits -0.0.
    return f"ROUND(({expr}) - 1e-9, {scale}) + 0"


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-independent double sum: exact decimal accumulate, then
    tie-safe round."""
    return fround(F.sum(col.cast("decimal(20,4)")).cast("double"), scale)


def davg(col: Column, scale: int = 4) -> Column:
    """Order-independent mean built from the exact decimal sum."""
    return fround(
        F.sum(col.cast("decimal(20,4)")).cast("double") / F.count(F.lit(1)), scale
    )


def sql_dsum(expr: str, scale: int = 2) -> str:
    return sql_fround(f"CAST(SUM(CAST({expr} AS DECIMAL(20,4))) AS DOUBLE)", scale)


def sql_davg(expr: str, scale: int = 4) -> str:
    return sql_fround(
        f"CAST(SUM(CAST({expr} AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*)", scale
    )


def _last_driver_round(root=None) -> dict[str, int]:
    """Map query name -> most recent round with driver evidence.

    Scans the driver's own CORRECTNESS_r*.json artifacts at the repo
    root. A query counts as confirmed in round N only if its row
    hash-matched its oracle (a rows_match with a FAILED hash is a
    failing query and must stay at the FRONT of the sweep, not rotate
    to the back — ADVICE r5), or ran the declared rows-only check
    (``err == 'no_oracle'`` with a recorded row count). Rows without a
    hash_match key (older artifact formats) fall back to rows_match.
    Queries with no artifact row at all (new this round) map to 0."""
    import json
    import re
    from pathlib import Path

    if root is None:
        root = Path(__file__).resolve().parents[2]
    root = Path(root)
    latest: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if "hash_match" in row:
                matched = row.get("hash_match") is True
            else:
                matched = bool(row.get("rows_match"))
            ok = matched or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if ok:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


# Semantic-change tracking is CONTENT-based (judge-advice r10: the old
# manual name->round map trusted a CORRECTNESS row whose round EQUALLED
# the change round, silently standing on a hash produced mid-round
# BEFORE the change). Each registered query's implementation source,
# the package code it reaches and its oracle SQL are digested
# (query_digest) into the committed gate_digests.json beside
# this module: {name: {"digest": md5, "round": N}} where N is the round
# the CURRENT digest first shipped. Driver evidence is trusted only
# when STRICTLY newer than N — a row from the change round itself
# cannot prove the new semantics, so it re-gates. tools/
# update_gate_digests.py maintains the file; tests/test_registry.py
# fails when a query's HEAD digest drifts from the committed one, so a
# semantic change cannot land without bumping its round.
_GATE_DIGESTS_FILE = "gate_digests.json"


def query_digest(fn: Callable, oracle: str | None) -> str:
    """Content digest of a registered query: the source of its body
    (its decorator left out; the oracle SQL stands for it), the source
    of every cpx_etl_spark function, class and module-level constant
    the query reaches, transitively, and its oracle SQL. A name is
    reached when code it reaches reads it as a global, imports it with
    a ``from cpx_etl_spark... import`` (module level or inside a
    function) or reads it as an attribute of a cpx_etl_spark module. A
    constant is digested by the source of the top-level statements that
    bind it (and what they read), not by its runtime repr: that text is
    the same in every process, while caches such as
    sources.registry._SCHEMAS fill as queries run. Comment, docstring
    and shadowing-local over-reach only re-gates more, the safe
    direction."""
    import hashlib

    h = hashlib.md5()
    for key, text in sorted(_reached(fn).items()):
        h.update(f"{key}\x00{text}\x00".encode())
    h.update((oracle or "").encode())
    return h.hexdigest()


_PKG = "cpx_etl_spark"


def _in_pkg(modname: str | None) -> bool:
    return bool(modname) and (
        modname == _PKG or modname.startswith(_PKG + ".")
    ) and not modname.startswith(_PKG + ".vendor")


@functools.cache
def _bindings(modname: str) -> tuple[dict, list[str]]:
    """How each top-level name of a module is bound, from its source:
    name -> ("src", [(statement, text)]) or ("import", module, attr or
    None); plus the module's source lines."""
    import ast
    import importlib
    import importlib.util
    import inspect

    mod = importlib.import_module(modname)
    src = inspect.getsource(mod)
    lines = src.splitlines()
    out: dict = {}
    for stmt in ast.parse(src).body:
        if isinstance(stmt, ast.Import):
            for a in stmt.names:
                top = a.name.split(".")[0]
                out[a.asname or top] = (
                    "import", a.name if a.asname else top, None)
            continue
        if isinstance(stmt, ast.ImportFrom):
            base = importlib.util.resolve_name(
                "." * stmt.level + (stmt.module or ""), mod.__package__
            ) if stmt.level else stmt.module
            for a in stmt.names:
                out[a.asname or a.name] = ("import", base, a.name)
            continue
        first = min([stmt.lineno] + [
            d.lineno for d in getattr(stmt, "decorator_list", [])
        ])
        text = "\n".join(lines[first - 1:stmt.end_lineno])
        for n in _bound_names(stmt):
            if out.get(n, ("",))[0] != "src":
                out[n] = ("src", [])
            out[n][1].append((stmt, text))
    return out, lines


def _bound_names(stmt) -> set[str]:
    """Names a top-level statement defines, binds or assigns into."""
    import ast

    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    names = set()
    for node in ast.walk(stmt):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            names.add(node.id)
        elif (isinstance(node, (ast.Subscript, ast.Attribute))
              and isinstance(node.ctx, (ast.Store, ast.Del))
              and isinstance(node.value, ast.Name)):
            names.add(node.value.id)
    return names


def _import_ref(target: str | None, attr: str | None):
    """("node", key), ("module", name) or None for ``from target import
    attr`` (``import target`` when attr is None)."""
    import importlib
    import importlib.util

    if not _in_pkg(target):
        return None
    if attr is None:
        return ("module", target)
    sub = f"{target}.{attr}"
    if (hasattr(importlib.import_module(target), "__path__")
            and importlib.util.find_spec(sub) is not None):
        return ("module", sub)
    return _resolve(target, attr)


def _resolve(modname: str, name: str):
    """What a top-level ``name`` of ``modname`` is for the digest."""
    ent = _bindings(modname)[0].get(name)
    if ent is None:
        return None  # a builtin
    if ent[0] == "src":
        return ("node", f"{modname}:{name}")
    return _import_ref(ent[1], ent[2])


def _reads(modname: str, tree) -> set[str]:
    """Keys of the package names one piece of ``modname``'s source
    reads: globals, function-local ``from cpx_etl_spark... import``
    names and attributes of package modules."""
    import ast

    local = {
        a.asname or a.name: (node.module, a.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 0
        for a in node.names
    }

    def ref(n: str):
        return _import_ref(*local[n]) if n in local else _resolve(modname, n)

    keys: set[str] = set()
    for node in ast.walk(tree):
        r = None
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            r = ref(node.id)
        elif (isinstance(node, ast.Attribute)
              and isinstance(node.value, ast.Name)):
            base = ref(node.value.id)
            if base and base[0] == "module":
                r = _resolve(base[1], node.attr)
        if r and r[0] == "node":
            keys.add(r[1])
    return keys


def _reached(fn: Callable) -> dict[str, str]:
    """key -> source of everything query ``fn`` reaches, its own body
    without decorators included (see query_digest)."""
    import ast

    bindings, lines = _bindings(fn.__module__)
    stmt = bindings[fn.__name__][1][-1][0]
    text = "\n".join(lines[stmt.lineno - 1:stmt.end_lineno])
    out = {f"{fn.__module__}:{fn.__name__}": text}
    todo = list(_reads(fn.__module__, ast.parse(text)))
    while todo:
        key = todo.pop()
        if key not in out:
            mod, name = key.split(":", 1)
            out[key] = "\n".join(t for _s, t in _bindings(mod)[0][name][1])
            todo.extend(_node_reads(key))
    return out


@functools.cache
def _node_reads(key: str) -> frozenset[str]:
    mod, name = key.split(":", 1)
    return frozenset().union(
        *(_reads(mod, s) for s, _t in _bindings(mod)[0][name][1]))


def _load_gate_digests() -> dict[str, dict]:
    import json
    from pathlib import Path

    path = Path(__file__).resolve().parent / _GATE_DIGESTS_FILE
    try:
        data = json.loads(path.read_text())
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def changed_rounds() -> dict[str, int]:
    """name -> round the query's CURRENT semantics shipped (evidence
    must be STRICTLY newer to count). Sources the committed digest
    file; a query whose HEAD digest differs from the committed one
    (edited without running tools/update_gate_digests.py — the
    staleness pytest fails in that state) distrusts ALL evidence."""
    stored = _load_gate_digests()
    out: dict[str, int] = {}
    for name, fn in QUERIES.items():
        ent = stored.get(name)
        if not isinstance(ent, dict):
            continue  # brand new: rank 0 via no-evidence anyway
        if ent.get("digest") != query_digest(fn, ORACLES.get(name)):
            out[name] = 10**9  # digest drift: no evidence can stand
        else:
            out[name] = int(ent.get("round", 0))
    return out


def sweep_order(
    names: list[str],
    latest: dict[str, int],
    changed_in: dict[str, int] | None = None,
) -> list[str]:
    """Gate-sweep ordering rule: queries with NO driver evidence at all
    sort first (rank 0 — zero evidence is staler than any stale
    evidence; VERDICT r6 showed the old min(gated)+0.5 rank buried
    never-gated queries behind a ~50-query stale-but-confirmed cohort
    for 2+ rounds), semantically-changed queries whose evidence is not
    STRICTLY newer than the change round (``changed_in``) rank with
    them — a row from the change round itself may predate the change
    (judge-advice r10) — then confirmed queries stalest-first,
    insertion order within cohorts. Pure function so the rule itself is
    unit-testable against fixture evidence (not a re-derivation of this
    formula)."""
    if changed_in is None:
        changed_in = changed_rounds()

    def rank(name: str) -> int:
        r = latest.get(name, 0)
        if r <= changed_in.get(name, 0):
            return 0  # not provably post-change: re-gate
        return r

    return sorted(names, key=rank)


def load_registry() -> tuple[dict, dict]:
    """Import all query modules (side effect: registration) and return maps.

    Registry insertion order sets the driver's gate-sweep order, and the
    gate budget is ~50 queries per round — smaller than the registry. To
    keep every query's driver evidence fresh, the sweep order rotates
    AUTOMATICALLY: queries are sorted by the round of their most recent
    driver confirmation (read from the CORRECTNESS_r*.json artifacts),
    least-recent first, with never-confirmed queries ranked FIRST
    (rank 0): zero driver evidence is staler than any stale evidence,
    so new registrations gate in their first eligible round instead of
    waiting behind a large stale-but-confirmed cohort (VERDICT r6).
    Ties keep module registration order, so cheap families stay early
    within each cohort; evidence age stays bounded at
    ceil(n_queries / budget) rounds."""
    from cpx_etl_spark.queries import (  # noqa: F401
        similarity,
        streaming,
        text,
        relational,
        etl,
        multimodal,
        dedup,
        curation,
    )

    latest = _last_driver_round()
    order = sweep_order(list(QUERIES), latest)
    ordered = {name: QUERIES[name] for name in order}
    QUERIES.clear()
    QUERIES.update(ordered)
    return QUERIES, ORACLES
