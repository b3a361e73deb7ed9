"""Glob-driven spec harness (cpx$describe analogue).

The reference declares `cpx$describe(glob, testCase)` as the entry
point of a glob-driven spec harness (reference: src/main/index.js:
160-162 — the body is an empty stub; FileResolver's spec trees show
the intent). This module implements that intent Spark-first: resolve a
glob TREE of declarative pipeline spec documents (JSON files, the
compile_pipeline format) and compile every resolved spec into a named
DataFrame plan — a table-driven describe/it suite whose cases are
files on disk.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from cpx_etl_spark.plans.pipeline import compile_pipeline
from cpx_etl_spark.sources.file_resolver import FileResolver
from cpx_etl_spark.sources.registry import local_frame


def _walk_leaves(tree: dict, prefix: str = ""):
    for key, sub in tree.items():
        if key == "_":
            for fname in sub:
                yield prefix, fname
        else:
            yield from _walk_leaves(sub, os.path.join(prefix, key))


def describe(
    spark: SparkSession, sf_dir: str, root: str, globs: dict
) -> dict[str, DataFrame]:
    """Resolve the glob tree under `root` and compile each matched JSON
    spec into its DataFrame plan. Case name = tree path + file stem
    (the describe/it nesting); execution stays lazy — callers decide
    what to assert per case."""
    resolver = FileResolver(root, globs)
    cases: dict[str, DataFrame] = {}
    for prefix, fname in _walk_leaves(resolver.tree):
        with open(os.path.join(root, prefix, fname), encoding="utf-8") as fh:
            spec = json.load(fh)
        name = os.path.join(prefix, os.path.splitext(fname)[0]).replace(os.sep, "/")
        cases[name] = compile_pipeline(spark, sf_dir, spec)
    return cases


def describe_summary(
    spark: SparkSession, sf_dir: str, root: str, globs: dict
) -> DataFrame:
    """Run every resolved case and report (case, n_rows, n_cols) — the
    harness verdict frame (each case's full plan executes distributed;
    only the per-case counts land on the driver)."""
    rows = [
        (name, df.count(), len(df.columns))
        for name, df in sorted(describe(spark, sf_dir, root, globs).items())
    ]
    return local_frame(spark, rows, "case string, n_rows long, n_cols long")
