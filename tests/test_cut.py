"""The one lineage cut: every materialization goes through
``cpx_etl_spark.operators.cut.cut`` under one executor-loss policy
(``$SPARK_GRAFT_INDEX_MATERIALIZE``: ``local`` or ``reliable``)."""

from __future__ import annotations

import ast
import pathlib

import pytest

from cpx_etl_spark.operators.cut import cut

PKG = pathlib.Path(__file__).resolve().parent.parent / "cpx_etl_spark"
CUT_MODULE = PKG / "operators" / "cut.py"


def test_no_cut_outside_the_cut_module():
    """A hand-placed ``.localCheckpoint(`` or ``.checkpoint(`` would
    escape the policy; every cut calls ``cut`` instead."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        if path == CUT_MODULE:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")):
                stray.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert stray == []


def test_mistyped_policy_raises(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_MATERIALIZE", "reliabel")
    with pytest.raises(ValueError, match="local, reliable"):
        cut(spark.range(3))


def test_reliable_policy_gives_the_local_rows(spark, sf_dir, tmp_path, monkeypatch):
    from cpx_etl_spark.queries import load_registry

    build = load_registry()[0]["dedup_minhash_lsh"]
    monkeypatch.setenv("SPARK_GRAFT_INDEX_MATERIALIZE", "local")
    local_rows = sorted(build(spark, sf_dir).collect())
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_INDEX_MATERIALIZE", "reliable")
    reliable_rows = sorted(build(spark, sf_dir).collect())
    assert reliable_rows == local_rows and local_rows
    # the reliable cuts were written to the checkpoint dir
    assert any(tmp_path.rglob("part-*"))
