"""What building an etl_surface query costs before its action runs.

A registry callable only builds a plan: constructing a query whose
inputs were read before runs no Spark job. The known exception
elsewhere is q_winnow_incremental, whose fingerprint ``cut``
(operators/cut.py) runs a job at construction (ROADMAP item 2).

A Python-worker stage only where the per-row work is Python: of the
etl_surface queries only q_xsl_execute, whose stylesheet chain is a
Python UDF, plans a Python exec node, and none reads driver rows through
a ``Scan ExistingRDD`` (PERF.md, "Python-worker fixed cost").

Covers the ten queries of the benchmark's etl_surface workload; index
builds are too slow for this suite."""

from __future__ import annotations

import pytest

from cpx_etl_spark.queries import load_registry

ETL_SURFACE = (
    "q_xlsx_source",
    "q_xml_badgerfish_source",
    "q_badgerfish_convert",
    "q_validation_rules",
    "q_transform_mapping",
    "q_pipeline_e2e",
    "q_load_related_split",
    "q_fixed_width_roundtrip",
    "q_xsl_execute",
    "q_unicode_normalize",
)

# the one etl_surface query whose per-row work is Python
PYTHON_STAGE = "q_xsl_execute"

_PYTHON_EXEC_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)


@pytest.mark.parametrize("name", ETL_SURFACE)
def test_second_construction_runs_no_job(spark, sf_dir, jobs_run, name):
    build = load_registry()[0][name]
    build(spark, sf_dir)  # the first construction infers input schemas
    _, jobs = jobs_run(lambda: build(spark, sf_dir))
    assert jobs == 0


@pytest.mark.parametrize("name", ETL_SURFACE)
def test_python_stage_only_where_the_row_work_is_python(spark, sf_dir, name):
    plan = (
        load_registry()[0][name](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    nodes = [n for n in _PYTHON_EXEC_NODES if n in plan]
    assert "Scan ExistingRDD" not in plan
    if name == PYTHON_STAGE:
        assert nodes == ["ArrowEvalPython"]
    else:
        assert nodes == []
