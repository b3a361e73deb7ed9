"""A registry callable only builds a plan: constructing a query whose
inputs were read before runs no Spark job.

Covers the ten queries of the benchmark's etl_surface workload; index
builds are too slow for this suite. The known exception elsewhere is
q_winnow_incremental, whose ``materialize_index`` cut runs a job at
construction (ROADMAP item 2)."""

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


@pytest.mark.parametrize("name", ETL_SURFACE)
def test_second_construction_runs_no_job(spark, sf_dir, jobs_run, name):
    build = load_registry()[0][name]
    build(spark, sf_dir)  # the first construction infers input schemas
    _, jobs = jobs_run(lambda: build(spark, sf_dir))
    assert jobs == 0
