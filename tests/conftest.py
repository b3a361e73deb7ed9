from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cpx_etl_spark.session import get_spark

SF_DIR = os.environ.get("CPX_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cpx-etl-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_JOB_GROUPS = itertools.count()


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)`` calls ``fn()`` under a job group of its own and
    returns ``(fn's result, number of Spark jobs it started)``, counted
    by the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-run-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
