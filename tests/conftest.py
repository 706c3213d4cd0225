from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_lambda_redshift_loader_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture()
def jobs_in_group(spark):
    """``jobs_in_group(group, fn)`` runs ``fn()`` under
    ``setJobGroup(group)`` and returns ``(fn's result, number of Spark
    jobs the group holds)``, counted from the status tracker once the
    listener bus has drained. Jobs started from other threads count only
    if those threads inherited the group."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
