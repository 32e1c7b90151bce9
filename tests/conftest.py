import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbasewd_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hbasewd_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def kv(spark):
    from hbasewd_spark.sources.kv_fixture import kv_df

    return kv_df(spark).cache()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def spark_jobs(spark):
    """``run(group, fn) -> (fn(), ids of the Spark jobs fn ran)``,
    read from the status tracker once the listener bus has delivered
    every job event."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
