import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ingest_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        app_name="ingest_spark_tests",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, action)`` runs ``action`` under job group
    ``group`` and returns the number of Spark jobs it started."""
    sc = spark.sparkContext

    def count(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
