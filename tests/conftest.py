from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from university_data_lakehouse_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("udl-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture
def jobs_in_group(spark):
    """``count(group, run)``: the number of Spark jobs ``run()``
    launches, tagged by a job group (jobs submitted from other threads
    carry the group only when those threads inherit the caller's local
    properties, as ``pyspark.util.inheritable_thread_target`` makes
    them; other threads' jobs are not counted)."""
    def count(group: str, run) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count
