from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quarrycore_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("quarrycore-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """spark_jobs(fn) -> number of Spark jobs fn() ran, counted from the
    status tracker's job ids under a job group of its own."""
    import uuid

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
