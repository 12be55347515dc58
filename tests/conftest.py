import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from colonnade_spark.session import get_spark

    s = get_spark("colonnade_spark_tests", cores=4, driver_mem="8g")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def job_ids(spark, group: str) -> list:
    """The ids of the Spark jobs run so far under job group ``group``."""
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def run_jobs(spark, fn):
    """Run ``fn()`` under a job group of its own; returns ``fn``'s result
    and the ids of the Spark jobs it ran.  The group is cleared after."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        return fn(), job_ids(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
