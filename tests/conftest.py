import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bcdc2bcdc_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bcdc2bcdc-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def count_jobs(sc, fn):
    """Run ``fn()`` under a fresh Spark job group and return ``(jobs,
    result)``: the number of jobs the group launched and ``fn``'s return
    value. The caller's group is restored afterwards, so a nested call
    takes its jobs out of the enclosing call's count."""
    keys = ("spark.jobGroup.id", "spark.job.description")
    outer = [sc.getLocalProperty(k) for k in keys]
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "budget")
    try:
        result = fn()
    finally:
        for k, v in zip(keys, outer):
            sc.setLocalProperty(k, v)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result
