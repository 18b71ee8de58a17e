import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datamart_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("datamart_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def in_process(monkeypatch):
    """Run every shard kernel in-process, whatever the scan's size."""
    from datamart_spark.query import wand

    monkeypatch.setattr(wand, "_IN_PROCESS_MAX_BYTES", 2**62)


@pytest.fixture
def spark_job(monkeypatch):
    """Run every shard kernel as the Spark job, whatever the scan's size."""
    from datamart_spark.query import wand

    monkeypatch.setattr(wand, "_IN_PROCESS_MAX_BYTES", 0)


@pytest.fixture(params=["in_process", "spark_job"])
def kernel_branch(request):
    """Each test using it runs once per branch of ``_shard_kernel_job``."""
    request.getfixturevalue(request.param)
    return request.param


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` → (``fn()``, the number of Spark jobs it ran)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"counted-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
