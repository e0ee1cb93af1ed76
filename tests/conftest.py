from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from biglake_iceberg_python_spark.session import build_session

    s = build_session("pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def jobs_started(spark):
    """``count(fn)`` → (number of Spark jobs ``fn()`` started, its result),
    counted through a job group once the listener bus has delivered every
    job-start event."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"jobs-started-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return count
