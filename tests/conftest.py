from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from monday_etl_automation_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> ``(fn(), ids of the Spark jobs it ran)``: the
    call runs under a fresh job group, read back once the listener bus
    has delivered every event (the status tracker is fed from it)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
