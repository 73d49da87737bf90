from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from master_airflow_spark.session import get_spark

    s = get_spark(app_name="mas-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_launched(spark):
    """``with jobs_launched() as ids:`` collects the ids of the Spark
    jobs the calling thread launches inside the block (a unique job
    group, read back through statusTracker)."""
    sc = spark.sparkContext

    @contextmanager
    def block():
        group = f"jobs-launched-{uuid.uuid4().hex[:8]}"
        ids: list[int] = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return block
