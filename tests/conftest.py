from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nshm2022db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def count_jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
