from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_internal_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # managed tables (the bucketed-store tests) land in the warehouse, a
    # static conf: point it at a temp dir so tests never write into the
    # checkout
    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        app_name="pulsar_internal_spark_tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def jobs_submitted(spark, fn) -> int:
    """Spark jobs ``fn()`` submits, counted from the status tracker under
    a job group of their own (the jobs AQE submits from its own threads,
    broadcasts included, inherit the group)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-submitted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
