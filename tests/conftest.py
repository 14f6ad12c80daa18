"""Shared pytest fixtures: one SparkSession per test run."""

from __future__ import annotations

import os
import uuid

import pytest

from etl_loading_scripts_spark.session import get_spark

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="etl-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST_DIR


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)``: the Spark jobs ``fn()`` runs, counted by job group
    with ``statusTracker``."""

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        # job records reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
