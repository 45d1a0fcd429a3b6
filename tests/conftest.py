"""Shared test fixtures: one SparkSession per test session, sf0.001 data."""

from __future__ import annotations

import contextlib
import os
import uuid

import pytest

from synch_spark.session import get_spark, load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparksynch-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs the block runs: ``with spark_jobs(spark) as
    jobs:`` leaves their ids in ``jobs`` when the block exits."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs counted by a test")
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
