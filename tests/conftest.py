"""Shared fixtures: one SparkSession per test session, sf0.001 data dir."""

from __future__ import annotations

import os

import pytest

from chapterhouseqe_spark.session import get_spark, released

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    return get_spark("chqe-tests", shuffle_partitions=8)


@pytest.fixture(autouse=True)
def _released_per_test():
    """Release what each test's queries persisted when the test ends."""
    with released():
        yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
