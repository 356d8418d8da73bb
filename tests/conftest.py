"""Shared fixtures: one SparkSession per test session.

Mirrors the reference's conftest role (/root/reference/tests/conftest.py)
but table-driven: the Flask fixture server is replaced by synthetic
site_graph DataFrames (FIXTURES.md §1); a real-Flask parity mode lives
in test_reference_parity.py only.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("simplecrawler-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def broadcast_limit(spark):
    """A setter for spark.sql.autoBroadcastJoinThreshold; the old value
    comes back when the test ends."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    yield lambda limit: spark.conf.set(key, str(limit))
    spark.conf.set(key, old)


@pytest.fixture
def no_broadcast(broadcast_limit):
    """Broadcast joins off (-1) for one test. The crawl builds its
    seen-set Bloom only once seen outgrows a broadcast join; with
    broadcasts off that holds from the end of round 0, so tests that
    exercise the filter in a crawl use this fixture."""
    broadcast_limit(-1)


@pytest.fixture(scope="session")
def sf001_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir():
    return os.path.join(TESTDATA, "sf0.01")
