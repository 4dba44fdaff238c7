from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from earcrawler_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def broadcast_threshold(spark):
    """Setter for the session's spark.sql.autoBroadcastJoinThreshold (the
    value that picks the crawler's probe path); restored after the test."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    yield lambda value: spark.conf.set(key, value)
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL
