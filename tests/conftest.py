from __future__ import annotations

import logging
import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from setu_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SETU_SPARK_TEST_SF", SF_SMALL)


@pytest.fixture(scope="session")
def spark():
    # modest parallelism for small-SF tests: fewer tasks, faster runs
    s = get_spark(
        "setu-spark-tests",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


@contextmanager
def uncoalesced(spark):
    """Inside the block AQE keeps every one of the session's shuffle
    partitions, so ``connected_components`` shuffles even a tiny graph
    into several forest partitions and finishes it in its distributed
    loop."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.fixture
def cc_log(caplog):
    """Returns a function giving the last ``connected_components``
    record on the ``setu_spark.dispatch`` logger (attributes
    ``partitions`` and ``rounds``)."""
    caplog.set_level(logging.INFO, logger="setu_spark.dispatch")

    def last():
        return [
            r for r in caplog.records
            if r.name == "setu_spark.dispatch" and hasattr(r, "rounds")
        ][-1]

    return last
