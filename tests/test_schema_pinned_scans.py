"""``load_table`` pins each scan's schema from the parquet footer
(``sources.io.footer_schema``) instead of letting Spark infer it with a
job. The pinned schema must be exactly the one inference gives, on every
testdata table and on the encodings the loaders dispatch on: INT64
NANOS and MICROS timestamps, INT96, UTC-adjusted instants, zero-row
files, Spark-written directories, and types left to inference."""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from setu_spark.plans.inspect import construct_jobs
from setu_spark.sources.io import TESTDATA_TABLES, footer_schema, load_table
from tests.conftest import SF_SMALL
from tests.test_events_dtype import _write_events

SF_DIRS = [
    os.path.join(os.path.dirname(SF_SMALL), f"sf{sf}")
    for sf in ("0.001", "0.01", "0.1")
]


def _inferred(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_every_testdata_table_pins_the_inferred_schema(spark, sf_dir):
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert footer_schema(spark, path) is not None, name
        assert load_table(spark, sf_dir, name).schema == _inferred(
            spark, sf_dir, name
        ), name


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_timestamp_encodings_pin_the_inferred_schema(spark, unit):
    d = _write_events(unit)
    got = load_table(spark, d, "events").schema
    assert got == _inferred(spark, d, "events")
    assert got["ts"].dataType.typeName() == (
        "long" if unit == "ns" else "timestamp_ntz"
    )


def test_zero_row_tables_pin_the_inferred_schema(spark, tmp_path):
    src = SF_DIRS[0]
    for name in TESTDATA_TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        pq.write_table(t.slice(0, 0), str(tmp_path / f"{name}.parquet"))
    for name in TESTDATA_TABLES:
        assert load_table(spark, str(tmp_path), name).schema == _inferred(
            spark, str(tmp_path), name
        ), name


def test_other_encodings_pin_or_defer_to_inference(spark, tmp_path):
    ts = [datetime.datetime(2024, 1, 1, 12, 30), None]
    tables = {
        # INT96, and instants adjusted to UTC: both plain timestamp
        "int96": (pa.table({"t": pa.array(ts, pa.timestamp("ns"))}),
                  {"use_deprecated_int96_timestamps": True}),
        "utc": (pa.table({"t": pa.array(ts, pa.timestamp("us", "UTC"))}), {}),
        "nested": (pa.table({
            "d": pa.array([datetime.date(2024, 1, 1), None], pa.date32()),
            "x": pa.array([Decimal("1.25"), None], pa.decimal128(9, 2)),
            "b": pa.array([b"\x00", None], pa.binary()),
            "s": pa.array([{"k": 1, "v": [1.5]}, None],
                          pa.struct([("k", pa.int16()),
                                     ("v", pa.list_(pa.float32()))])),
            "m": pa.array([[("a", 1)], None], pa.map_(pa.string(), pa.int8())),
        }), {}),
        # no arrow type gives Spark's reading of these: left to inference
        "unsigned": (pa.table({"u": pa.array([1, None], pa.uint32())}), {}),
        "nested_ts": (pa.table({"s": pa.array(
            [{"t": ts[0]}, None], pa.struct([("t", pa.timestamp("us"))])
        )}), {}),
    }
    for name, (table, opts) in tables.items():
        pq.write_table(table, str(tmp_path / f"{name}.parquet"), **opts)
        pinned = footer_schema(spark, str(tmp_path / f"{name}.parquet"))
        assert (pinned is None) == (name in ("unsigned", "nested_ts")), name
        assert load_table(spark, str(tmp_path), name).schema == _inferred(
            spark, str(tmp_path), name
        ), name


def test_spark_written_directory_pins_the_inferred_schema(spark, tmp_path):
    df = spark.sql(
        "SELECT id, CAST(id AS DECIMAL(20, 3)) AS dec,"
        " TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ntz,"
        " TIMESTAMP '2024-01-01 00:00:00' AS ts,"
        " array(named_struct('a', id)) AS arr, map('k', id) AS m"
        " FROM range(3)"
    )
    df.write.parquet(str(tmp_path / "t.parquet"))
    path = str(tmp_path / "t.parquet")
    assert footer_schema(spark, path) is not None
    assert load_table(spark, str(tmp_path), "t").schema == _inferred(
        spark, str(tmp_path), "t"
    )


def test_missing_table_raises_sparks_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "documents")


def test_building_q30_starts_no_spark_job(spark):
    build = entrymod.queries()["q30_doc_word_stats"]
    _, jobs = construct_jobs(spark, lambda: build(spark, SF_DIRS[0]))
    assert jobs == 0
