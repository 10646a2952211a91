"""Tests for the benchmark itself: input determinism, the event-log
parser and tracer coverage.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from gen import TABLES, Scale, generate  # noqa: E402
from tracer import Tracer, layer_metrics, parse_event_log  # noqa: E402

TINY = Scale(docs=300, vectors=120, events=2_000, orders=500, lineitem=2_000,
             customers=100, parts=200, suppliers=20, exact_dup_frac=0.05)


def _digests(path: str) -> dict[str, str]:
    return {
        t: hashlib.sha256(
            open(os.path.join(path, f"{t}.parquet"), "rb").read()
        ).hexdigest()
        for t in TABLES
    }


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    generate(str(tmp_path / "a"), 11, TINY)
    generate(str(tmp_path / "b"), 11, TINY)
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


def test_other_seed_gives_other_rows_same_schema(tmp_path):
    generate(str(tmp_path / "a"), 11, TINY)
    generate(str(tmp_path / "b"), 12, TINY)
    for t in TABLES:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert a.schema == b.schema
        if t not in ("region", "nation"):
            assert not a.equals(b), t


def test_files_have_many_row_groups(tmp_path):
    generate(str(tmp_path), 3, TINY)
    md = pq.read_metadata(tmp_path / "lineitem.parquet")
    assert md.num_row_groups >= 8


def test_events_ts_is_naive_microsecond_timestamp(tmp_path):
    generate(str(tmp_path), 3, TINY)
    col = pq.read_metadata(tmp_path / "events.parquet").schema.column(1)
    assert col.name == "ts" and col.physical_type == "INT64"
    assert "isAdjustedToUTC=false" in str(col.logical_type)
    assert "microseconds" in str(col.logical_type)


def test_planted_exact_duplicates_share_text_and_vector(tmp_path):
    sc = Scale(docs=400, vectors=200, exact_dup_frac=0.1,
               tables=("documents", "embeddings"))
    generate(str(tmp_path), 5, sc)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pandas()
    joint = docs.merge(emb, left_on="doc_id", right_on="vec_id")
    classes = {(r.text, tuple(r.embedding)) for r in joint.itertuples()}
    assert 1 - len(classes) / len(docs) >= 0.05


def test_event_log_parser_on_recorded_log():
    path = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
    with open(path) as fh:
        parsed = parse_event_log(fh)
    m = layer_metrics(parsed)
    assert m["construct.jobs"] == 1
    assert m["sources.load_table.jobs"] == 1
    assert m["exec.jobs"] == 2
    assert m["exec.tasks"] >= m["exec.stages"] >= 2
    assert m["exec.task_run_s"] > 0
    assert m["python.bytes_sent"] > 0 and m["python.bytes_returned"] > 0
    assert m["python.stage_task_s"] > 0
    assert m["shuffle.write_bytes"] > 0
    assert m["planning.s"] >= 0


class _FakeSC:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, k, v):
        self.props[k] = v


def test_span_self_time_and_totals():
    tr = Tracer(_FakeSC(), "t")
    outer = tr.open("construct")
    inner = tr.open("sources.load_table")
    tr.close(inner)
    act = tr.open("action.first")
    nested = tr.open("action.take")
    tr.close(nested)
    tr.close(act)
    tr.close(outer)
    selfs = tr.self_times()
    span = tr.spans[outer]
    covered = sum(tr.spans[i].end - tr.spans[i].start for i in (inner, act))
    assert selfs[outer] == pytest.approx(span.end - span.start - covered)
    tot = tr.totals()
    assert tot["construct.actions"] == 1  # the nested take counts once
    assert tot["sources.load_table.calls"] == 1
    assert tr.sc.props["perfbench.span"] is None


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from setu_spark.session import get_spark

    s = get_spark("perfbench-tests",
                  extra_conf={"spark.sql.shuffle.partitions": "4",
                              "spark.ui.showConsoleProgress": "false"})
    yield s


def test_wrappers_cover_every_namespace(spark, tmp_path):
    import __spark_entry__  # noqa: F401  (registers every query module)
    from setu_spark.sources import io
    from tracer import WRAPPED

    originals = {
        span: getattr(sys.modules[mod], fn) for mod, fn, span in WRAPPED
    }
    tr = Tracer(spark.sparkContext, "t")
    tr.install()
    try:
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("setu_spark"):
                for val in vars(mod).values():
                    assert val not in originals.values(), mod.__name__
    finally:
        tr.uninstall()
    assert io.load_table is originals["sources.load_table"]


@pytest.mark.parametrize("query,metric", [
    ("q81_flag_filter_survivors", "sources.load_table.calls"),
    ("q56_dedup_components", "dedup.cc.calls"),
])
def test_traced_query_counts_its_layer(spark, tmp_path, query, metric):
    import __spark_entry__

    generate(str(tmp_path), 1, TINY)
    tr = Tracer(spark.sparkContext, "t")
    tr.install()
    try:
        idx = tr.open("construct")
        df = __spark_entry__.queries()[query](spark, str(tmp_path))
        tr.close(idx)
        df.toPandas()
    finally:
        tr.uninstall()
    assert tr.totals()[metric] > 0
