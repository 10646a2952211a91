"""Empty-corpus robustness wave (round 13) — the NULL waves' sibling.

An EMPTY table is a real production input (an empty incremental batch,
a filter that matched nothing, a partition with no files), and the
round-13 probe found 11 of 149 queries dying on it driver-side
(``head()[0]`` → NoneType, ``np.stack([])``, ``int(None)``, a
zero-division, and parquet schema inference on a fileless partitioned
write) plus one NULL-vs-0 global-aggregate split (q77). All fixed with
zero-extra-job guards that return exactly what the DuckDB oracle
returns on the same empty corpus; this suite pins each one
cross-engine on a generated schema-true empty clone.

The one UNFIXABLE divergence the probe found is ruled as D9
(COVERAGE.md): Spark returns 0 rows for ROLLUP/CUBE/GROUPING SETS
over empty input where DuckDB (and the SQL standard — the grand-total
grouping set aggregates over the empty table) emits 1 row; pinned
here as a documented engine gap so a future Spark fix shows up as a
test failure, not silence.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pyarrow.parquet as pq
import pytest

from oracle_utils import compare_frames, register_views

SRC = "/root/testdata/sf0.001"

#: every query the round-13 empty-corpus wave touched (guards or the
#: q77 coalesce), plus q131 whose crash was transitive through q60/q63,
#: and q139, whose merge kernel must still run on an empty word table
WAVE = [
    "q60_cosine_topk",
    "q63_ann_ivf_topk",
    "q85_kmeans_clusters",
    "q123_semantic_dedup",
    "q126_margin_pair_mining",
    "q131_ann_recall_audit",
    "q138_margin_pair_mining_ann",
    "q140_margin_ann_recall_audit",
    "q139_bpe_merge_iterations",
    "q141_bpe_compression_curve",
    "q143_ivf_cell_balance",
    "q117_partitioned_sink_roundtrip",
    "q77_event_funnel",
]


@pytest.fixture(scope="module")
def empty_dir():
    d = tempfile.mkdtemp(prefix="emptycorpus_ci_")
    for f in os.listdir(SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SRC, f))
            pq.write_table(t.slice(0, 0), os.path.join(d, f))
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def oracle_con(empty_dir):
    con = duckdb.connect()
    register_views(con, empty_dir)
    return con


@pytest.mark.parametrize("name", WAVE)
def test_wave_query_matches_oracle_on_empty(
    spark, empty_dir, oracle_con, name
):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, empty_dir).toPandas()
    odf = oracle_con.execute(e.oracle_sql()[name]).df()
    assert compare_frames(sdf, odf) == []


def test_d9_grouping_sets_empty_divergence_stands(spark, empty_dir):
    """D9: Spark ROLLUP/CUBE/GROUPING SETS on empty input yields 0
    rows; the standard (and DuckDB) yields the grand-total grouping.
    If a Spark release ever adopts the standard behavior, this fails
    and D9 should be closed with a re-match of q09/q15/q107."""
    from pyspark.sql import functions as F

    df = spark.range(0).select(F.col("id").alias("a"))
    assert df.rollup("a").agg(F.count("*")).count() == 0
    assert (
        duckdb.sql(
            "SELECT a, count(*) FROM (SELECT 1 AS a WHERE false) "
            "GROUP BY ROLLUP(a)"
        ).df().shape[0]
        == 1
    )


@pytest.fixture(scope="module")
def onerow_dir():
    """First row of every table — the other boundary corpus: windows,
    percentiles, and ratio audits all hit their n=1 / zero-pair edges.
    The round-13 probe read 148/149 MATCH here; the one crash was
    q140's recall division (a NON-empty corpus with ZERO exact mutual
    pairs — ANSI DIVIDE_BY_ZERO where DuckDB's 0/0 is NULL), fixed
    with try_divide and pinned below."""
    d = tempfile.mkdtemp(prefix="onerow_ci_")
    for f in os.listdir(SRC):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SRC, f))
            pq.write_table(t.slice(0, 1), os.path.join(d, f))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_q140_zero_exact_pairs_matches_oracle(spark, onerow_dir):
    """A single-vector corpus has vectors but no exact mutual pairs:
    recall = 0/0 must be the oracle's NULL row, not a Spark-ANSI
    DIVIDE_BY_ZERO raise."""
    import __spark_entry__ as e

    con = duckdb.connect()
    register_views(con, onerow_dir)
    name = "q140_margin_ann_recall_audit"
    sdf = e.queries()[name](spark, onerow_dir).toPandas()
    odf = con.execute(e.oracle_sql()[name]).df()
    assert compare_frames(sdf, odf) == []
    assert sdf["n_exact"].iloc[0] == 0 and sdf["recall"].isna().all()


@pytest.mark.skipif(
    not os.environ.get("SETU_SLOW"),
    reason="full-registry empty sweep is slow; set SETU_SLOW=1 to run",
)
def test_full_registry_on_empty(spark, empty_dir, oracle_con):
    """Every registered query either matches its oracle on the empty
    corpus or is one of the three D9-ruled grouping-sets queries —
    no crashes anywhere (the wave's invariant going forward)."""
    import __spark_entry__ as e

    d9 = {
        "q09_sales_rollup",
        "q15_status_priority_cube",
        "q107_grouping_sets_revenue",
    }
    qs, os_ = e.queries(), e.oracle_sql()
    bad = []
    for name, fn in qs.items():
        sdf = fn(spark, empty_dir).toPandas()  # must not raise
        o = os_.get(name)
        if o is None or name in d9:
            continue
        probs = compare_frames(sdf, oracle_con.execute(o).df())
        if probs:
            bad.append((name, probs))
    assert bad == []
