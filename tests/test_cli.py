"""The config-driven stage runner (setu_spark.run) — the reference's
production entry point shape (reference run.py:31-60) — chained end to end
on the sf0.001 corpus."""

from __future__ import annotations

import json
import subprocess
import sys


def test_cli_pipeline_end_to_end(tmp_path):
    cfg = tmp_path / "cfg.json"
    cfg.write_text(
        json.dumps(
            {
                "clean": {"chunk_sep": " ", "repeated_chunk_filter": False},
                "analysis": {"line_sep": " "},
                "flag": {"min_line_count": 5},
            }
        )
    )
    out = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable, "-m", "setu_spark.run", "all",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(out),
            "--config", str(cfg),
            "--master", "local[4]",
        ],
        cwd="/root/repo",
        capture_output=True,
        text=True,
        timeout=480,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    import duckdb

    counts = {
        t: duckdb.sql(
            f"SELECT count(*) FROM '{out}/{t}/*.parquet'"
        ).fetchone()[0]
        for t in ("cleaned", "doc_stats", "survivors", "minhash_signatures")
    }
    assert counts["cleaned"] == 500
    assert counts["doc_stats"] == 500
    assert counts["survivors"] == 500          # word-salad passes the gates
    assert counts["minhash_signatures"] == 500
    lid = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/lid/*/*.parquet',"
        " hive_partitioning=1)"
    ).fetchone()[0]
    assert lid == 500
    gov = duckdb.sql(
        f"SELECT count(*), sum(CASE WHEN split IN ('train','val','test')"
        f" THEN 1 ELSE 0 END), count(DISTINCT split)"
        f" FROM '{out}/governed/*.parquet'"
    ).fetchone()
    assert gov[0] == 500 and gov[1] == 500 and gov[2] == 3
    card = duckdb.sql(
        f"SELECT CAST(sum(n_docs) AS BIGINT) FROM"
        f" '{out}/dataset_card/*.parquet'"
    ).fetchone()[0]
    assert card == 500


def test_cli_single_stage(tmp_path):
    """A single stage invocation (clean only) — the per-stage restart path
    the reference's operators rely on (SURVEY §3.1 step 7)."""
    import subprocess

    out = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable, "-m", "setu_spark.run", "clean",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(out),
            "--master", "local[4]",
        ],
        cwd="/root/repo",
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{out}/cleaned/*.parquet'"
    ).fetchone()[0]
    assert n == 500


# --- source/sink format breadth (uses the shared spark fixture) -----------

from tests.conftest import SF_ORACLE as SF_DIR  # noqa: E402


def test_csv_roundtrip(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from setu_spark.sources.io import read_csv_corpus

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = spark.createDataFrame([(1, "hello world"), (2, "x,y")], schema)
    p = str(tmp_path / "csv")
    src.write.mode("overwrite").option("header", "true").csv(p)
    back = read_csv_corpus(spark, p, schema)
    assert sorted((r.doc_id, r.text) for r in back.collect()) == [
        (1, "hello world"),
        (2, "x,y"),
    ]


def test_orc_roundtrip(spark, tmp_path):
    from setu_spark.sources.io import load_table, read_orc, write_orc

    src = load_table(spark, SF_DIR, "region")
    p = str(tmp_path / "orc")
    write_orc(src, p)
    back = read_orc(spark, p)
    assert sorted(r.r_regionkey for r in back.collect()) == sorted(
        r.r_regionkey for r in src.collect()
    )


def test_write_compacted_file_count(spark, tmp_path):
    import glob

    from setu_spark.sources.io import load_table, write_compacted

    src = load_table(spark, SF_DIR, "customer")  # 1500 rows at sf0.01
    p = str(tmp_path / "compact")
    n_files = write_compacted(src, p, target_rows_per_file=400)
    parts = glob.glob(p + "/part-*.parquet")
    assert len(parts) == n_files == -(-src.count() // 400)
    back = spark.read.parquet(p)
    assert back.count() == src.count()


def test_text_corpus_line_and_wholefile(spark, tmp_path):
    from setu_spark.sources.io import read_text_corpus

    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.txt").write_text("line one\nline two\n")
    (p / "b.txt").write_text("solo\n")
    lines = read_text_corpus(spark, str(p / "*.txt"))
    assert sorted(r["value"] for r in lines.collect()) == [
        "line one", "line two", "solo",
    ]
    whole = read_text_corpus(spark, str(p / "*.txt"), whole_file=True)
    texts = sorted(r["value"] for r in whole.collect())
    assert texts == ["line one\nline two\n", "solo\n"]


def test_binary_corpus_metadata_and_suffix_filter(spark, tmp_path):
    from setu_spark.sources.io import read_binary_corpus

    p = tmp_path / "media"
    p.mkdir()
    (p / "x.bin").write_bytes(b"\x00\x01\x02\x03")
    (p / "y.bin").write_bytes(b"\xff" * 10)
    (p / "skip.txt").write_text("not binary payload")
    df = read_binary_corpus(spark, str(p), suffix=".bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"x.bin", "y.bin"}
    assert rows["x.bin"]["length"] == 4
    assert bytes(rows["y.bin"]["content"]) == b"\xff" * 10
    # metadata-only predicate must not require reading content
    assert df.filter("length > 5").count() == 1


def test_jsonl_roundtrip(spark, tmp_path):
    from setu_spark.sources.io import write_jsonl

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, s string"
    )
    out = str(tmp_path / "out_jsonl")
    write_jsonl(df, out)
    back = spark.read.schema("id long, s string").json(out)
    assert sorted((r["id"], r["s"]) for r in back.collect()) == [
        (1, "a"), (2, "b"),
    ]
    # gzip parts: line-oriented tools can stream these without a JVM
    import glob
    assert glob.glob(out + "/*.json.gz")


def test_rename_partitioned_directories(spark, tmp_path):
    """Reference utilities.py:59-72 drop-in: hive dirs lose their col=
    prefix; non-partition entries untouched; the moved pairs returned."""
    import os

    from setu_spark.sources.io import (
        rename_partitioned_directories,
        write_partitioned,
    )

    df = spark.createDataFrame(
        [(1, "hi"), (2, "ta"), (3, "hi")], ["doc_id", "lang"]
    )
    out = str(tmp_path / "part_out")
    write_partitioned(df, out, ["lang"])
    before = {
        d for d in os.listdir(out) if not d.startswith(("_", "."))
    }
    assert before == {"lang=hi", "lang=ta"}
    moved = rename_partitioned_directories(out, "lang")
    after = {
        d for d in os.listdir(out) if not d.startswith(("_", "."))
    }
    assert after == {"hi", "ta"}
    assert len(moved) == 2
    # renamed layout still reads as plain parquet per directory
    assert spark.read.parquet(f"{out}/hi").count() == 2


def test_cluster_conf_composes_over_defaults():
    """cluster_conf() (the 100 TB deploy profile) must compose with the
    factory: string-valued, no clash with any CORRECTNESS-bearing
    DEFAULT_CONF key (UTC tz, Arrow, nanosAsLong, Kryo, AQE switches),
    and only documented-retunable keys may overlap (partition width,
    driver sizing)."""
    from setu_spark.session import DEFAULT_CONF, cluster_conf

    prof = cluster_conf()
    assert prof and all(
        isinstance(k, str) and isinstance(v, str) for k, v in prof.items()
    )
    semantic = {
        "spark.sql.session.timeZone",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.serializer",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
    }
    assert not (set(prof) & semantic), (
        "cluster_conf must not retune correctness-bearing conf"
    )
    retunable = {
        "spark.sql.shuffle.partitions",
        "spark.driver.memory",
        "spark.driver.maxResultSize",
    }
    assert set(prof) & set(DEFAULT_CONF) <= retunable
    # the profile parametrizes cleanly
    big = cluster_conf(target_partition_bytes=512 * 1024 * 1024,
                       max_executors=2000)
    assert big["spark.sql.files.maxPartitionBytes"] == str(512 * 1024 * 1024)
    assert big["spark.dynamicAllocation.maxExecutors"] == "2000"


def test_default_driver_memory_fits_the_machine():
    """The default heap is ⅔ of physical memory, capped at 32g — never
    a ceiling the OS cannot back."""
    import os

    from setu_spark.session import default_driver_memory

    gib = 1 << 30
    assert default_driver_memory(15 * gib) == "10240m"
    assert default_driver_memory(64 * gib) == "32768m"
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    here = int(default_driver_memory()[:-1]) << 20
    assert here <= min(32 * gib, phys * 2 // 3)


def test_cluster_conf_accepted_by_builder(spark):
    """Every key must be a legal Spark conf name-value (the builder
    accepts arbitrary keys, but RuntimeConfig rejects malformed values
    for known confs at set time) — probe the SQL-prefixed ones on the
    live session without mutating it."""
    from setu_spark.session import cluster_conf

    for k, v in cluster_conf().items():
        if k.startswith("spark.sql."):
            cur = None
            try:
                cur = spark.conf.get(k)
            except Exception:
                pass
            spark.conf.set(k, v)  # raises on malformed value
            if cur is not None:
                spark.conf.set(k, cur)
            else:
                spark.conf.unset(k)
