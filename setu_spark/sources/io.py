"""Sources & sinks.

Covers the reference's scan/sink surface (SURVEY.md §2.1, S1-S10) the
Spark-idiomatic way: schema'd ``spark.read`` for every format, plain and
partitioned parquet sinks, no side-channel writers (the reference's pyarrow
side-writer inside mapPartitions, clean_analysis.py:444-457, becomes a second
filtered DataFrame written through the normal sink).
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DataType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

#: One record per run-time choice an operator makes from the data it
#: sees, with the inputs of that choice as record attributes.
DISPATCH_LOG = logging.getLogger("setu_spark.dispatch")

#: Driver-generated analytics tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Hadoop conf for object-store paths (S9). The reference shells out to
#: gsutil / google.cloud.storage inside partitions (text_extraction.py:
#: 200-214, main.py:143-147); the Spark-native replacement is the Hadoop
#: connector: the SAME ``spark.read`` call handles ``gs://`` / ``s3a://``
#: once the filesystem impl + credentials conf is set. Profiles below hold
#: the non-secret keys; credentials come from the environment (instance
#: metadata / env vars), never from code.
OBJECT_STORE_PROFILES: dict[str, dict[str, str]] = {
    "gs": {
        "spark.hadoop.fs.gs.impl": (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem"
        ),
        "spark.hadoop.fs.AbstractFileSystem.gs.impl": (
            "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFS"
        ),
    },
    "s3a": {
        "spark.hadoop.fs.s3a.impl": (
            "org.apache.hadoop.fs.s3a.S3AFileSystem"
        ),
        "spark.hadoop.fs.s3a.aws.credentials.provider": (
            "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
        ),
    },
}


def path_scheme(path: str) -> str | None:
    """URI scheme of a path ('gs', 's3a', …) or None for local/relative."""
    head, sep, _ = path.partition("://")
    return head if sep else None


def register_object_store_profile(
    scheme: str, conf: dict[str, str]
) -> None:
    """Register (or override) the Hadoop conf profile for a URI scheme —
    the deployment hook for stores beyond the built-in gs/s3a profiles
    (an abfs account, an on-prem MinIO's fs.s3a.endpoint override, a
    viewfs mount table). ``load_table`` applies the profile on first
    touch of a path with that scheme; keys may carry the
    ``spark.hadoop.`` prefix or be raw Hadoop keys.  The end-to-end
    path (scheme detect → conf apply → real spark.read through a
    non-file filesystem) is exercised in pytest via a viewfs mount
    (tests/test_object_store.py) — no cloud needed."""
    OBJECT_STORE_PROFILES[scheme] = dict(conf)


def configure_object_store(spark: SparkSession, scheme: str) -> dict[str, str]:
    """Apply the Hadoop conf profile for an object-store scheme to the
    session's Hadoop configuration (runtime-settable, unlike spark.* core
    conf). Returns the applied key→value map so callers/tests can assert
    it. No-op for schemes without a profile (file, hdfs — built in)."""
    profile = OBJECT_STORE_PROFILES.get(scheme, {})
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    applied = {}
    for k, v in profile.items():
        key = k.removeprefix("spark.hadoop.")
        hconf.set(key, v)
        applied[key] = v
    return applied


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table (S2), schema pinned from its
    footer.

    A bare ``spark.read.parquet`` infers the schema with a Spark job
    (~0.1 s and one job a scan, the largest share of query-construction
    jobs). Local tables instead read one parquet footer on the driver
    with pyarrow (:func:`footer_schema`, well under a millisecond) and
    pass the result as ``.schema(...)``, so building a query starts no
    job. The footer is read on every call: nothing is memoized, so a
    rewritten file is never read with a stale schema.

    Object-store sf_dirs (``gs://bucket/sf100``, ``s3a://…``) get their
    connector conf applied on first touch (S9) and keep Spark's
    inference, since pyarrow has no filesystem for them here; so do
    local tables whose footer holds a type :func:`footer_schema` does
    not map. The query code itself is storage-agnostic."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    scheme = path_scheme(sf_dir)
    if scheme:
        configure_object_store(spark, scheme)
        return spark.read.parquet(path)
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """:func:`load_table` for each of ``names``: one footer read per
    table, no Spark job."""
    return {n: load_table(spark, sf_dir, n) for n in names}


#: Footer key under which Spark's parquet writer stores the frame's own
#: schema; Spark's reader prefers it to the parquet types when present.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _conf_true(spark: SparkSession, key: str) -> bool:
    return str(spark.conf.get(key)).lower() == "true"


def _first_data_file(path: str) -> str | None:
    """The file whose footer Spark's inference reads: the table itself,
    or a directory's first visible file in path order. None for a
    directory holding no files (partition subdirectories only)."""
    if not os.path.isdir(path):
        return path
    parts = sorted(
        f for f in os.listdir(path)
        if not f.startswith((".", "_"))
        and os.path.isfile(os.path.join(path, f))
    )
    return os.path.join(path, parts[0]) if parts else None


def _timestamp_type(spark: SparkSession, column) -> DataType | None:
    """Spark's type for a top-level parquet timestamp column: from the
    physical encoding, not pyarrow's reading of it (pyarrow reads INT96
    and INT64 NANOS both as ``timestamp[ns]``)."""
    if column is None:
        return None
    if column.physical_type == "INT96":
        return TimestampType()
    logical = json.loads(column.logical_type.to_json())
    if logical.get("Type") != "Timestamp":
        return None
    if logical["timeUnit"] == "nanoseconds":
        # without nanosAsLong Spark refuses the column: let it say so
        if _conf_true(spark, "spark.sql.legacy.parquet.nanosAsLong"):
            return LongType()
        return None
    if logical["isAdjustedToUTC"] or not _conf_true(
        spark, "spark.sql.parquet.inferTimestampNTZ.enabled"
    ):
        return TimestampType()
    return TimestampNTZType()


def _mapped_alike(spark: SparkSession, typ) -> bool:
    """True when ``from_arrow_type`` gives the type Spark's parquet
    inference gives for this Arrow type, nested types included.
    Timestamps below the top level, unsigned integers, durations, times
    and the like are left to Spark."""
    import pyarrow.types as pat

    if pat.is_dictionary(typ):
        return _mapped_alike(spark, typ.value_type)
    if pat.is_list(typ) or pat.is_large_list(typ) or pat.is_fixed_size_list(typ):
        return _mapped_alike(spark, typ.value_type)
    if pat.is_map(typ):
        return _mapped_alike(spark, typ.key_type) and _mapped_alike(
            spark, typ.item_type
        )
    if pat.is_struct(typ):
        return all(_mapped_alike(spark, f.type) for f in typ)
    if pat.is_binary(typ) or pat.is_large_binary(typ):
        return not _conf_true(spark, "spark.sql.parquet.binaryAsString")
    return any(
        check(typ) for check in (
            pat.is_boolean, pat.is_int8, pat.is_int16, pat.is_int32,
            pat.is_int64, pat.is_float32, pat.is_float64, pat.is_decimal128,
            pat.is_string, pat.is_large_string, pat.is_date32,
        )
    )


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from one
    local parquet footer on the driver, or None where only Spark's
    inference can tell (a missing or unreadable file, a directory of
    partition subdirectories, a type outside :func:`_mapped_alike`).

    A footer written by Spark carries Spark's own schema, which its
    reader prefers; any other footer maps through pyspark's
    ``from_arrow_type``, with top-level timestamps derived from the
    parquet encoding (:func:`_timestamp_type`): INT64 NANOS is
    ``bigint`` under ``nanosAsLong``, INT96 is ``timestamp``, and a
    timestamp not adjusted to UTC is ``timestamp_ntz`` under
    ``inferTimestampNTZ``. Nullability is moot: Spark's reader makes
    every field of a file source nullable."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    file = _first_data_file(path)
    if file is None:
        return None
    try:
        meta = pq.read_metadata(file)
    except (OSError, pa.ArrowException):
        return None
    stored = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored:
        return StructType.fromJson(json.loads(stored))
    columns = {
        c.path: c for c in (meta.schema.column(i) for i in range(meta.num_columns))
    }
    fields = []
    for f in meta.schema.to_arrow_schema():
        if pa.types.is_timestamp(f.type):
            typ = _timestamp_type(spark, columns.get(f.name))
        elif _mapped_alike(spark, f.type):
            typ = from_arrow_type(f.type)
        else:
            typ = None
        if typ is None:
            return None
        fields.append(StructField(f.name, typ))
    return StructType(fields)


def read_json_corpus(
    spark: SparkSession,
    path_glob: str,
    schema: StructType,
    multiline: bool = True,
    ignore_corrupt: bool = True,
) -> DataFrame:
    """Schema'd JSON scan (S1; reference text_extraction.py:151).

    Always takes an explicit schema — the reference never infers schemas and
    neither do we (SURVEY.md §1.3). At 100 TB an inferred-schema JSON read
    would add a full extra pass over the data.
    """
    return (
        spark.read.format("json")
        .option("multiline", str(multiline).lower())
        .option("ignoreCorruptFiles", str(ignore_corrupt).lower())
        .schema(schema)
        .load(path_glob)
    )


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Stage-checkpoint sink (S6; reference text_extraction.py:166-167)."""
    df.write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Partitioned sink (S7; reference lid.py:820-824 writes partitioned by a
    duplicated ``doc_lang_partition`` column so the value also stays in the
    data). We partition directly — readers that need the column get it back
    from partition discovery, enabling partition pruning downstream."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_csv_corpus(
    spark: SparkSession,
    path_glob: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """Schema'd CSV scan — same no-inference stance as the JSON reader
    (an inferred-schema CSV read is a full extra pass at 100 TB). CSV is
    the interchange format the reference never needed (its corpora arrive
    as JSON/parquet) but any real ingest inevitably meets; permissive
    mode routes malformed rows to nulls rather than failing the scan."""
    return (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .load(path_glob)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar twin of the parquet scan (S2) with the same
    pushdown/pruning behavior; exists so a corpus stored by an
    ORC-centric warehouse can be read without conversion."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — columnar twin of write_parquet (S6)."""
    df.write.mode(mode).orc(path)


def write_compacted(
    df: DataFrame,
    path: str,
    target_rows_per_file: int,
    mode: str = "overwrite",
) -> int:
    """Small-files-safe sink: repartition to ⌈rows / target⌉ files before
    writing. The operational fix for the many-small-files failure mode a
    100 TB pipeline hits when upstream filters shrink partitions to KBs —
    readers then pay per-file open cost, and object stores throttle on
    request count. The row count comes from one count() job (the same
    statistics pass AQE does); returns the file count written.

    At cluster scale prefer ``df.repartition(n)`` on a size estimate from
    the input scan; rows are the portable proxy the local tests can pin."""
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    df.repartition(n_files).write.mode(mode).parquet(path)
    return n_files


def rebalance_small_scan(
    df: DataFrame, input_bytes: int | None = None
) -> DataFrame:
    """Input-parallelism floor for CPU-heavy per-row stages (input skew
    from too few input splits).

    Parquet scans cannot split below a row group: a file written as ONE
    row group yields exactly one non-empty scan task no matter what
    ``maxPartitionBytes`` says — so every downstream per-row kernel
    (Arrow UDF, tokenize+explode, n-gram hashing, media decode) runs on
    a single core while the rest of the executor fleet idles. The
    driver's sf0.1 corpus files are all single-row-group, which made
    each such stage serial at bench scale.

    When the scan yields fewer partitions than the session's default
    parallelism, insert one round-robin ``repartition`` so the heavy
    work spreads across cores. Deliberately scale-adaptive, NOT a local
    tuning constant: at 100 TB a corpus scan has thousands of splits,
    the predicate is false, and this is a no-op — the shuffle only ever
    exists in the regime where it costs KBs-to-MBs and buys the whole
    fleet. A second effect at any scale: identical repartition subtrees
    in multi-branch plans are deduplicated by ReuseExchange, so plans
    that previously scanned the input once per branch (e.g. the
    eval/train split of decontamination) now scan it once total.
    Round-robin is deterministic under retry (sort-before-repartition
    stays on, SPARK-23207) and row-set-preserving, so query results are
    untouched.

    ``input_bytes``: when the caller knows the scan's on-disk size
    (``_input_bytes`` — a filesystem stat, ~30 µs), the decision is
    "rebalance iff the input could not fill the fleet even at the
    default 128 MiB split" — bytes < parallelism × 128 MiB. Without it
    the fallback probes the planner via ``df.rdd.getNumPartitions()``,
    which was measured at ~120-175 ms of driver time PER CALL (it
    builds the full scan RDD) — real money inside a sub-second query,
    hence the stat-based fast path.

    Each call logs one :data:`DISPATCH_LOG` record whose attributes
    carry the inputs and the choice: ``input_bytes`` (None without the
    stat), ``scan_partitions`` (None with it), ``split_bytes``,
    ``parallelism`` and ``rebalance``."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    split = _session_split_bytes(spark)
    if input_bytes is not None:
        partitions = None
        rebalance = input_bytes < target * split
    else:
        partitions = df.rdd.getNumPartitions()
        rebalance = partitions < target
    DISPATCH_LOG.info(
        "rebalance_small_scan: %s (input %s bytes, scan partitions %s,"
        " split %d bytes, parallelism %d)",
        "repartition" if rebalance else "keep",
        input_bytes, partitions, split, target,
        extra={
            "input_bytes": input_bytes,
            "scan_partitions": partitions,
            "split_bytes": split,
            "parallelism": target,
            "rebalance": rebalance,
        },
    )
    return df.repartition(target) if rebalance else df


#: Spark's DEFAULT parquet split size (spark.sql.files.maxPartitionBytes)
#: — the fallback when the session conf is unreadable. An input below
#: parallelism × the split size cannot fill the fleet even in the best
#: case, so the rebalance predicate keys on it; at 100 TB any corpus
#: scan is orders of magnitude past it and rebalance is a no-op.
_SPLIT_BYTES = 128 * 1024 * 1024

_BYTE_SUFFIX = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _session_split_bytes(spark: SparkSession) -> int:
    """The session's ACTUAL ``spark.sql.files.maxPartitionBytes``
    (a deployment that raises the split size — e.g.
    ``cluster_conf``'s 256 MB — would otherwise rebalance inputs that
    split fine under it, or vice versa). Accepts Spark's byte-size
    spellings (plain bytes, or ``128m``/``1g``-style suffixes);
    unreadable values fall back to the 128 MiB default."""
    try:
        raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        return _SPLIT_BYTES
    s = raw.strip().lower()
    for suf in sorted(_BYTE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            s = s[: -len(suf)]
            mult = _BYTE_SUFFIX[suf]
            break
    else:
        mult = 1
    try:
        return int(float(s.strip()) * mult)
    except ValueError:
        return _SPLIT_BYTES


def _input_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of one testdata table — a local filesystem stat
    (file or directory-of-parts). Returns None for object-store sf_dirs
    (gs://, s3a://…) and stat failures; callers fall back to the
    planner probe."""
    if path_scheme(sf_dir):
        return None
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith((".", "_"))
            )
        return os.path.getsize(p)
    except OSError:
        return None


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """:func:`load_table` + :func:`rebalance_small_scan` with the cheap
    size-stat probe — the loader for query paths whose FIRST stage does
    heavy per-row work (Arrow kernels, tokenize+explode, n-gram
    hashing) and would otherwise serialize on a single-row-group scan
    task."""
    return rebalance_small_scan(
        load_table(spark, sf_dir, name), _input_bytes(sf_dir, name)
    )


def read_text_corpus(
    spark: SparkSession, path_glob: str, whole_file: bool = False
) -> DataFrame:
    """Plain-text scan: one row per line (or per file with
    ``whole_file`` — raw document ingest). Built-in ``text`` source, so
    splits/parallelism follow Hadoop input splits like every other scan;
    at 100 TB line-mode streams, whole-file mode is for corpora stored
    one-document-per-file (pair with ``write_compacted`` downstream)."""
    return (
        spark.read.format("text")
        .option("wholetext", str(whole_file).lower())
        .load(path_glob)
    )


def read_binary_corpus(
    spark: SparkSession, path_glob: str, suffix: str | None = None
) -> DataFrame:
    """Binary-file scan for multimodal payloads (images/audio/video as
    opaque bytes + metadata): Spark's built-in ``binaryFile`` source
    yields (path, modificationTime, length, content). The ingest mate of
    operators/multimodal.py — decode stays in mapInPandas, the SCAN is
    the engine's own (splittable listing, predicate pushdown on the
    metadata columns, e.g. ``length < maxBytes`` never reads content)."""
    reader = spark.read.format("binaryFile")
    if suffix:
        reader = reader.option("pathGlobFilter", f"*{suffix}")
    return reader.load(path_glob)


def write_jsonl(
    df: DataFrame, path: str, mode: str = "overwrite",
    compression: str | None = "gzip",
) -> None:
    """JSON-lines sink — the interchange format every LLM-data toolchain
    reads. One JSON object per line (Spark's json sink IS jsonl),
    optionally gzipped per-part; downstream line-oriented tools stream
    it without a JVM."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def rename_partitioned_directories(
    base_dir: str, partition_column_name: str
) -> list[tuple[str, str]]:
    """Strip the ``col=`` prefix from hive-partition directories
    (``lang=hi`` → ``hi``) — drop-in equivalent of the reference's
    post-write convenience (utilities.py:59-72), which its downstream
    stages rely on to glob ``lid/<lang>/*.parquet``.

    Spark-first note: prefer NOT calling this — the hive layout is what
    enables partition discovery and pruning on re-read
    (:func:`write_partitioned`'s contract), and renamed directories read
    back WITHOUT the partition column. Provided for byte-compatible
    migration of reference pipelines that hand the renamed layout to
    non-Spark consumers. Returns the (old, new) path pairs moved."""
    import shutil

    moved: list[tuple[str, str]] = []
    prefix = partition_column_name + "="
    for dir_name in sorted(os.listdir(base_dir)):
        if dir_name.startswith(prefix):
            old_path = os.path.join(base_dir, dir_name)
            new_path = os.path.join(
                base_dir, dir_name.split("=", 1)[1]
            )
            shutil.move(old_path, new_path)
            moved.append((old_path, new_path))
    return moved
