"""SparkSession factory with scale-oriented defaults.

The reference pipeline tunes its sessions through spark-submit conf
(reference examples/commands.md:33-41): AQE on, Kryo, 512 shuffle
partitions, broadcast joins *disabled*. We keep AQE but deliberately
re-enable broadcast joins (SURVEY.md §4) — the dimension tables of both the
corpus pipeline (wordlists, language maps) and the analytics surface
(region/nation/supplier) are small and broadcasting them removes whole
shuffle stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """The local-mode JVM heap when ``$SPARK_GRAFT_DRIVER_MEM`` is unset:
    min(32g, ⅔ of physical memory), in megabytes. ``phys_bytes``
    defaults to this machine's physical memory (``os.sysconf``). A
    heap ceiling above physical memory lets the JVM grow until the OS
    kills it; the remaining third is for the Python workers and the
    page cache."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32 << 10, phys_bytes * 2 // 3 >> 20))}m"


#: Conf applied to sessions we create ourselves (tests, bench, CLI).
#: Chosen for local[32] testing but sized so the same code runs unchanged on
#: a multi-executor cluster: AQE coalesces the 2×cores shuffle partitions at
#: small SF and splits skewed partitions at large SF.
DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    # coalescePartitions.parallelismFirst stays at Spark's default (true):
    # dedup.connected_components broadcasts its star forest when AQE
    # coalesced the edge shuffle to one partition, which this keeps to
    # the 1 MB minPartitionSize; with it false the bound becomes the
    # advisory size (64 MB by default, 256 MB in cluster_conf)
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dim tables (region/nation/supplier/wordlists) must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.compression.codec": "snappy",
    # local[32]: shuffle width ~= cores; AQE coalesces down when tiny.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.driver.maxResultSize": "4g",
    # local mode = ONE JVM for driver + all 32 worker threads. The PySpark
    # default heap (1g) makes every wide op GC-bound or OOM at ~100k docs;
    # size it like the executor fleet it stands in for, within the box's
    # memory. (Applied at JVM launch — only effective for the process's
    # first session, which is why it lives here in the factory and not in
    # per-query code.)
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", default_driver_memory()
    ),
    "spark.ui.enabled": "false",
    # Events testdata has shipped as both TIMESTAMP(NANOS) and
    # TIMESTAMP(MICROS) across generations. Spark 4 refuses to read the
    # NANOS form as a timestamp; with this conf it loads as int64 ns (a
    # no-op on µs-typed files), and load_events dispatches on the loaded
    # dtype either way — see operators/events.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def cluster_conf(
    target_partition_bytes: int = 256 * 1024 * 1024,
    max_executors: int = 1000,
) -> dict[str, str]:
    """The deploy-mode conf profile the README's 100 TB story implies —
    what changes when this engine leaves local[32] for a 1000-executor
    YARN/K8s cluster. Compose it over the
    factory defaults::

        spark = get_spark("setu-prod", master=None,
                          extra_conf=cluster_conf())

    DEFAULT_CONF already holds every conf that is CORRECTNESS-bearing
    (UTC session TZ, Arrow, nanosAsLong, Kryo) plus the AQE family —
    none of that changes on a cluster. This profile adds only the
    things local mode has no use for:

    * **Elasticity** — dynamic allocation with shuffle tracking (the
      K8s-native form; on YARN with an external shuffle service set
      ``spark.shuffle.service.enabled=true`` instead and drop the
      tracking key). A 100 TB scan wants the full fleet; the final
      small aggregates don't.
    * **Shuffle durability** — executor decommissioning migrates
      shuffle blocks before spot/preemption kills them, so a lost
      executor costs a fetch, not a stage retry.
    * **Partition sizing** — ``maxPartitionBytes`` at 256 MB (the
      parquet row-group multiple that keeps a 100 TB scan at ~400k
      tasks instead of 800k at the 128 MB default) and the matching
      AQE advisory size so post-shuffle partitions coalesce to the
      same grain. Row groups are written at 128 MB
      (``parquet.block.size``) so one scan task reads whole groups.
    * **Skew hardening** — explicit AQE skew thresholds: split any
      post-shuffle partition past 5× median AND 256 MB. The planted
      mega-cluster test (test_skew_and_plans.py) exercises the same
      mechanism locally.
    * **Result safety** — ``maxResultSize`` stays bounded (2 g): every
      registered collect is ≤ bounded by construction (MINE_Y_BOUND,
      PAIR_BUDGET, codebook rows); a cluster driver must not be sized
      as if that could regress.

    Values are strings (SparkConf contract). The function is pure —
    callers may override any key via ``extra_conf`` on top."""
    mb = 1024 * 1024
    return {
        # elasticity
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.dynamicAllocation.minExecutors": "2",
        "spark.dynamicAllocation.maxExecutors": str(max_executors),
        "spark.dynamicAllocation.executorAllocationRatio": "0.5",
        # shuffle durability under spot/preemption
        "spark.decommission.enabled": "true",
        "spark.storage.decommission.shuffleBlocks.enabled": "true",
        "spark.storage.decommission.rddBlocks.enabled": "true",
        # executor shape: 5 cores/executor is the classic HDFS-client
        # throughput sweet spot; heap sized so a 256 MB partition and
        # its hash tables fit with headroom (≈6 g/core)
        "spark.executor.cores": "5",
        "spark.executor.memory": "28g",
        "spark.executor.memoryOverhead": "4g",
        # scan + shuffle partition grain
        "spark.sql.files.maxPartitionBytes": str(target_partition_bytes),
        # (with parallelismFirst=false this also bounds the star forest
        # connected_components broadcasts; see DEFAULT_CONF)
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_bytes
        ),
        "spark.hadoop.parquet.block.size": str(128 * mb),
        # a 100 TB shuffle needs a real starting width; AQE coalesces
        # down from here, it never splits a too-coarse non-skewed map
        "spark.sql.shuffle.partitions": "4096",
        # skew hardening (AQE skewJoin is already on in DEFAULT_CONF)
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            str(256 * mb),
        # bounded driver: all registered collects are guard-bounded
        "spark.driver.memory": "16g",
        "spark.driver.maxResultSize": "2g",
        # speculative re-launch of stragglers (co-tenant clusters)
        "spark.speculation": "true",
        "spark.speculation.multiplier": "3",
    }


def ensure_sql_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a runtime SQL conf only if it differs — for sessions built by a
    foreign harness (the driver's correctness runner) that didn't go through
    :func:`get_spark`. No-op on our own sessions."""
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != value:
        spark.conf.set(key, value)


def get_spark(
    app_name: str = "setu-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    Master resolution: an explicit ``master`` argument wins, then
    ``$SPARK_GRAFT_MASTER``. With neither set, the local[N] fallback is
    applied ONLY when this process started its own JVM: under
    spark-submit the Python app attaches to an already-running gateway
    (``PYSPARK_GATEWAY_PORT`` in the environment) whose conf carries
    ``--master``, and calling ``.master()`` here would silently override
    the cluster manager the operator asked for, and the documented
    1000-executor deploy recipe
    (``get_spark(master=None, extra_conf=cluster_conf())``) would run
    local.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
