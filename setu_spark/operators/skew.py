"""Skew mitigation utilities.

The reference salts *every* stage unconditionally — random salt column →
`repartition(n, salt)` → drop, re-applied after every explode/join
(reference base.py:53-90, sized by an extra count() job per stage). With
AQE (`spark.sql.adaptive.skewJoin.enabled`, on in `session.py`) that
blanket treatment is obsolete: AQE splits skewed post-shuffle partitions
at runtime. These helpers cover the residual cases AQE can't fix:

  * **skewed aggregation** — one giant group key saturating a single
    reducer: two-phase salted aggregate (partial by (key, salt), final by
    key). Works for any algebraic aggregate.
  * **skewed join against a replicable right side** — explode the small
    side by the salt domain so each salted left row finds its match.
  * **global ordered window** — a running sum / row number ``OVER (ORDER
    BY ...)`` with no partition key runs in ONE task whatever AQE does;
    :func:`global_running_sums` computes it range-partitioned instead.

Both are opt-in per hot key-set, not blanket: salting costs an extra
shuffle and defeats partial aggregation when the data is NOT skewed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from setu_spark.caching import scoped_cache

#: Range partitions of :func:`global_running_sums` (and q94's packing
#: groups). The offsets collect is bounded at this many rows; at cluster
#: scale it is sized like shuffle parallelism (hundreds) and stays
#: metadata-sized either way.
PREFIX_PARTS = 16


def with_salt(df: DataFrame, buckets: int, col_name: str = "_salt") -> DataFrame:
    """Uniform int salt in [0, buckets) (reference base.py:65 shape —
    `(rand()*n).cast(int)` — but seeded via a hash of the row's id when
    determinism matters; rand() here since salting is load-balancing
    only)."""
    return df.withColumn(
        col_name, (F.rand() * buckets).cast("int")
    )


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregate for skewed group keys.

    Phase 1 groups by (keys, salt) — the hot key's rows spread over
    `buckets` reducers; phase 2 re-aggregates the per-salt partials by the
    real keys (tiny input: `buckets` rows per key). `aggs` maps output
    column name → phase-1 aggregate expression; phase 2 must recombine
    partials, so only algebraic aggregates are supported here: sum and
    count re-sum, min/max re-min/re-max.

    For avg, pass sum and count and divide after."""
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    salted = with_salt(df, buckets)
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[expr.alias(f"_p_{name}") for name, expr in aggs.items()]
    )
    phase2_aggs = []
    for name, expr in aggs.items():
        # recombination by the aggregate's prefix (sum_x, count_x, ...)
        fn = next(
            (f for p, f in recombine.items() if name.startswith(p)), F.sum
        )
        phase2_aggs.append(fn(f"_p_{name}").alias(name))
    return phase1.groupBy(*keys).agg(*phase2_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: salt the big side, explode the small side
    across the salt domain, join on (keys + salt). The small side is
    replicated `buckets`× — only sane when it is genuinely small (it
    usually also qualifies for a broadcast join, which beats this; use
    salted_join when the small side exceeds the broadcast threshold but a
    handful of big-side keys carry most rows)."""
    big_s = with_salt(big, buckets)
    small_s = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))),
    )
    out = big_s.join(small_s, [*on, "_salt"], how)
    return out.drop("_salt")


def global_running_sums(
    df: DataFrame,
    order: Sequence,
    sums: dict[str, Column],
    cache_key: str,
) -> tuple[DataFrame, dict[str, int]]:
    """Global running sums over ``df`` in ``order`` without a global
    window: ``sums`` maps each output column to the integer value it
    accumulates (a row number is the running sum of ``F.lit(1)``), with
    ``order`` a total order (ties broken) so the sums are deterministic.

    Range-partition on ``order``, run each sum as a partition-local
    window, collect the per-partition totals (at most
    :data:`PREFIX_PARTS` rows) into exclusive offsets and rejoin them by
    broadcast. Every stage is partition-parallel, and any range
    boundaries give the same result because the offsets correct for
    whatever boundaries were drawn. The local stage is cached under
    ``cache_key`` (:func:`scoped_cache`) so the totals pass and the
    output pass share one materialization and one boundary sample.

    Returns the frame (``df``'s columns plus one global running column
    per ``sums`` key) and the grand total of each sum as a Python int."""
    w = (
        Window.partitionBy("pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = scoped_cache(
        cache_key,
        df.repartitionByRange(PREFIX_PARTS, *order)
        .withColumn("pid", F.spark_partition_id())
        .select(
            "*",
            *[F.sum(v).over(w).alias(f"_run_{n}") for n, v in sums.items()],
        ),
    )
    parts = local.groupBy("pid").agg(
        *[F.sum(v).alias(n) for n, v in sums.items()]
    )
    # range partitions are key-ordered: ascending pid is ascending order
    offsets, running = [], dict.fromkeys(sums, 0)
    for row in sorted(parts.collect(), key=lambda r: r["pid"]):
        offsets.append((row["pid"], *running.values()))
        for n in sums:
            running[n] += row[n] or 0
    off = df.sparkSession.createDataFrame(
        offsets or [(0, *running.values())],
        "pid int, " + ", ".join(f"_off_{n} long" for n in sums),
    )
    out = local.join(F.broadcast(off), "pid").select(
        *df.columns,
        *[(F.col(f"_run_{n}") + F.col(f"_off_{n}")).alias(n) for n in sums],
    )
    return out, running
