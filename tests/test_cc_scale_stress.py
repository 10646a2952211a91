"""Distributed CC one decade up.

The distributed loop has committed evidence at 1M edges / 200k
length-5 chains (3 rounds, PERF.md) and on a single diameter-9999
chain (14 rounds — the O(log d) regime; the 1-hop loop could never
finish inside any sane cap). This suite probes one decade up, where a
regression to O(diameter) rounds, or a large graph that never leaves
one forest partition, actually SHOWS:

  * 10M edges / 2M length-5 chains / 12M nodes — AQE must keep the
    edge shuffle at several forest partitions (so the per-partition
    kernels only contract the graph and the distributed loop finishes
    it), the round count must stay at the diameter-bound 3 (rounds
    scale with diameter, not edge volume), and the output must
    satisfy the exact component invariants (2M components, every size
    6, label = min node id) checked DISTRIBUTEDLY — no 12M-row collect.
  * a single diameter-20000 chain, at the session's 8 forest
    partitions — one doubling past the committed 9999-chain probe: the
    jump regime needs ~+1 round (≤16), while an O(diameter) regression
    needs 20000 rounds and trips the max_iterations raise long before.
  * the same chain with its ids permuted, the shape LSH chains have:
    pointer jumping alone gains nothing there (thousands of rounds);
    the loop's tree hooking keeps it at ≤16.

Marked slow: the graphs cost a few minutes together on 4 cores; the
suite runs under SETU_SLOW=1 only. Wall/rounds land in PERF.md.
"""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from tests.conftest import uncoalesced

pytestmark = pytest.mark.skipif(
    not os.environ.get("SETU_SLOW"),
    reason="decade-up CC stress is slow; set SETU_SLOW=1 to run",
)

N_EDGES = 10_000_000
CHAIN_LEN = 5  # edges per chain -> 6 nodes, diameter 5


def _chain_graph(spark, n_edges: int):
    """n_edges/CHAIN_LEN disjoint length-CHAIN_LEN chains: edge e of
    chain j = (6j+p, 6j+p+1). Odd edges are emitted REVERSED so the
    canonicalization path (least/greatest before distinct) does real
    work, mirroring LSH output that lists both orientations."""
    j = F.floor(F.col("id") / CHAIN_LEN)
    flip = F.col("id") % 2 == 0
    u = F.col("id") + j
    v = F.col("id") + j + 1
    return spark.range(n_edges).select(
        F.when(flip, u).otherwise(v).alias("id_a"),
        F.when(flip, v).otherwise(u).alias("id_b"),
    )


def test_ten_million_edge_chains(spark, cc_log):
    import setu_spark.operators.dedup as dd

    n_chains = N_EDGES // CHAIN_LEN
    pairs = _chain_graph(spark, N_EDGES)
    t0 = time.perf_counter()
    labels = dd.connected_components(pairs)
    # exact invariants, computed distributedly: component count, every
    # size = 6, and label = min member id (the survivor contract)
    stats = labels.groupBy("component").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo")
    )
    bad = stats.filter(
        (F.col("n") != CHAIN_LEN + 1) | (F.col("lo") != F.col("component"))
    ).count()
    n_comp = stats.count()
    n_nodes = labels.count()
    wall = time.perf_counter() - t0
    print(
        f"\n[cc-stress] 10M edges: {cc_log().partitions} forest "
        f"partitions, {cc_log().rounds} rounds, {wall:.1f}s, "
        f"{n_comp} components"
    )
    assert bad == 0
    assert n_comp == n_chains
    assert n_nodes == n_chains * (CHAIN_LEN + 1)
    # the distributed loop must have run, and the jump regime holds:
    # diameter-5 graphs converge in 3 rounds regardless of edge volume
    # — a 4th round at 10M edges means the kernel, the jump or the
    # convergence fold regressed
    assert cc_log().partitions > 1, cc_log().partitions
    assert cc_log().rounds == 3, cc_log().rounds


def test_diameter_twenty_thousand_chain(spark, cc_log):
    import setu_spark.operators.dedup as dd

    n = 20_000  # edges; diameter-20000 path, nodes 0..20000
    chain = spark.range(n).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    t0 = time.perf_counter()
    with uncoalesced(spark):
        labels = dd.connected_components(chain, max_iterations=25)
    one = labels.groupBy("component").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo")
    ).collect()
    wall = time.perf_counter() - t0
    print(
        f"\n[cc-stress] diameter-20000: {cc_log().rounds} rounds, "
        f"{wall:.1f}s"
    )
    assert len(one) == 1
    assert one[0].n == n + 1 and one[0].lo == 0 == one[0].component
    # one doubling past the committed diameter-9999 probe (14 rounds):
    # the O(log d) regime needs ~15; an O(d) regression needs 20000
    assert cc_log().partitions > 1, cc_log().partitions
    assert cc_log().rounds <= 16, cc_log().rounds


def test_permuted_chain_twenty_thousand(spark, cc_log):
    import numpy as np

    import setu_spark.operators.dedup as dd

    ids = np.random.default_rng(20_000).permutation(20_001).astype(int)
    chain = spark.createDataFrame(
        list(zip(ids[:-1].tolist(), ids[1:].tolist())), "id_a long, id_b long"
    )
    t0 = time.perf_counter()
    with uncoalesced(spark):
        labels = dd.connected_components(chain, max_iterations=25)
    one = labels.groupBy("component").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo")
    ).collect()
    wall = time.perf_counter() - t0
    print(
        f"\n[cc-stress] permuted 20,001-node chain: {cc_log().rounds} "
        f"rounds, {wall:.1f}s"
    )
    assert len(one) == 1
    assert one[0].n == 20_001 and one[0].lo == 0 == one[0].component
    assert cc_log().partitions > 1, cc_log().partitions
    assert cc_log().rounds <= 16, cc_log().rounds
