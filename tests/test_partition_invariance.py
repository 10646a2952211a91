"""Shuffle-width invariance — the distributed-correctness property.

On a 1000-executor cluster the only thing that changes vs local[32] is
HOW MANY partitions every exchange produces and which rows co-reside.
Any operator whose result depends on partition count or intra-partition
order (a prefix sum that forgot its global offset pass, a packing
recurrence leaking partition boundaries, an iterative fixpoint reading
unordered state) is wrong at scale even if its oracle row matches on
one fixed layout. This suite re-runs the order/partition-sensitive
queries under a deliberately hostile shuffle width (3 — uneven, far
from the default 8/32) and requires value-identical results.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE
from tests.oracle_utils import canonicalize

#: The queries whose implementations carry explicit cross-partition
#: machinery (global prefix offsets, partition-local packing, iterative
#: label propagation, winnowed-span reassembly, k-means batch partials)
#: — exactly the ones a partition-layout bug would corrupt silently.
SENSITIVE = [
    "q29_token_budget_sample",
    "q36_rolling_fingerprints",
    "q56_dedup_components",
    "q85_kmeans_clusters",
    "q94_sequence_packing",
    "q111_shared_span_removal",
    # round 6: the cogroup per-cell top-k kernel (cell contents must be
    # the ONLY input — a batch/partition-boundary leak would corrupt
    # the candidate set) and the BPE merge kernel (its word table
    # arrives in whatever row order the word-count shuffle leaves,
    # which must not change the adopted pairs)
    "q138_margin_pair_mining_ann",
    "q139_bpe_merge_iterations",
    # round 6 session 2: the CC-funnel split (iterative label
    # propagation again, now feeding a hash reassignment) and the
    # exact-moment correlation, whose whole design claim is that the
    # result is partition-layout-independent (unlike corr()'s
    # streaming covariance)
    "q144_leak_free_split",
    "q145_quality_signal_correlation",
    # round 7: the trained-codebook queries (Lloyd batch partials feed
    # the codebook both engines share) and the one-exchange novelty
    # rewrite (df=1 owner via min(doc_id) inside the df groupBy)
    "q63_ann_ivf_topk",
    "q146_ngram_novelty",
    # round 8: the joint-agreement audit (full-outer pair union + LSH
    # candidate generation on both tiers; at dup-dense densities the
    # collapsed combinatorial branch runs instead — the dispatcher's
    # chooser count must not flip, and the class enumeration must be
    # layout-free) and the ANN admission gate (distinct-vector collapse
    # + banded probe + per-vector keyed agg)
    "q151_joint_dedup_agreement",
    "q152_ann_admission",
    # round 9: the vocabulary-coverage prefix sum (range-partitioned
    # rank/cumsum with per-partition offsets — THE shape this suite
    # exists for) and the rebuilt heavy-hitters exact leg (distributed
    # top-k + predecessor-count rank join must not depend on which
    # partition merged the k survivors)
    "q132_vocab_coverage",
    "q121_heavy_hitters",
]


@pytest.mark.parametrize("name", SENSITIVE)
def test_shuffle_width_invariance(name, spark):
    qs = entrymod.queries()
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        base = canonicalize(qs[name](spark, SF_ORACLE).toPandas())
        spark.conf.set(key, "3")
        narrow = canonicalize(qs[name](spark, SF_ORACLE).toPandas())
    finally:
        spark.conf.set(key, prev)
    assert base.equals(narrow), (
        f"{name}: result depends on shuffle partition count "
        f"(rows {len(base)} vs {len(narrow)})"
    )


#: AQE rewrites physical plans at runtime (coalesce, skew split, join
#: strategy switch) — none of which may change RESULTS. Representative
#: set: broadcast-join analytics, window, iterative, sampler, LSH join.
AQE_SET = [
    "q05_region_nation_revenue",
    "q16_top3_orders_per_customer",
    "q29_token_budget_sample",
    "q52_minhash_lsh_pairs",
    "q94_sequence_packing",
    # round-5 session-3 additions: broadcast weight join, window-over-
    # aggregate KL, TakeOrdered pair cut
    "q127_classifier_quality_filter",
    "q128_source_kl_divergence",
    "q130_bpe_merge_candidates",
    # connected components: with AQE on, the edge shuffle coalesces to
    # one forest partition and the kernel's roots are final; with it
    # off, the forest keeps every shuffle partition and the distributed
    # loop finishes it
    "q56_dedup_components",
    "q144_leak_free_split",
]


@pytest.mark.parametrize("name", AQE_SET)
def test_aqe_off_invariance(name, spark):
    qs = entrymod.queries()
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    try:
        on = canonicalize(qs[name](spark, SF_ORACLE).toPandas())
        spark.conf.set(key, "false")
        off = canonicalize(qs[name](spark, SF_ORACLE).toPandas())
    finally:
        spark.conf.set(key, prev)
    assert on.equals(off), f"{name}: result changed when AQE disabled"


@pytest.mark.parametrize(
    "name",
    [
        "q29_token_budget_sample",
        "q102_quality_tiers",
        "q132_vocab_coverage",
    ],
)
def test_running_sum_invariant_to_range_partition_count(name, spark):
    """The distributed running sum's OTHER layout knob: the number of
    range partitions (skew.PREFIX_PARTS) decides where the order splits
    and how many offset rows the driver lifts — every user of
    global_running_sums must be bit-identical at 1 (degenerate:
    everything in one partition), a hostile 3, and 64 (more partitions
    than some ranges have rows)."""
    import setu_spark.operators.skew as skew

    qs = entrymod.queries()
    prev = skew.PREFIX_PARTS
    try:
        results = []
        for parts in (1, 3, 64):
            skew.PREFIX_PARTS = parts
            spark.catalog.clearCache()
            results.append(
                canonicalize(qs[name](spark, SF_ORACLE).toPandas())
            )
    finally:
        skew.PREFIX_PARTS = prev
        spark.catalog.clearCache()
    assert len(results[0]), f"{name}: empty result proves nothing"
    assert results[0].equals(results[1]), "parts=1 vs parts=3 differ"
    assert results[0].equals(results[2]), "parts=1 vs parts=64 differ"
