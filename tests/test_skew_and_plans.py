"""Skew utilities + physical-plan regression guards.

The plan assertions pin the performance-critical properties the engine
relies on at scale: filters reaching the parquet scan, dimension joins
broadcasting, partial aggregation before shuffles. They read the plan
string — cheap, deterministic, no data needed beyond the scan."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from setu_spark.operators.skew import salted_aggregate, salted_join
from setu_spark.plans import (
    broadcast_join_count,
    has_partial_aggregate,
    plan_string,
    pushed_filters,
    scan_schemas,
    shuffle_count,
)
from tests.conftest import SF_ORACLE

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


# ------------------------------------------------------------------ skew

def test_salted_aggregate_matches_plain(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    got = {
        r.k: (r.sum_v, r.count_v, r.max_v)
        for r in salted_aggregate(
            df,
            ["k"],
            {
                "sum_v": F.sum("v"),
                "count_v": F.count("v"),
                "max_v": F.max("v"),
            },
            buckets=8,
        ).collect()
    }
    want = {
        r.k: (r.sum_v, r.count_v, r.max_v)
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("sum_v"),
            F.count("v").alias("count_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    }
    assert got == want


def test_salted_join_matches_plain(spark):
    big = spark.range(0, 5000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(5)], ["k", "name"]
    )
    got = salted_join(big, small, ["k"], buckets=4).groupBy("name").count()
    want = big.join(small, "k").groupBy("name").count()
    assert {(r.name, r["count"]) for r in got.collect()} == {
        (r.name, r["count"]) for r in want.collect()
    }


# ------------------------------------------------------------------ plans

def _q(spark, name: str):
    return QUERIES[name](spark, SF_ORACLE)


def test_q06_filters_pushed_to_scan(spark):
    # the shipdate/discount/quantity predicates must reach the scan,
    # not sit in a post-scan Filter only
    pushed = pushed_filters(_q(spark, "q06_forecast_revenue"))
    assert pushed
    assert any("GreaterThan" in f or "LessThan" in f for f in pushed), pushed


def test_q05_dims_broadcast(spark):
    # region/nation must never arrive via a shuffle join
    assert broadcast_join_count(_q(spark, "q05_region_nation_revenue")) >= 3


def test_q01_partial_aggregation(spark):
    # partial_ aggregate functions before the exchange = map-side combine
    assert has_partial_aggregate(_q(spark, "q01_pricing_summary"))


def test_q30_no_shuffle(spark):
    # per-row profile: narrow pipeline only
    assert shuffle_count(_q(spark, "q30_doc_word_stats")) == 0


def test_q36_no_shuffle(spark):
    # fingerprints are per-row too (Arrow UDF) — must stay shuffle-free
    assert shuffle_count(_q(spark, "q36_rolling_fingerprints")) == 0


def test_q54_simhash_no_shuffle(spark):
    # q54 is registered on the narrow per-row simhash_column form: the
    # explode-tokens×bits composition it replaced shuffled 32× the token
    # count through two groupBys — this guard keeps it per-row. The ONE
    # allowed shuffle is the round-13 input rebalance (a round-robin
    # repartition that spreads the single-row-group scan across cores;
    # no-op at scale), never a hash/groupBy exchange.
    df = _q(spark, "q54_simhash")
    assert shuffle_count(df) <= 1
    assert "hashpartitioning" not in plan_string(df)


def test_q62_buckets_no_explode_join(spark):
    # q62 computes all 8 hyperplane projections as one matmul per Arrow
    # batch — the plan must contain no posexplode⋈planes shape: zero
    # shuffles, zero joins, no Generate (explode) operator
    df = _q(spark, "q62_ann_lsh_buckets")
    assert shuffle_count(df) == 0
    plan = plan_string(df)
    assert "Generate" not in plan, plan
    assert broadcast_join_count(df) == 0


def test_q51_scan_prunes_columns(spark):
    # signature scan must read only (doc_id, text), never lang/source
    schemas = scan_schemas(_q(spark, "q51_minhash_signatures"))
    assert schemas and all(
        "lang" not in s and "source" not in s for s in schemas
    ), schemas


# ------------------------------------------------------------------ bucketing

def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both sides of a recurring equi-join on the join key lets
    the sort-merge join read pre-partitioned data — zero Exchange in the
    plan. This is the 100 TB technique for fact⋈fact joins that repeat
    across a pipeline (bucket once at ingest, join shuffle-free forever)."""
    spark.conf.set(
        "spark.sql.sources.bucketing.enabled", "true"
    )
    orders = spark.range(0, 10_000).selectExpr(
        "id AS o_orderkey", "id % 100 AS o_custkey"
    )
    lineitem = spark.range(0, 30_000).selectExpr(
        "id % 10000 AS l_orderkey", "id AS l_qty"
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    try:
        for name, df, key in (
            ("bktest.b_orders", orders, "o_orderkey"),
            ("bktest.b_lineitem", lineitem, "l_orderkey"),
        ):
            df.write.bucketBy(8, key).sortBy(key).mode(
                "overwrite"
            ).saveAsTable(name)
        joined = (
            spark.table("bktest.b_orders")
            .join(
                spark.table("bktest.b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_custkey")
            .agg(F.sum("l_qty").alias("q"))
        )
        # the join itself must be exchange-free; only the final groupBy
        # (different key) may shuffle
        assert shuffle_count(joined) <= 1
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bktest.b_orders")
        spark.sql("DROP TABLE IF EXISTS bktest.b_lineitem")
        spark.sql("DROP DATABASE IF EXISTS bktest")


def test_q64_eval_grams_broadcast(spark):
    # decontamination joins train grams against the eval-gram set as a
    # map-side broadcast hash join — never a shuffled join on gram
    assert broadcast_join_count(_q(spark, "q64_decontamination")) >= 1


def test_q29_no_global_window(spark):
    # the distributed prefix sum must never funnel the corpus through a
    # single-partition global-sort window: every window spec in the plan
    # carries a partition key, and the offsets join is broadcast
    df = _q(spark, "q29_token_budget_sample")
    plan = plan_string(df, mode="extended")
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    # partition-by-nothing window specs start with the order expression
    # only; ours must lead with the pid partition key
    assert all("pid" in s for s in specs), specs
    assert broadcast_join_count(df) >= 1


def test_q99_gopher_battery_no_shuffle(spark):
    # the whole rule battery is one codegen projection over the scan
    assert shuffle_count(_q(spark, "q99_gopher_quality_rules")) == 0


def test_q101_media_chunks_no_shuffle_and_pruned(spark):
    # chunk spine: per-row sequence explode sized by metadata; no
    # exchange, and the scan never reads the lang/source columns the
    # media adapter doesn't touch
    df = _q(spark, "q101_media_chunk_windows")
    assert shuffle_count(df) == 0
    schemas = scan_schemas(df)
    assert schemas and all(
        "lang" not in s and "source" not in s for s in schemas
    ), schemas


def test_q97_pii_two_phase_distinct_agg(spark):
    # scan -> codegen regex projection -> partial agg; the two exchanges
    # are the countDistinct expansion ((segment, redacted) then
    # (segment)) — both carry pre-aggregated rows, never raw text
    df = _q(spark, "q97_pii_redaction")
    assert shuffle_count(df) == 2
    assert has_partial_aggregate(df)


def test_q98_split_single_exchange(spark):
    df = _q(spark, "q98_hash_split")
    assert shuffle_count(df) == 1
    assert has_partial_aggregate(df)


def test_q89_bloom_filter_precedes_verify_join(spark):
    # the bloom prefilter (a python UDF filter over gram keys) must sit
    # BELOW the exact verify join in the plan — prefilter then join,
    # never join then filter
    df = _q(spark, "q89_bloom_decontamination")
    plan = plan_string(df)
    assert broadcast_join_count(df) >= 1
    ijoin = plan.index("BroadcastHashJoin")
    # the arrow-eval of the bloom UDF appears in the join's input subtree
    # (later in the printed tree = deeper/below)
    ieval = max(
        plan.find("ArrowEvalPython"), plan.find("BatchEvalPython")
    )
    assert ieval > ijoin, plan[:2000]


def test_q102_tiers_no_global_window(spark):
    # distributed ranking: every window spec carries the pid partition
    # key (q29's invariant, generalized to row_number)
    import re

    df = _q(spark, "q102_quality_tiers")
    plan = plan_string(df, mode="extended")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    # q102 composes q88, whose word-frequency window partitions by word;
    # the ranking windows must carry pid — no spec may be partitionless
    assert all(("pid" in s) or ("word" in s) for s in specs), specs


def test_q105_overlap_distinct_before_selfjoin(spark):
    # the source-overlap self-join must run on the DISTINCT per-source
    # gram sets (bounded fan-out), never the raw exploded gram stream
    import re

    df = _q(spark, "q105_source_overlap")
    plan = plan_string(df)
    assert "Join" in plan
    # a distinct aggregate keyed (source, g) must exist (the gram-set
    # collapse both join inputs read)
    assert re.search(r"Keys \[2\]: \[source#\d+, g#\d+", plan), plan[:1500]


def test_q110_totals_broadcast_single_groupby_shuffle(spark):
    # the 1-row totals side must arrive broadcast (never a shuffle join);
    # the only exchanges are the per-source aggregate's
    df = _q(spark, "q110_source_mixture_weights")
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan[:1500]
    )
    assert "SortMergeJoin" not in plan


def test_q108_levenshtein_bounded(spark):
    # the verify stage must use the bounded 3-arg levenshtein (cost
    # O(len*K), not O(len^2)) — the unbounded form would silently
    # reappear as levenshtein(a, b) with no threshold argument
    df = _q(spark, "q108_editdist_verify")
    plan = plan_string(df, mode="extended")
    import re

    calls = re.findall(r"levenshtein\([^)]*\)", plan)
    assert calls, plan[:1500]
    assert all(c.count(",") == 2 for c in calls), calls


def test_q111_span_removal_no_cartesian(spark):
    # every join in the span-removal pipeline is equi-keyed (fp, doc_id);
    # a cartesian/nested-loop shape would mean the dedup went pairwise
    df = _q(spark, "q111_shared_span_removal")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q112_mixture_broadcast_only(spark):
    # both scalar attaches (total tokens, q-normalizer) must broadcast
    df = _q(spark, "q112_temperature_mixture")
    plan = plan_string(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q115_sketch_gate_no_sort_broadcast_thresholds(spark):
    # the 100 TB quality gate: per-lang sketch thresholds broadcast back,
    # the gate rides the corpus scan — NO sort anywhere in the plan
    # (q109's exact twin pays a per-language sort window; this must not),
    # no sort-merge join, no window
    df = _q(spark, "q115_quality_sketch_gate")
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "Sort " not in plan and "Sort\n" not in plan, plan[:1500]


def test_q116_sentence_explode_no_shuffle(spark):
    # scan -> split -> posexplode -> per-row flags: one codegen stage,
    # zero exchanges at any corpus size
    assert shuffle_count(_q(spark, "q116_sentence_explode")) == 0


def test_q121_candidate_set_broadcasts(spark):
    # the bounded candidate set joins back broadcast (2K rows); the only
    # sort-merge anywhere would mean the exact side's global sort leaked
    # into the join path
    df = _q(spark, "q121_heavy_hitters")
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan


def test_q124_dsir_single_explode_three_shuffles(spark):
    # one fused unigram+bigram explode (the corpus read twice = a union
    # diamond; the totals side is a narrow scan), bucket distributions as
    # windows over the fb rows, one-row totals broadcast — 3 shuffles,
    # 2 scans, no corpus re-execution
    # round 13: +2 counted exchanges from the input rebalance (the
    # repartition subtree appears under both branches of the union
    # diamond pre-ReuseExchange; at execution it is one exchange,
    # reused) — the aggregation/window shuffle budget is unchanged
    df = _q(spark, "q124_dsir_importance")
    assert shuffle_count(df) <= 5
    assert len(scan_schemas(df)) <= 2
    assert "BroadcastNestedLoopJoin" in plan_string(df)  # one-row totals


def test_q125_audit_rollup_adds_no_wide_join(spark):
    # round-14: n_chars rides the funnel's carry (the k-shuffle)
    # instead of a separate narrow scan + doc_id join-back — the audit
    # adds NO scan beyond the funnel's own (3 doc scans total: doc2rep
    # broadcast side, reps aggregate, short-docs union arm), and still
    # no cartesian
    df = _q(spark, "q125_dedup_impact_audit")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    schemas = scan_schemas(df)
    assert len(schemas) <= 3, schemas
    assert all("n_chars" in s or "text" in s for s in schemas), schemas


def test_q126_margin_mining_candidate_sized_shuffles(spark):
    # the corpus-side pass is one mapInPandas (Y rides in the closure);
    # every shuffle downstream is over candidate rows, the |Y|-row kNN
    # table attaches broadcast, and nothing is cartesian
    df = _q(spark, "q126_margin_pair_mining")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert shuffle_count(df) <= 3


def test_rebalance_split_size_tracks_session_conf(spark):
    # round-14 (round-13 VERDICT item 4): the rebalance predicate reads
    # spark.sql.files.maxPartitionBytes from the SESSION instead of a
    # hardcoded 128 MiB — a deployment that raises the split size (e.g.
    # cluster_conf's 256 MB) must not rebalance inputs that split fine.
    from setu_spark.sources import io

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        for raw, want in [
            ("256m", 256 * 1024 * 1024),
            ("1g", 1 << 30),
            (str(64 * 1024 * 1024), 64 * 1024 * 1024),
            ("134217728b", 128 * 1024 * 1024),
        ]:
            spark.conf.set(key, raw)
            assert io._session_split_bytes(spark) == want, raw
        # and the predicate itself flips with the conf
        spark.conf.set(key, "1k")
        df = spark.range(10)
        target = spark.sparkContext.defaultParallelism
        assert io.rebalance_small_scan(df, input_bytes=target * 1024) is df
        assert (
            io.rebalance_small_scan(df, input_bytes=target * 1024 - 1)
            is not df
        )
    finally:
        spark.conf.set(key, old)


def test_rebalance_decisions_are_logged(spark, caplog):
    """Every rebalance_small_scan call logs one setu_spark.dispatch
    record with the inputs of its choice and the choice."""
    from setu_spark.sources import io

    caplog.set_level(logging.INFO, logger="setu_spark.dispatch")
    df = spark.range(10)
    target = spark.sparkContext.defaultParallelism
    split = io._session_split_bytes(spark)
    io.rebalance_small_scan(df, input_bytes=target * split)
    io.rebalance_small_scan(df, input_bytes=1)
    io.rebalance_small_scan(df.repartition(target + 1))
    recs = [
        r for r in caplog.records
        if r.name == "setu_spark.dispatch" and hasattr(r, "rebalance")
    ]
    assert [(r.input_bytes, r.scan_partitions, r.rebalance) for r in recs] == [
        (target * split, None, False),
        (1, None, True),
        (None, target + 1, False),
    ]
    assert all(
        (r.split_bytes, r.parallelism) == (split, target) for r in recs
    )


def test_q127_classifier_single_pass_kernel_no_join(spark):
    # round-14: the whole per-doc aggregate is ONE mapInPandas pass
    # (weights in the Python closure — the 4096-element F.lit array
    # cost 2.5-3.3s of element-wise py4j driver time per construction;
    # the explode->two-aggregate shape cost two corpus shuffles). The
    # only exchange left is the input-parallelism round-robin; no
    # hash-partitioned shuffle, no join.
    df = _q(spark, "q127_classifier_quality_filter")
    plan = plan_string(df)
    assert shuffle_count(df) <= 1  # the load_table_parallel rebalance
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_q128_kl_two_scans_bounded_windows(spark):
    # one explode feeding the (source, bucket) aggregate, corpus total
    # off a NARROW second scan broadcast as one row; both windows
    # partition by a real key (no single-partition window over the agg)
    df = _q(spark, "q128_source_kl_divergence")
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan  # one-row totals attach
    assert len(scan_schemas(df)) <= 2
    assert "partitionBy=[]" not in plan  # no empty-partition window


def test_q129_chunking_no_shuffle(spark):
    # closed-form chunk count + sequence() explode: the whole chunker
    # rides the scan stage
    assert shuffle_count(_q(spark, "q129_sequence_chunking")) == 0


def test_q130_bpe_pair_agg_over_vocab_not_corpus(spark):
    # word-frequency aggregate first (vocabulary-bounded), pair fan-out
    # over THAT table, pair aggregate, TakeOrdered cut; the rank window
    # runs over the top-K rows only — every aggregate map-combines
    df = _q(spark, "q130_bpe_merge_candidates")
    assert has_partial_aggregate(df)
    assert "CartesianProduct" not in plan_string(df)
    assert shuffle_count(df) <= 4


def test_q132_coverage_distributed_prefix_sum(spark):
    # round-9 shape: word counts aggregate first (map-combined), then
    # the q29 distributed prefix sum — range-partitioned,
    # PARTITION-LOCAL rank/cumsum windows (never an unpartitioned
    # window over the vocabulary), per-partition offsets rejoined by
    # broadcast hash join on pid
    from setu_spark.plans.inspect import unpartitioned_corpus_windows

    df = _q(spark, "q132_vocab_coverage")
    plan = plan_string(df)
    assert has_partial_aggregate(df)
    assert unpartitioned_corpus_windows(df) == []
    assert "partitionBy=[]" not in plan
    assert "BroadcastHashJoin" in plan  # pid-keyed offsets attach


def test_q133_precision_audit_no_cartesian_single_row(spark):
    # the candidate funnel is q58's bounded band join; the audit adds
    # doc_id-keyed signature joins and collapses to one row — nothing
    # cartesian, partial aggregation before the final exchange
    df = _q(spark, "q133_lsh_precision_audit")
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_q123_skewed_megacluster_guard(spark):
    """SemDeDup's named 100 TB failure mode: one k-means cluster holds
    ~half the corpus, so the within-cluster pairwise join concentrates
    |mega|² candidate pairs on one join key. Guard both halves of the
    mitigation story: (a) correctness is unaffected by the skew — the
    mega cluster still keeps exactly its lowest id; (b) the pairwise
    stage compiles to a SHUFFLE join (SortMergeJoin once the broadcast
    shortcut is off) — the shape AQE skew-join can split at runtime —
    under a session that has skew-join enabled. PERF.md carries the
    measured skewed-fixture sweep row."""
    from setu_spark.operators.similarity import semantic_dedup

    dim = 8
    rows = []
    for vid in range(104):
        if vid < 4:
            g = vid  # ids 0-3 seed one vector per direction (k-means init)
        elif vid < 64:
            g = 0  # the mega cluster: 61 of 104 vectors
        else:
            g = 1 + (vid % 3)
        base = [0.0] * dim
        base[g] = 1.0
        base[(g + 4) % dim] = 0.02 * ((vid % 5) - 2)
        rows.append((vid, g, base))
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )

    out = semantic_dedup(df, k=4, iters=2, tau=0.9).collect()
    assert len(out) == 104
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    sizes = sorted(len(v) for v in by_cluster.values())
    assert sizes[-1] >= 50, sizes  # the planted skew actually exists
    for members in by_cluster.values():
        survivors = sorted(r.vec_id for r in members if not r.sem_removed)
        assert survivors == [min(r.vec_id for r in members)]

    # (b) plan shape: with the broadcast shortcut off (both sides large
    # at production scale) the pairwise stage must be a sort-merge join
    # — the only form AQE skew-join knows how to split — and the session
    # must actually have the splitter on.
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_string(semantic_dedup(df, k=4, iters=2, tau=0.9))
        assert "SortMergeJoin" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q145_correlation_single_aggregate_no_join(spark):
    # per-row integer signals reduced in ONE map-combined groupBy(lang);
    # Pearson r is closed-form over the exact moments per group — no
    # second pass, no join, no window
    df = _q(spark, "q145_quality_signal_correlation")
    assert shuffle_count(df) == 1
    assert has_partial_aggregate(df)
    plan = plan_string(df)
    assert "Join" not in plan
    assert "Window" not in plan


def test_q146_novelty_shuffles_bounded(spark):
    # shingle-df aggregate + df join-back + per-doc re-agg + histogram:
    # the only exchanges are on (sh) and (doc_id) — no cartesian, no
    # corpus-wide window
    df = _q(spark, "q146_ngram_novelty")
    plan = plan_string(df)
    assert shuffle_count(df) <= 5, shuffle_count(df)
    assert "Cartesian" not in plan
    assert "partitionBy=[]" not in plan


def test_q147_ablation_single_scan_single_shuffle(spark):
    # pair fan-out happens INSIDE the row (nested HOF over the <=4-rule
    # failed list) — one scan, one map-combined groupBy, no join/union
    # of a second scan
    df = _q(spark, "q147_quality_rule_ablation")
    assert len(scan_schemas(df)) == 1
    assert shuffle_count(df) == 1
    assert has_partial_aggregate(df)
    assert "Join" not in plan_string(df)
