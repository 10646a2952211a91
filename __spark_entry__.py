"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All queries live in ``setu_spark`` modules and self-register into
``setu_spark.registry``; importing the modules below populates the maps.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Importing these modules registers their queries/oracles.
#
# ORDER MATTERS: the driver's correctness harness checks roughly the first
# 50 registrations.  Round 2 proved the analytics/textstats families
# (CORRECTNESS_r02.json, 49/49 green); this round rotates the previously
# unchecked families (joins, stages, multimodal, events, similarity) and the
# queries changed this round (dedup q53/q54/q59, wordlists) to the front so
# they land inside the driver's window.
import setu_spark.operators.curation  # noqa: F401, E402
import setu_spark.operators.sketches  # noqa: F401, E402
import setu_spark.operators.privacy  # noqa: F401, E402
import setu_spark.operators.quality  # noqa: F401, E402
import setu_spark.operators.joins  # noqa: F401, E402
import setu_spark.stages.queries  # noqa: F401, E402
import setu_spark.operators.multimodal  # noqa: F401, E402
import setu_spark.operators.events  # noqa: F401, E402
import setu_spark.operators.similarity  # noqa: F401, E402
import setu_spark.operators.dedup  # noqa: F401, E402
import setu_spark.operators.wordlists  # noqa: F401, E402
import setu_spark.operators.textstats  # noqa: F401, E402
import setu_spark.analytics.queries  # noqa: F401, E402
import setu_spark.sources.roundtrips  # noqa: F401, E402

from setu_spark.registry import ORACLES, QUERIES  # noqa: E402

SF0001 = "/root/testdata/sf0.001"

#: The driver's correctness harness checks roughly the FIRST 50
#: entries of the returned maps, so this list pins the window
#: explicitly (everything else follows in registration order).
#: ROUND 15 window: the committed ROTATION.md round-15 block — the
#: queries the round-14 window left out, ceiling-bound ones first, with
#: the round-14 changes that overflowed that window (q125, q139-q141,
#: q144) among them.
_FRONT = (
    "q100_dataset_card",
    "q101_media_chunk_windows",
    "q108_editdist_verify",
    "q110_source_mixture_weights",
    "q125_dedup_impact_audit",
    "q137_props_schema_parse",
    "q138_margin_pair_mining_ann",
    "q139_bpe_merge_iterations",
    "q140_margin_ann_recall_audit",
    "q141_bpe_compression_curve",
    "q142_embedding_quant_audit",
    "q18_order_price_bands",
    "q21_price_percentiles",
    "q22_part_name_drift",
    "q23_monthly_seasonality",
    "q26_conditional_aggregates",
    "q29_token_budget_sample",
    "q34_doc_fingerprint",
    "q37_fingerprint_containment",
    "q38_representative_doc_per_group",
    "q39_tfidf_top_terms",
    "q40_reassembly_roundtrip",
    "q42_word_ngram_repetition",
    "q43_script_detection",
    "q44_flagged_word_counts",
    "q48_repetition_flag_filter",
    "q49_wordlist_flagged_counts",
    "q51_minhash_signatures",
    "q53_token_jaccard_pairs",
    "q54_simhash",
    "q58_lsh_then_exact_jaccard",
    "q59_dedup_removed_docs",
    "q60_cosine_topk",
    "q61_label_centroids",
    "q62_ann_lsh_buckets",
    "q64_decontamination",
    "q65_keyword_phrase_hits",
    "q66_flashtext_keyword_dist",
    "q67_normalize_indic",
    "q69_junk_document_flags",
    "q81_flag_filter_survivors",
    "q82_lid_predictions",
    "q86_weighted_sample",
    "q87_lang_balanced_sample",
    "q90_media_decode_stats",
    "q91_video_frame_offsets",
    "q92_media_bytes_by_kind",
    "q94_sequence_packing",
    "q98_hash_split",
    "q144_leak_free_split",
)


def _window_ordered(m: dict) -> dict:
    # fail fast on a typo'd name: a silent drop would quietly rotate a
    # query out of the checked window (round-4 ADVICE)
    missing = set(_FRONT) - set(m)
    assert not missing, f"_FRONT names not in registry: {sorted(missing)}"
    out = {k: m[k] for k in _FRONT}
    out.update({k: v for k, v in m.items() if k not in out})
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the corpus line-stats pipeline (scan → explode → native
    line metrics → single-shuffle doc profile) on sf0.001 documents."""
    from setu_spark.operators.textstats import q30_doc_word_stats

    return q30_doc_word_stats(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _window_ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _window_ordered(ORACLES)
