"""DocClean stage — Spark-native rebuild of the reference's cleaning pass.

Reference semantics (clean_analysis.py, SURVEY.md §7 step 3), re-expressed
as a chunk-level DataFrame pipeline:

  doc → chunks (posexplode)                       [E1]
  → per-chunk predicates, all native expressions:
      symbol-heavy        (U15, filters.py:19-96)
      numbers/punct-only  (U16, filters.py:98-188)
      terminal-invalid    (U17, filters.py:237-248)
      too-short           (chunk_length_filter, clean_analysis.py:259)
  → repeated-chunk removal: keep chunks whose (group_key, chunk) count == 1
      (A5 + J3; reference does groupBy+filter+inner-join,
       clean_analysis.py:243-251 — here a single window count, no join)
  → lines2doc reassembly  (E3: array_sort(collect_list(struct)) +
      array_join; left join back so fully-cleaned docs keep NULL text [J4])

Every filter is config-gated like the reference's flags (§1.4). The
rejected rows are returned as a second DataFrame (the reference wrote them
via a pyarrow side-writer inside mapPartitions, S8 — an anti-pattern at
scale). Nothing caches the chunk table: the kept and the rejected
DataFrame each recompute the chunking and the chunk predicates, so a
caller writing both pays that narrow pass twice.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from setu_spark.functions.text import (
    is_num_or_punc_only,
    remove_code,
    symbol_ratio,
    terminal_valid,
)


@dataclass(frozen=True)
class CleanConfig:
    """Cleaning thresholds/toggles (reference config surface, SURVEY §1.4)."""

    chunk_sep: str = "\n"
    remove_code: bool = True      # U13/U14 (clean_analysis.py:195, 472)
    remove_symbol_heavy: bool = True
    symbol_threshold: float = 0.5
    remove_only_num_or_punc_chunks: bool = True
    remove_terminal_invalid: bool = False
    chunk_length_filter: bool = True
    min_chunk_words: int = 1
    repeated_chunk_filter: bool = True
    repeat_key: str = "url"  # reference repeats are keyed (url, chunk) [J3]
    #: reference U18 quirk (utilities.py:124-127): a chunk starting with
    #: two spaces loses exactly one on reassembly. Off by default — the
    #: intended semantics join chunks verbatim; flag exists for byte-exact
    #: parity with reference outputs.
    double_space_trim_quirk: bool = False


def doc2chunks(df: DataFrame, cfg: CleanConfig, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """E1: split + posexplode, keeping the ordinal for reassembly."""
    return df.select(
        "*",
        F.posexplode(F.split(F.col(text_col), cfg.chunk_sep, -1)).alias(
            "pos", "chunk"
        ),
    ).drop(text_col)


def chunk_predicates(df: DataFrame, cfg: CleanConfig) -> DataFrame:
    """Attach per-chunk quality columns (all JVM expressions)."""
    c = F.col("chunk")
    out = df.withColumn("symbol_ratio", symbol_ratio(c))
    out = out.withColumn(
        # reference U16 exact semantics (round-8 fix): isnumeric OR
        # non-letter fraction >= 0.4 — see functions/text.py
        "is_num_or_punc_only",
        is_num_or_punc_only(c),
    )
    out = out.withColumn("is_terminal_valid", terminal_valid(c))
    out = out.withColumn(
        "chunk_words", F.size(F.split(c, " ", -1))
    )
    return out


def apply_chunk_filters(chunks: DataFrame, cfg: CleanConfig) -> tuple[DataFrame, DataFrame]:
    """Split chunks into (kept, rejected-with-reason)."""
    reason = F.lit(None).cast("string")
    if cfg.remove_symbol_heavy:
        reason = F.when(
            F.col("symbol_ratio") >= cfg.symbol_threshold, "symbol_heavy"
        ).otherwise(reason)
    if cfg.remove_only_num_or_punc_chunks:
        reason = F.coalesce(
            reason,
            F.when(F.col("is_num_or_punc_only"), "num_or_punc_only"),
        )
    if cfg.remove_terminal_invalid:
        reason = F.coalesce(
            reason, F.when(~F.col("is_terminal_valid"), "terminal_invalid")
        )
    if cfg.chunk_length_filter:
        reason = F.coalesce(
            reason,
            F.when(
                F.col("chunk_words") < cfg.min_chunk_words, "too_short"
            ),
        )
    flagged = chunks.withColumn("reject_reason", reason)
    kept = flagged.filter(F.col("reject_reason").isNull())
    rejected = flagged.filter(F.col("reject_reason").isNotNull())
    if cfg.repeated_chunk_filter:
        # Reference: groupBy(url, chunk) HAVING count == 1 then inner join
        # back (clean_analysis.py:243-251). A window count over the same key
        # gives identical semantics with one shuffle and no join.
        w = Window.partitionBy(cfg.repeat_key, "chunk")
        kept = (
            kept.withColumn("_rep", F.count("*").over(w))
            .filter(F.col("_rep") == 1)
            .drop("_rep")
        )
    return kept, rejected


def chunks2doc(kept: DataFrame, cfg: CleanConfig, id_col: str = "doc_id") -> DataFrame:
    """E3 lines2doc: deterministic reassembly (sort by pos inside the
    collected array — never input order)."""
    if cfg.double_space_trim_quirk:
        # U18 (reference utilities.py:124-127): strip ONE leading space
        # iff the chunk starts with two, before reassembly
        kept = kept.withColumn(
            "chunk",
            F.when(
                F.col("chunk").startswith("  "),
                F.expr("substring(chunk, 2)"),
            ).otherwise(F.col("chunk")),
        )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s.chunk,
            ),
            cfg.chunk_sep,
        ).alias("text"),
        F.count("*").alias("kept_chunks"),
    )


def clean_documents(
    docs: DataFrame, cfg: CleanConfig | None = None, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Full DocClean: returns (cleaned_docs, rejected_chunks).

    Docs whose every chunk was rejected keep a NULL text via the left join
    (reference J4 semantics, clean_analysis.py:276-279)."""
    cfg = cfg or CleanConfig()
    if cfg.remove_code:
        # code blocks go first, before chunking, as in the reference's
        # stage order (clean_analysis.py:195-198)
        docs = docs.withColumn("text", remove_code(F.col("text")))
    chunks = chunk_predicates(doc2chunks(docs, cfg, id_col), cfg)
    kept, rejected = apply_chunk_filters(chunks, cfg)
    reassembled = chunks2doc(kept, cfg, id_col)
    cleaned = docs.drop("text").join(reassembled, id_col, "left")
    return cleaned, rejected
