"""Text-analysis operators over the ``documents`` table.

The Spark-native rebuild of the reference's analysis stage semantics
(SURVEY.md §3.2: doc → lines/tokens → per-unit metrics → single-shuffle doc
profile) plus the training-data-pipeline text ops (token counting, quality
scoring, language/script heuristics, fingerprinting).

Most operators are built-in-function compositions, so plans stay inside
whole-stage codegen and scale linearly with input bytes. The exceptions
are named where they run: the Arrow ``pandas_udf`` kernels (repetition
scores, fingerprints) and the BPE merge kernel behind q139/q141.
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from setu_spark.functions.hashes import hash64, hash64_sql
from setu_spark.functions.tokenize import trivial_tokenize_sql
from setu_spark.caching import scoped_cache
from setu_spark.operators.skew import global_running_sums
from setu_spark.registry import register
from setu_spark.sources.io import load_table, load_table_parallel

#: demo "flagged word" side-list (the reference ships per-language NSFW
#: wordlists, constants.py:17-98; the operator is wordlist-agnostic).
FLAGGED_WORDS = ("slow", "error", "big")

STOPWORDS = ("the", "a")


def tokens_col(text: str = "text") -> F.Column:
    """Python ``str.split(' ')`` quirk tokens (keeps empties, U2)."""
    return F.split(F.col(text), " ", -1)


def _round6(x: float) -> float:
    """Round-HALF-UP to 6 digits — what Spark's F.round and DuckDB's
    round() both do. Python's built-in round() is banker's (half-EVEN):
    round(0.2265625, 6) = 0.226562 vs 0.226563 in both engines — a real
    hash mismatch caught by the exact-equality oracle gate."""
    return math.floor(x * 1e6 + 0.5) / 1e6


#: explicit StructType, NOT a DDL string: string return types are parsed
#: through the active SparkSession at decoration (= import) time, and this
#: module must stay importable before any session exists (the driver
#: imports __spark_entry__ first).
_REP_SCHEMA = StructType(
    [
        StructField("total_ngrams", LongType()),
        StructField("repetition_score", DoubleType()),
    ]
)


@F.pandas_udf(_REP_SCHEMA)
def _char_rep_udf(texts: pd.Series) -> pd.DataFrame:
    """Char 5-gram repetition per doc (U10 semantics): counts stay inside
    the row; Arrow-batched so the Python hop is per-batch, not per-row."""
    import math
    from collections import Counter

    out_t, out_s = [], []
    for text in texts:
        if text is None or len(text) < 5:
            # no 5-grams: total 0, score None (the reference's None) —
            # lets callers evaluate the kernel on an unfiltered scan
            # and filter afterwards (the q48 zero-shuffle fusion)
            out_t.append(0)
            out_s.append(None)
            continue
        grams = Counter(text[i : i + 5] for i in range(len(text) - 4))
        total = sum(grams.values())
        top = sorted(grams.values(), reverse=True)[
            : int(math.sqrt(len(grams)))
        ]
        out_t.append(total)
        out_s.append(_round6(sum(top) / total))
    return pd.DataFrame({"total_ngrams": out_t, "repetition_score": out_s})


# deterministic kernel, but q48 filters on its output field — see the
# _word_rep_udf note below: without this, Catalyst duplicates the
# ArrowEvalPython across the pushed filter and the kernel runs twice
_char_rep_udf = _char_rep_udf.asNondeterministic()


@F.pandas_udf(_REP_SCHEMA)
def _word_rep_udf(texts: pd.Series, langs: pd.Series) -> pd.DataFrame:
    """Word 3-gram repetition per doc (U11 exact semantics, reference
    filters.py:574-602): tokens come from the native
    ``trivial_tokenize`` twin (functions/tokenize.py — the reference's
    IndicNLP tokenizer, punctuation severed into standalone tokens,
    ``ur`` dispatching to the urdu set), score = mass of 3-grams
    occurring ≥2 / total. Docs with <3 tokens (or NULL text) emit
    total 0 / NULL score — callers filter on total."""
    from collections import Counter

    from setu_spark.functions.tokenize import trivial_tokenize

    out_t, out_s = [], []
    for text, lang in zip(texts, langs):
        if text is None:
            out_t.append(0)
            out_s.append(None)
            continue
        t = trivial_tokenize(text, lang if lang else "hi")
        grams = Counter(
            (t[i], t[i + 1], t[i + 2]) for i in range(len(t) - 2)
        )
        total = sum(grams.values())
        rep = sum(c for c in grams.values() if c >= 2)
        out_t.append(total)
        out_s.append(_round6(rep / total) if total else None)
    return pd.DataFrame({"total_ngrams": out_t, "repetition_score": out_s})


# The kernel IS deterministic, but q42/q48 filter on one of its output
# fields — Catalyst's filter pushdown then DUPLICATES the Arrow UDF
# (one ArrowEvalPython below the filter, one above: 2× the kernel cost,
# measured 0.92s vs 0.46s at sf0.1). asNondeterministic() only disables
# that duplication; values are unchanged (oracle MATCH at sf0.01 and
# sf0.1).
_word_rep_udf = _word_rep_udf.asNondeterministic()


# ---------------------------------------------------------------- q30
@register(
    "q30_doc_word_stats",
    oracle="""
    SELECT doc_id, lang, source,
           len(string_split(text, ' ')) AS words_count,
           length(text) AS char_count,
           octet_length(CAST(text AS BLOB)) AS bytes,
           len(list_distinct(string_split(text, ' '))) AS distinct_words,
           round(
             list_sum(list_transform(string_split(text, ' '), w -> length(w)))
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 6
           ) AS mean_word_len
    FROM documents
    """,
)
def q30_doc_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship per-document profile — the rebuild of the reference's
    doc_stats (utilities.py:288-339) computed as pure per-row expressions
    (no explode, no shuffle at all: the reference's 6-agg-DF-join, SURVEY.md
    J2, collapses into array HOFs)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).alias("words_count"),
        F.length("text").alias("char_count"),
        F.octet_length("text").alias("bytes"),
        F.size(F.array_distinct(toks)).alias("distinct_words"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda w: F.length(w)),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            / F.size(toks).cast("double"),
            6,
        ).alias("mean_word_len"),
    )


# ---------------------------------------------------------------- q31
@register(
    "q31_word_freq_topk",
    oracle="""
    SELECT word, count(*) AS freq, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY freq DESC, word
    LIMIT 20
    """,
)
def q31_word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: explode → count + distinct-count → top-20.
    Map-side partial aggregation absorbs the token explosion before the
    shuffle; top-k is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(
            F.count("*").alias("freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(20)
    )


# ---------------------------------------------------------------- q32
@register(
    "q32_lang_profile",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def q32_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (the reference's per-language partitioned
    outputs, SURVEY.md S7, as an aggregate)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens_col())).alias("total_words"),
        F.sum(F.length("text")).alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


# ---------------------------------------------------------------- q33
@register(
    "q33_quality_flags",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS words_count,
           round(len(list_filter(string_split(text, ' '),
                                 w -> w IN {STOPWORDS}))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6)
             AS stopword_ratio,
           (len(string_split(text, ' ')) < 30) AS is_short,
           (len(list_filter(string_split(text, ' '),
                            w -> w IN {FLAGGED_WORDS})) >= 5)
             AS is_flagged_heavy
    FROM documents
    """,
)
def q33_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + conditional flags — rebuild of the reference's
    flagging semantics (SURVEY.md P9/P10, flagging_and_removal.py:154-229):
    ratio predicates over token-level counts, all per-row expressions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    stop_cnt = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    flag_cnt = F.size(F.filter(toks, lambda w: w.isin(*FLAGGED_WORDS)))
    return docs.select(
        "doc_id",
        F.size(toks).alias("words_count"),
        F.round(stop_cnt / F.size(toks).cast("double"), 6).alias(
            "stopword_ratio"
        ),
        (F.size(toks) < 30).alias("is_short"),
        (flag_cnt >= 5).alias("is_flagged_heavy"),
    )


# ---------------------------------------------------------------- q34
@register(
    "q34_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS fingerprint,
           {hash64_sql('text')} AS fp64,
           length(text) AS char_count
    FROM documents
    """,
)
def q34_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting (exact-dedup key; reference keys on an
    upstream hex doc_id hash, SURVEY.md §1.3 — here the hash is explicit
    and content-derived)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        hash64("text").alias("fp64"),
        F.length("text").alias("char_count"),
    )


# ---------------------------------------------------------------- q40
@register(
    "q40_reassembly_roundtrip",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    )
    SELECT doc_id,
           (string_agg(word, ' ' ORDER BY pos) = any_value(text))
             AS roundtrip_ok,
           count(*) AS n_tokens
    FROM toks
    GROUP BY doc_id
    """,
)
def q40_reassembly_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc2lines → lines2doc round trip (reference utilities.py:76-143,
    SURVEY.md E1/E3/A6/O1): posexplode with ordinal, then order-insensitive
    regroup via array_sort(collect_list(struct(pos, word))) — never relying
    on row order, which is not preserved across shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id", "text", F.posexplode(tokens_col()).alias("pos", "word")
    )
    return (
        lines.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s.word,
                ),
                " ",
            ).alias("reassembled"),
            F.first("text").alias("orig"),
            F.count("*").alias("n_tokens"),
        )
        .select(
            "doc_id",
            (F.col("reassembled") == F.col("orig")).alias("roundtrip_ok"),
            "n_tokens",
        )
    )


# ---------------------------------------------------------------- q41
@register(
    "q41_char_ngram_repetition",
    oracle="""
    WITH grams AS (
      SELECT doc_id, substr(text, i, 5) AS gram
      FROM documents,
           unnest(range(1, greatest(length(text) - 3, 1))) AS u(i)
    ),
    counts AS (
      SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram
    ),
    ranked AS (
      SELECT doc_id, cnt,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, gram) AS rn,
             count(*) OVER (PARTITION BY doc_id) AS n_distinct
      FROM counts
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS total_ngrams,
           round(sum(CASE WHEN rn <= floor(sqrt(n_distinct)) THEN cnt
                          ELSE 0 END)
                 / CAST(sum(cnt) AS DOUBLE), 6) AS repetition_score
    FROM ranked
    GROUP BY doc_id
    """,
)
def q41_char_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char 5-gram repetition score, intended semantics of reference U10
    (filters.py:545-572): score = (Σ counts of the top-⌊√distinct⌋ most
    frequent 5-grams) / total 5-grams. The reference's None-for-0.0 /
    missing-key defects (SURVEY.md §4.1) are NOT replicated.

    Shape: Arrow-batched pandas UDF scoring each doc per-row — n-gram
    counts never leave the document, so there is NO shuffle (the
    declarative alternative shuffles one row per gram ≈ 5× corpus bytes on
    (doc_id, gram); measured 2.2× slower at sf0.1 and catastrophically
    worse at 100 TB). This is the SURVEY §2.10 U10 pandas_udf
    recommendation."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.length("text") >= 5).select(
        "doc_id", _char_rep_udf("text").alias("r")
    ).select("doc_id", "r.*")


# ---------------------------------------------------------------- q42
@register(
    "q42_word_ngram_repetition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {trivial_tokenize_sql('text')} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
      FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
    ),
    counts AS (
      SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS total_ngrams,
           round(coalesce(sum(CASE WHEN cnt >= 2 THEN cnt END), 0)
                 / CAST(sum(cnt) AS DOUBLE), 6) AS repetition_score
    FROM counts
    GROUP BY doc_id
    """,
)
def q42_word_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram repetition score, reference U11 (filters.py:574-602):
    tokens from the native ``trivial_tokenize`` twin
    (functions/tokenize.py — the reference's IndicNLP
    punctuation-severing tokenization replicated natively, so no
    ``split(' ')`` divergence is declared; the oracle runs the
    value-identical DuckDB twin). score = (Σ counts of 3-grams
    occurring ≥ 2) / total 3-grams; 0.0 (not NULL) when nothing repeats
    — the None-for-0.0 storage quirk stays a declared divergence
    (COVERAGE.md ledger, SURVEY §4.1 intended-semantics ruling). Docs
    with <3 tokens have no 3-grams and drop out of both engines.

    Same zero-shuffle pandas-UDF shape as q41 (SURVEY §2.10 U11)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _word_rep_udf("text", "lang").alias("r"))
        .select("doc_id", "r.*")
        .filter(F.col("total_ngrams") > 0)
    )


# ---------------------------------------------------------------- q43
@register(
    "q43_script_detection",
    oracle="""
    SELECT doc_id,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS latin_chars,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
           CASE WHEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                     > length(text) / 2
                THEN 'latin' ELSE 'other' END AS detected_script
    FROM documents
    """,
)
def q43_script_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap script-detection tier of language ID (the reference's LID
    ensemble, SURVEY.md U19, is model-based; the rebuild makes the cheap
    script-count tier a native expression and keeps models pluggable —
    see setu_spark/stages/lid.py)."""
    docs = load_table(spark, sf_dir, "documents")
    latin = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    digit = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    return docs.select(
        "doc_id",
        latin.alias("latin_chars"),
        digit.alias("digit_chars"),
        F.when(latin > F.length("text") / 2, "latin")
        .otherwise("other")
        .alias("detected_script"),
    )


# ---------------------------------------------------------------- q44
@register(
    "q44_flagged_word_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT t.doc_id,
           count(*) FILTER (WHERE t.word IN {FLAGGED_WORDS})
             AS flagged_count,
           count(*) AS words_count,
           round(count(*) FILTER (WHERE t.word IN {FLAGGED_WORDS})
                 / CAST(count(*) AS DOUBLE), 6) AS flagged_ratio
    FROM toks t
    GROUP BY t.doc_id
    """,
)
def q44_flagged_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist hit counting (reference U6/U7 semantics: per-doc counts of
    words from a side wordlist, filters.py:742-748). The wordlist join is a
    broadcast join against the exploded tokens — the scalable form of the
    reference's flashtext-in-closure approach (wordlists stay small; the
    token table is the big side and never shuffles for the join)."""
    docs = load_table(spark, sf_dir, "documents")
    wl = F.broadcast(
        spark.createDataFrame([(w,) for w in FLAGGED_WORDS], ["word"])
        .withColumn("is_flagged", F.lit(1))
    )
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("word"))
    return (
        toks.join(wl, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("is_flagged"), F.lit(0))).alias(
                "flagged_count"
            ),
            F.count("*").alias("words_count"),
            F.round(
                F.sum(F.coalesce(F.col("is_flagged"), F.lit(0)))
                / F.count("*").cast("double"),
                6,
            ).alias("flagged_ratio"),
        )
    )


# ---------------------------------------------------------------- q35
#: GPT-2-style pretokenizer classes, ASCII-restricted so the Java-regex and
#: RE2 (DuckDB) engines agree codepoint-for-codepoint: a token is an optional
#: leading space followed by a letter run, a digit run, or a punctuation run.
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


@register(
    "q35_token_counts",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens,
           round(length(text)
                 / CAST(len(regexp_extract_all(text, '{BPE_PATTERN}'))
                        AS DOUBLE), 6) AS chars_per_token
    FROM documents
    """,
)
def q35_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split (the reference's
    ``len(line.split(' '))`` U2 quirk, filters.py:756-758) and a BPE-ish
    pretokenizer regex (GPT-2 pattern family) — the per-doc token budget a
    training-data pipeline bills by. Pure per-row regexp work, zero
    shuffles; `chars_per_token` is the compressibility proxy used for
    quality filtering."""
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(tokens_col()).alias("ws_tokens"),
        F.size(bpe).alias("bpe_tokens"),
        F.round(
            F.length("text") / F.size(bpe).cast("double"), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------- q36
FP_K = 8      # char k-gram width
FP_P = 16     # keep k-grams whose hash ≡ 0 (mod FP_P) — expect len/16 fps


def _fp_array_spark(k: int = FP_K, p: int = FP_P) -> str:
    """Spark-SQL per-row twin of the fingerprint array (same polynomial as
    `_fp_udf`; `ascii()` = first-char codepoint in both engines). For
    composing fingerprints into other per-row expressions; the UDF is the
    fast path for full-table jobs."""
    terms = " + ".join(
        f"CAST(ascii(substring(text, i + {j}, 1)) AS BIGINT) * {FP_BPOW[j]}"
        for j in range(k)
    )
    h = f"(({terms}) % {FP_MOD})"
    return (
        f"CASE WHEN length(text) >= {k} THEN array_distinct(filter("
        f"transform(sequence(1, length(text) - {k - 1}), i -> {h}),"
        f" h -> h % {p} = 0)) ELSE array() END"
    )


def _fp_array_sql(k: int = FP_K, p: int = FP_P) -> str:
    terms = " + ".join(
        f"CAST(ascii(substr(text, i + {j}, 1)) AS BIGINT) * {FP_BPOW[j]}"
        for j in range(k)
    )
    h = f"(({terms}) % {FP_MOD})"
    return (
        f"CASE WHEN length(text) >= {k} THEN list_distinct(list_filter("
        f"list_transform(range(1, length(text) - {k - 2}), i -> {h}),"
        f" h -> h % {p} = 0)) ELSE [] END"
    )


_FP_SCHEMA = StructType(
    [
        StructField("n_fp", IntegerType()),
        StructField("fp_checksum", LongType()),
        StructField("min_fp", LongType()),
    ]
)

#: polynomial (Rabin-Karp) k-gram hash over Unicode codepoints:
#:   h(g) = Σ_j cp(g[j]) · B^j  (mod FP_MOD)
#: Chosen over md5-per-gram because it vectorizes: one strided numpy pass
#: per document (measured 16× faster than hashlib at 100k docs) while
#: remaining a flat arithmetic expression DuckDB can replay. Overflow-safe
#: in int64: cp ≤ 0x10FFFF, B^j mod FP_MOD < 1e9 → products < 1.2e15,
#: 8-term sums < 1e16.
FP_B = 257
FP_MOD = 1_000_000_007
FP_BPOW = [pow(FP_B, j, FP_MOD) for j in range(FP_K)]


def _fp_arrays(texts: pd.Series):
    """Yield (numpy fingerprint array or None) per text — shared kernel of
    `_fp_udf` (profile) and `_fp_list_udf` (array form)."""
    import numpy as np

    bpow = np.array(FP_BPOW, dtype=np.int64)
    for text in texts.fillna(""):
        if len(text) < FP_K:
            yield None
            continue
        cps = np.frombuffer(
            text.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        windows = np.lib.stride_tricks.sliding_window_view(cps, FP_K)
        hashes = (windows * bpow).sum(axis=1) % FP_MOD
        yield np.unique(hashes[hashes % FP_P == 0])


@F.pandas_udf(ArrayType(LongType()))
def _fp_list_udf(texts: pd.Series) -> pd.Series:
    """Fingerprint set per doc as array<bigint> (for explode/join uses)."""
    return pd.Series(
        [([] if fps is None else fps.tolist()) for fps in _fp_arrays(texts)]
    )


@F.pandas_udf(_FP_SCHEMA)
def _fp_udf(texts: pd.Series) -> pd.DataFrame:
    """Per-doc k-gram fingerprint profile; fingerprints never leave the
    row — no shuffle at any scale, and the whole batch is numpy."""
    n_col, sum_col, min_col = [], [], []
    for fps in _fp_arrays(texts):
        if fps is None or not fps.size:
            n_col.append(0); sum_col.append(0); min_col.append(None)
            continue
        n_col.append(int(fps.size))
        sum_col.append(int(fps.sum()))
        min_col.append(int(fps[0]))
    return pd.DataFrame(
        {"n_fp": n_col, "fp_checksum": sum_col, "min_fp": min_col}
    )


@register(
    "q36_rolling_fingerprints",
    oracle=f"""
    WITH fps AS (SELECT doc_id, {_fp_array_sql()} AS fp FROM documents)
    SELECT doc_id,
           len(fp) AS n_fp,
           CAST(coalesce(list_sum(fp), 0) AS BIGINT) AS fp_checksum,
           list_min(fp) AS min_fp
    FROM fps
    """,
)
def q36_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting by content-defined sampling: polynomial
    (Rabin-Karp) hash of every char {FP_K}-gram over Unicode codepoints,
    keeping hashes ≡ 0 mod {FP_P} — the "0 mod p" winnowing scheme.
    Near-duplicate documents share most fingerprints even after small
    edits, unlike q34's whole-text hash. At 100 TB the fingerprint table is
    ~1/{FP_P}th the corpus k-gram count and joins against itself on fp for
    containment detection.

    Shape: Arrow-batched pandas UDF, one strided-numpy pass per document —
    fingerprints never cross rows, so there is no shuffle at any scale,
    and the polynomial form vectorizes where per-gram md5 cannot (16×
    faster than the hashlib kernel at 100k docs; the earlier declarative
    k-gram-explode + codegen-md5 form sat in between)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", _fp_udf("text").alias("r")).select(
        "doc_id", "r.*"
    )


# ---------------------------------------------------------------- q111
_FPPOS_SCHEMA = ArrayType(
    StructType(
        [StructField("fp", LongType()), StructField("pos", IntegerType())]
    )
)


@F.pandas_udf(_FPPOS_SCHEMA)
def _fp_pos_udf(texts: pd.Series) -> pd.Series:
    """Winnowed fingerprint windows WITH their 1-based codepoint start
    positions (the positional form of `_fp_udf`'s set — positions are what
    span removal needs). Same polynomial, same 0-mod-p sampling."""
    import numpy as np

    bpow = np.array(FP_BPOW, dtype=np.int64)
    rows = []
    for text in texts.fillna(""):
        if len(text) < FP_K:
            rows.append([])
            continue
        cps = np.frombuffer(
            text.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        windows = np.lib.stride_tricks.sliding_window_view(cps, FP_K)
        hashes = (windows * bpow).sum(axis=1) % FP_MOD
        sel = np.nonzero(hashes % FP_P == 0)[0]
        rows.append(
            [(int(hashes[i]), int(i) + 1) for i in sel]
        )
    return pd.Series(rows)


@F.pandas_udf(StringType())
def _splice_spans_udf(texts: pd.Series, starts: pd.Series) -> pd.Series:
    """Remove every character covered by a window starting at any of
    `starts` (1-based, width FP_K) — vectorized interval mask per doc."""
    import numpy as np

    out = []
    for text, ss in zip(texts, starts):
        cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
        delta = np.zeros(len(cps) + 1, dtype=np.int64)
        s = np.asarray(ss, dtype=np.int64) - 1
        np.add.at(delta, s, 1)
        np.add.at(delta, s + FP_K, -1)
        covered = np.cumsum(delta[:-1]) > 0
        out.append(cps[~covered].tobytes().decode("utf-32-le"))
    return pd.Series(out)


def _span_removal_sql(k: int = FP_K, p: int = FP_P) -> str:
    terms = " + ".join(
        f"CAST(ascii(substr(text, i + {j}, 1)) AS BIGINT) * {FP_BPOW[j]}"
        for j in range(k)
    )
    h = f"(({terms}) % {FP_MOD})"
    return f"""
    WITH lists AS (
      SELECT doc_id, text,
             CASE WHEN length(text) >= {k}
                  THEN list_filter(range(1, length(text) - {k - 2}),
                                   i -> {h} % {p} = 0)
                  ELSE [] END AS poss
      FROM documents
    ),
    fpos AS (
      SELECT doc_id, unnest(poss) AS pos,
             unnest(list_transform(poss, i -> {h})) AS fp
      FROM lists
    ),
    owners AS (
      SELECT fp, min(doc_id) AS owner
      FROM fpos GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
    ),
    spans AS (
      SELECT f.doc_id, f.pos
      FROM fpos f JOIN owners o ON f.fp = o.fp
      WHERE f.doc_id <> o.owner
    ),
    cov AS (
      SELECT DISTINCT s.doc_id, s.pos + r.j AS i
      FROM spans s, unnest(range(0, {k})) AS r(j)
    ),
    chars AS (
      SELECT l.doc_id, r.i, substr(l.text, CAST(r.i AS INT), 1) AS ch
      FROM lists l, unnest(range(1, length(l.text) + 1)) AS r(i)
      WHERE l.doc_id IN (SELECT DISTINCT doc_id FROM spans)
    ),
    clean AS (
      SELECT c.doc_id,
             coalesce(string_agg(CASE WHEN v.i IS NULL THEN c.ch END,
                                 '' ORDER BY c.i), '') AS ctext
      FROM chars c
      LEFT JOIN cov v ON c.doc_id = v.doc_id AND c.i = v.i
      GROUP BY c.doc_id
    )
    SELECT c.doc_id,
           w.n_windows,
           length(l.text) - length(c.ctext) AS chars_removed,
           length(c.ctext) AS clean_len,
           md5(c.ctext) AS clean_md5
    FROM clean c
    JOIN lists l USING (doc_id)
    JOIN (SELECT doc_id, count(*) AS n_windows
          FROM spans GROUP BY doc_id) w USING (doc_id)
    """


@register("q111_shared_span_removal", oracle=_span_removal_sql())
def q111_shared_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span REMOVAL — the content-defined-sampled
    form of exact-substring dedup ("dedup the substring, not the doc":
    boilerplate, license headers, templated passages). Every winnowed
    char {FP_K}-gram window (q36's 0-mod-{FP_P} sampling) that appears in
    ≥2 distinct documents keeps its text only in the lowest-doc_id owner;
    every other holder has the covered characters spliced out (overlaps
    merged by interval mask). Emits the removal audit per affected doc:
    window count, chars removed, cleaned length + md5.

    Scale shape: the fingerprint table is ~1/{FP_P}th of corpus k-grams;
    one fp-keyed shuffle finds multi-doc fingerprints (countDistinct +
    min, partial-agg'd), one join back tags removable windows, one
    doc-keyed group collects each doc's window starts (bounded: winnowed
    spans, not raw grams), and the splice is a single Arrow-batched mask
    pass per document. Linear end to end; no pairwise anything."""
    # CPU-heavy per-row stage downstream; a single-row-group scan would
    # serialize it on one core — no-op at scale
    docs = load_table_parallel(spark, sf_dir, "documents")
    fpos = (
        docs.select("doc_id", F.explode(_fp_pos_udf("text")).alias("w"))
        .select("doc_id", F.col("w.fp").alias("fp"), F.col("w.pos").alias("pos"))
    )
    owners = (
        fpos.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("owner"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    spans = (
        fpos.join(owners, "fp")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "pos")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("starts"),
        F.count("*").alias("n_windows"),
    )
    joined = docs.join(per_doc, "doc_id").select(
        "doc_id",
        "n_windows",
        F.length("text").alias("orig_len"),
        _splice_spans_udf("text", "starts").alias("ctext"),
    )
    return joined.select(
        "doc_id",
        "n_windows",
        (F.col("orig_len") - F.length("ctext")).alias("chars_removed"),
        F.length("ctext").alias("clean_len"),
        F.md5("ctext").alias("clean_md5"),
    )


# ---------------------------------------------------------------- q45
#: per-language stopword profiles for the declarative LID tier — loaded
#: from the same ``data/lid_profiles`` files as
#: setu_spark.stages.lid.STOPWORD_PROFILES (the model-backed path is q82),
#: so the declarative twin and the mapInPandas stage can never drift.
from setu_spark.operators.wordlists import load_stopword_profiles

LID_PROFILES = load_stopword_profiles()


def _lid_score(lang: str) -> F.Column:
    words = F.array(*[F.lit(w) for w in LID_PROFILES[lang]])
    hits = F.size(F.filter(tokens_col(), lambda t: F.array_contains(words, t)))
    return F.round(hits / F.size(tokens_col()).cast("double"), 6)


def _lid_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LID_PROFILES[lang])
    t = "string_split(text, ' ')"
    return (
        f"round(len(list_filter({t}, t -> list_contains([{words}], t)))"
        f" / CAST(len({t}) AS DOUBLE), 6)"
    )


@register(
    "q45_lid_heuristic",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lid_score_sql('en')} AS s_en, {_lid_score_sql('de')} AS s_de,
             {_lid_score_sql('fr')} AS s_fr, {_lid_score_sql('es')} AS s_es
      FROM documents
    )
    SELECT doc_id, lang,
           greatest(s_en, s_de, s_fr, s_es) AS lid_score,
           CASE greatest(s_en, s_de, s_fr, s_es)
                WHEN s_de THEN 'de' WHEN s_en THEN 'en'
                WHEN s_es THEN 'es' WHEN s_fr THEN 'fr' END AS pred_lang
    FROM scored
    """,
)
def q45_lid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative language-ID: per-language stopword-hit ratio, argmax
    with lexicographic tie-break — the oracle-checked twin of the
    mapInPandas model path (q82). Pure per-row expressions; at scale LID
    becomes a narrow map over the corpus with the tiny profile table inlined
    as literals (the degenerate broadcast)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        *[_lid_score(lang).alias(f"s_{lang}") for lang in LID_PROFILES],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LID_PROFILES])
    pred = F.when(best == F.col("s_de"), "de")
    for lang in ("en", "es", "fr"):  # ordered: first match wins ties
        pred = pred.when(best == F.col(f"s_{lang}"), lang)
    return scored.select(
        "doc_id", "lang", best.alias("lid_score"), pred.alias("pred_lang")
    )


# ---------------------------------------------------------------- q46
def _rm_code_sql(expr: str) -> str:
    from setu_spark.functions.text import CODE_PATTERNS

    out = expr
    for pat in CODE_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '', 'g')"
    return out


@register(
    "q46_code_removal",
    oracle=f"""
    SELECT doc_id,
           length(text) AS raw_chars,
           length({_rm_code_sql('text')}) AS cleaned_chars,
           (length({_rm_code_sql('text')}) < length(text)) AS had_code
    FROM documents
    """,
)
def q46_code_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-block removal (reference U13/U14 intent, filters.py:190-219 +
    345-368): strip HTML/JS/CSS spans via chained global regexp_replace —
    JVM-side, zero shuffles. The exact span-offset surface
    (``find_code_spans_udf``) is exercised in unit tests; this query
    oracle-checks the splice result on the corpus."""
    from setu_spark.functions.text import remove_code

    docs = load_table(spark, sf_dir, "documents")
    cleaned = remove_code(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").alias("raw_chars"),
        F.length(cleaned).alias("cleaned_chars"),
        (F.length(cleaned) < F.length("text")).alias("had_code"),
    )


# ---------------------------------------------------------------- q37
FP_MAX_DF = 10     # drop fingerprints present in > this many docs
FP_MIN_SHARED = 3  # pairs must share at least this many fingerprints


@register(
    "q37_fingerprint_containment",
    oracle=f"""
    WITH fp AS (
      SELECT DISTINCT doc_id, unnest({_fp_array_sql()}) AS f
      FROM documents
    ),
    rare AS (
      SELECT f FROM fp GROUP BY f HAVING count(*) <= {FP_MAX_DF}
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM fp a
      JOIN rare r ON a.f = r.f
      JOIN fp b ON b.f = a.f AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, n_shared FROM pairs
    WHERE n_shared >= {FP_MIN_SHARED}
    """,
)
def q37_fingerprint_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment / partial-overlap detection: documents sharing ≥
    {FP_MIN_SHARED} rare fingerprints (the q36 winnowing set joined against
    itself on the fingerprint). The document-frequency cap (≤ {FP_MAX_DF}
    docs per fingerprint) is the hot-key guard every inverted-index join
    needs at scale: a fingerprint present in every doc carries no
    similarity signal but would alone generate O(n²) join rows. With the
    cap, per-fingerprint work is ≤ DF² and total cost is linear in corpus
    size. Complements MinHash (q52): LSH finds near-identical docs,
    containment finds excerpts/supersets."""
    docs = load_table(spark, sf_dir, "documents")
    # one numpy pass for the fingerprint arrays; cache because the fp table
    # feeds three plan branches (both self-join sides + the DF-cap filter)
    # and would otherwise be recomputed per branch
    fp = scoped_cache(
        "q37_fingerprint_containment",
        docs.select(
            "doc_id", F.explode(_fp_list_udf("text")).alias("f")
        ).distinct(),
    )
    rare = fp.groupBy("f").agg(F.count("*").alias("df")).filter(
        F.col("df") <= FP_MAX_DF
    )
    a = fp.alias("a")
    b = fp.alias("b")
    pairs = (
        a.join(rare.select("f"), "f")
        .join(
            b,
            (F.col("b.f") == F.col("a.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return pairs.filter(F.col("n_shared") >= FP_MIN_SHARED)


# ---------------------------------------------------------------- q47
_MULTI_REP_SCHEMA = StructType(
    [
        StructField("score_5", DoubleType()),
        StructField("score_10", DoubleType()),
    ]
)


@F.pandas_udf(_MULTI_REP_SCHEMA)
def _multi_rep_udf(texts: pd.Series) -> pd.DataFrame:
    """Char n-gram repetition for n ∈ {5, 10} — the reference computes a
    per-n MAP of scores (U10, char_ngram_cum_thresholds has several n's);
    columns instead of a map so the oracle can hash them."""
    from collections import Counter

    cols = {5: [], 10: []}
    for text in texts:
        for n in (5, 10):
            # NULL text has no n-grams of any n — NULL scores, exactly
            # like the oracle's length(NULL) >= n filter
            if text is None or len(text) < n:
                cols[n].append(None)
                continue
            grams = Counter(
                text[i : i + n] for i in range(len(text) - n + 1)
            )
            total = sum(grams.values())
            top = sorted(grams.values(), reverse=True)[
                : int(math.sqrt(len(grams)))
            ]
            cols[n].append(_round6(sum(top) / total))
    return pd.DataFrame({"score_5": cols[5], "score_10": cols[10]})


def _rep_sql(n: int) -> str:
    return f"""
      SELECT doc_id,
             round(sum(CASE WHEN rn <= floor(sqrt(n_distinct)) THEN cnt
                            ELSE 0 END) / CAST(sum(cnt) AS DOUBLE), 6)
               AS score
      FROM (
        SELECT doc_id, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram) AS rn,
               count(*) OVER (PARTITION BY doc_id) AS n_distinct
        FROM (
          SELECT doc_id, substr(text, i, {n}) AS gram, count(*) AS cnt
          FROM documents,
               unnest(range(1, greatest(length(text) - {n - 2}, 1))) AS u(i)
          WHERE length(text) >= {n}
          GROUP BY doc_id, substr(text, i, {n})
        )
      )
      GROUP BY doc_id
    """


@register(
    "q47_multi_n_repetition",
    oracle=f"""
    WITH s5 AS ({_rep_sql(5)}), s10 AS ({_rep_sql(10)})
    SELECT d.doc_id, s5.score AS score_5, s10.score AS score_10
    FROM documents d
    LEFT JOIN s5 ON d.doc_id = s5.doc_id
    LEFT JOIN s10 ON d.doc_id = s10.doc_id
    """,
)
def q47_multi_n_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U10 multi-n form: repetition scores at n=5 and n=10 in one Arrow
    pass (the reference's per-n map, flattened to hashable columns). Docs
    shorter than n get NULL for that n (the reference's None, SURVEY §4.1's
    intended semantics). Zero shuffles."""
    # CPU-heavy per-row stage downstream; a single-row-group scan would
    # serialize it on one core — no-op at scale
    docs = load_table_parallel(spark, sf_dir, "documents")
    return docs.select("doc_id", _multi_rep_udf("text").alias("r")).select(
        "doc_id", "r.*"
    )


# ---------------------------------------------------------------- q48
REP_THRESHOLD_5 = 0.18   # chosen to split the testdata non-trivially
REP_THRESHOLD_W3 = 0.05


@register(
    "q48_repetition_flag_filter",
    oracle=f"""
    WITH c AS ({_rep_sql(5)}),
    w AS (
      SELECT doc_id,
             round(coalesce(sum(CASE WHEN cnt >= 2 THEN cnt END), 0)
                   / CAST(sum(cnt) AS DOUBLE), 6) AS wscore
      FROM (
        SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram,
               count(*) AS cnt
        FROM (SELECT doc_id, {trivial_tokenize_sql('text')} AS t
              FROM documents),
             unnest(range(1, greatest(len(t) - 1, 1))) AS u(i)
        GROUP BY doc_id, gram
      )
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           (c.score >= {REP_THRESHOLD_5}) AS has_char_repetition,
           (w.wscore >= {REP_THRESHOLD_W3}) AS has_word_repetition
    FROM documents d
    JOIN c ON d.doc_id = c.doc_id
    JOIN w ON d.doc_id = w.doc_id
    WHERE NOT (c.score >= {REP_THRESHOLD_5})
      AND NOT (w.wscore >= {REP_THRESHOLD_W3})
    """,
)
def q48_repetition_flag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U12 end to end: char/word repetition scores → threshold flags →
    survivors (the reference's char_repetition_filter /
    word_repetition_filter path, flagging_and_removal.py:34-47 with the
    intended any-threshold semantics). Both scores come from the
    zero-shuffle Arrow kernels; the filter is a per-row predicate.
    Both kernels ride ONE projection over ONE scan (the kernels emit
    total 0 / NULL score on too-short input, so the too-short
    exclusions become post-kernel predicates) — one scan per leg would
    need a self-join of the corpus on doc_id, a full shuffle that buys
    nothing."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        _char_rep_udf("text").alias("c"),
        _word_rep_udf("text", "lang").alias("w"),
    ).filter(
        (F.col("c.total_ngrams") > 0) & (F.col("w.total_ngrams") > 0)
    )
    flagged = scored.select(
        "doc_id",
        (F.col("c.repetition_score") >= REP_THRESHOLD_5).alias(
            "has_char_repetition"
        ),
        (F.col("w.repetition_score") >= REP_THRESHOLD_W3).alias(
            "has_word_repetition"
        ),
    )
    return flagged.filter(
        ~F.col("has_char_repetition") & ~F.col("has_word_repetition")
    )


# ---------------------------------------------------------------- q38
@register(
    "q38_representative_doc_per_group",
    oracle="""
    SELECT source, lang, doc_id, n_chars
    FROM (
      SELECT source, lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    WHERE rn = 1
    """,
)
def q38_representative_doc_per_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic survivor pick per (source, lang): the windowed
    row_number form of ``dropDuplicates`` (SURVEY.md P8 — dropDuplicates
    keeps an ARBITRARY row; pipelines that must be reproducible need the
    explicit ordering). One shuffle on the group key; the window state per
    partition is a single counter."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", "lang", "doc_id", "n_chars")
    )


# ---------------------------------------------------------------- q116
def _sentence_sql() -> str:
    # Both engines run the SAME chunk decomposition (the Spark side
    # uses regexp_extract_all, not a lookbehind split, so no
    # split-vs-decomposition equivalence argument is needed):
    # every chunk is the maximal run up to and including the next
    # terminator plus its trailing newlines ([^T]*T\n*,
    # leftmost-first — the reference attaches the captured
    # `T(?:\n+)?` delimiter to the preceding piece), and the tail may
    # lack a terminator ([^T]+). The reference's odd/even rejoin can
    # emit a trailing '' element; extraction never does — both sides
    # filter empties AFTER indexing, so surviving sent_idx values
    # agree.
    tclass = "[.?!।॥|؟۔]"
    # terminal-validity class built FROM the engine tuple (single
    # quotes doubled for SQL); multi-char entries like "।।" are
    # subsumed by their final char in an endswith class
    from setu_spark.functions.text import TERMINAL_PUNCTUATIONS

    term_class = "".join(
        dict.fromkeys("".join(TERMINAL_PUNCTUATIONS))
    ).replace("'", "''")
    return f"""
    WITH ex AS (
      SELECT doc_id,
             regexp_extract_all(text,
               '[^.?!।॥|؟۔]*{tclass}\n*|[^.?!।॥|؟۔]+'
             ) AS chunks
      FROM documents WHERE text IS NOT NULL
    ),
    raw AS (
      SELECT doc_id, i AS sent_idx, chunks[i] AS sentence
      FROM ex, unnest(range(1, len(chunks) + 1)) AS t(i)
    )
    SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx, sentence,
           -- terminal class generated from TERMINAL_PUNCTUATIONS so
           -- the oracle cannot drift from the engine tuple
           (regexp_matches(sentence, '[{term_class}]$')
            AND NOT (sentence LIKE '%...' OR sentence LIKE '%####'))
             AS terminal_ok,
           regexp_matches(sentence, '^\\p{{Nd}}+$') AS is_digits
    FROM raw WHERE sentence <> ''
    """


@register("q116_sentence_explode", oracle=_sentence_sql())
def q116_sentence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 sentence explode with the U1 delimiter-retention quirk, per-
    sentence U17 terminal-validity and U5 isdigit flags, and a P7
    null-drop on the way in — the four §2 scalar/explode components that
    had only unit tests now earn a driver hash check in one query
    (reference analysis.py:145-163, filters.py:237-330, 773-775).

    Spark side is native ``regexp_extract_all`` (functions/text.py
    ``split_keep_delimiter`` — no UDF, the explode is codegen over the
    extracted array); the oracle runs the IDENTICAL decomposition
    (``_sentence_sql``). Zero shuffles: scan → extract → posexplode →
    per-row flags, one codegen stage at any scale."""
    from setu_spark.functions.text import (
        is_number,
        split_keep_delimiter,
        terminal_valid,
    )

    docs = load_table(spark, sf_dir, "documents").na.drop(subset=["text"])
    sents = docs.select(
        "doc_id",
        F.posexplode(split_keep_delimiter("text")).alias("i0", "sentence"),
    ).filter(F.col("sentence") != "")
    return sents.select(
        "doc_id",
        (F.col("i0") + 1).cast("int").alias("sent_idx"),
        "sentence",
        terminal_valid("sentence").alias("terminal_ok"),
        is_number("sentence").alias("is_digits"),
    )


# ---------------------------------------------------------------- q130
#: Top-K adjacent-pair merge candidates to report (the first BPE merge
#: iteration's ranking; production iterates, re-segmenting after each
#: merge — every iteration is this same query shape over the current
#: symbol vocabulary).
BPE_TOP_K = 50


@register(
    "q130_bpe_merge_candidates",
    oracle=f"""
    WITH wf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents) x
      GROUP BY word
    ),
    p AS (
      SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, freq
      FROM wf, unnest(range(1, length(word))) AS t(i)
      WHERE length(word) >= 2
    ),
    a AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
      FROM p GROUP BY pair
    ),
    k AS (
      SELECT pair, pair_count
      FROM a ORDER BY pair_count DESC, pair LIMIT {BPE_TOP_K}
    )
    SELECT pair, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, pair)
                AS BIGINT) AS rank
    FROM k
    """,
)
def q130_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate mining — the corpus-scale inner loop of
    tokenizer training (Sennrich et al. 2016): rank adjacent character
    pairs by frequency over the WORD-FREQUENCY table, not the raw
    corpus. The word-level pre-aggregation is the classic scalability
    move: distinct words grow ~Heaps-law sublinearly while tokens grow
    linearly, so the pair explode runs over a table orders of magnitude
    smaller than the corpus. The reference has no tokenizer surface at
    all; a pretraining pipeline trains one on exactly this corpus.

    Scale shape: explode -> map-combined word-frequency aggregate
    (bounded by vocabulary) -> in-word pair fan-out over that SMALL
    table -> map-combined pair aggregate (bounded by symbol-alphabet²)
    -> TakeOrdered top-{BPE_TOP_K}; the rank window runs over the
    {BPE_TOP_K} collected rows only, never the corpus. Ties break on
    the pair string, so the cut is total-ordered and engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = wf.filter(F.length("word") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(BPE_TOP_K)
    )
    return top.select(
        "pair",
        "pair_count",
        F.row_number()
        .over(Window.orderBy(F.desc("pair_count"), "pair"))
        .cast("long")
        .alias("rank"),
    )


# ---------------------------------------------------------------- q132
@register(
    "q132_vocab_coverage",
    oracle="""
    WITH wc AS (
      SELECT word, count(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents) x
      WHERE word <> ''
      GROUP BY word
    ),
    r AS (
      SELECT c,
             row_number() OVER (ORDER BY c DESC, word) AS rnk,
             sum(c) OVER (ORDER BY c DESC, word
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM wc
    ),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS vocab
          FROM wc)
    SELECT CAST(rnk AS BIGINT) AS vocab_size,
           round(cum / CAST(tot AS DOUBLE), 6) AS coverage
    FROM r CROSS JOIN t
    WHERE (rnk & (rnk - 1)) = 0 OR rnk = vocab
    """,
)
def q132_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design readout: what
    fraction of all token occurrences the top-N most frequent words
    cover, sampled at power-of-two N plus the full-vocabulary row
    (coverage 1.0). 1 − coverage(N) is the OOV rate a closed N-word
    vocabulary would pay; with q130's merge mining this is the pair of
    queries a tokenizer build runs over the corpus.

    Scale shape: the word-count aggregate (map-combined) feeds
    :func:`~setu_spark.operators.skew.global_running_sums` on (c desc,
    word) — an unpartitioned rank+running-sum window would funnel the
    full vocabulary (1e7-1e8+ rows at web scale) through ONE task. The
    same offsets collect yields the vocabulary size and the corpus
    token total as scalars."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    ranked, totals = global_running_sums(
        wc, [F.desc("c"), F.asc("word")], {"rnk": F.lit(1), "cum": F.col("c")},
        "q132_vocab_coverage",
    )
    return ranked.filter(
        (F.expr("rnk & (rnk - 1)") == 0) | (F.col("rnk") == totals["rnk"])
    ).select(
        F.col("rnk").alias("vocab_size"),
        F.round(F.col("cum") / F.lit(float(totals["cum"])), 6).alias(
            "coverage"
        ),
    )


# ---------------------------------------------------------------- q135
@register(
    "q135_unpivot_doc_metrics",
    oracle="""
    SELECT doc_id, metric, value
    FROM (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
      FROM documents
    )
    UNPIVOT (value FOR metric IN (n_words, n_chars, n_bytes))
    """,
)
def q135_unpivot_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of the per-document metric profile —
    the inverse of q106's pivot and the last member of the restructure
    family (explode / pivot / unpivot). One row per (doc, metric); the
    tidy shape feeds generic per-metric tooling (distribution plots,
    per-metric gates) without a per-metric query.

    Scale shape: ``DataFrame.unpivot`` compiles to a single Expand node
    riding the scan — rows fan out by the metric count with ZERO
    shuffles, the same plan family as grouping-set expansion (q107)."""
    docs = load_table(spark, sf_dir, "documents")
    wide = docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_words"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    # DuckDB's UNPIVOT drops NULL-valued cells by default while
    # DataFrame.unpivot keeps them — pin the exclude-nulls semantic
    # explicitly so a NULL metric can never split the engines
    return wide.unpivot(
        ids=["doc_id"],
        values=["n_words", "n_chars", "n_bytes"],
        variableColumnName="metric",
        valueColumnName="value",
    ).where(F.col("value").isNotNull())


# ---------------------------------------------------------------- q139
#: Bounded BPE merge-loop depth. Each round is one in-memory pass of
#: the merge kernel over the word table's tokens (one sort of the pair
#: keys, one merge); production runs tens of thousands of rounds, each
#: costing time linear-log in the tokens of the vocabulary.
BPE_ITERS = 4


def _bpe_chain(iters: int) -> str:
    """The shared DuckDB CTE chain replaying the adaptive BPE merge
    loop — seg_k applies iteration k's winning pair (b_k, a one-row
    CTE) to seg_{k-1} via ``list_reduce`` over a list-of-singleton-
    lists accumulator, which IS greedy left-to-right BPE merging
    (probed: 'aaaaa' + (a,a) → [aa, aa, a]). Built programmatically so
    the iteration count is the single BPE_ITERS constant shared with
    the Spark side (:func:`_bpe_kernel`); q139 (merge table) and q141
    (compression curve) SELECT from the same chain, so the two oracles
    cannot drift. Once no adjacent pair is left b_k is empty and the
    LEFT JOIN carries seg_{k-1} through unchanged (NULL never matches a
    symbol), so the curve stays flat, as in the kernel, which adopts a
    NULL pair."""
    parts = [
        """
    WITH wf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents) t
      WHERE word <> ''
      GROUP BY word
    ),
    seg0 AS (SELECT freq, string_split(word, '') AS syms FROM wf)"""
    ]
    for k in range(1, iters + 1):
        prev = f"seg{k - 1}"
        parts.append(
            f"""
    p{k} AS (
      SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS pair_count
      FROM (SELECT freq,
                   list_extract(syms, i) AS s1,
                   list_extract(syms, i + 1) AS s2
            FROM {prev}, unnest(range(1, len(syms))) AS t(i)
            WHERE len(syms) >= 2)
      GROUP BY s1, s2
    ),
    b{k} AS (SELECT s1, s2, pair_count FROM p{k}
             ORDER BY pair_count DESC, s1, s2 LIMIT 1)"""
        )
        parts.append(
            f"""
    seg{k} AS (
      SELECT freq,
             list_reduce(
               list_transform(syms, s -> [s]),
               (acc, x) -> CASE
                 WHEN list_extract(acc, -1) = b{k}.s1
                      AND list_extract(x, 1) = b{k}.s2
                 THEN list_append(
                        list_slice(acc, 1, len(acc) - 1),
                        b{k}.s1 || b{k}.s2)
                 ELSE list_concat(acc, x) END
             ) AS syms
      FROM {prev} LEFT JOIN b{k} ON true)"""
        )
    return ",".join(parts)


def _bpe_oracle(iters: int) -> str:
    """q139's SELECT over the shared chain: the adopted-merge table."""
    selects = [
        f"""SELECT CAST({k} AS BIGINT) AS iteration,
               s1 AS left_sym, s2 AS right_sym, pair_count
        FROM b{k}"""
        for k in range(1, iters + 1)
    ]
    return _bpe_chain(iters) + "\n    " + "\n    UNION ALL ".join(selects)


#: one row per merge round: iteration 0 is the character segmentation,
#: iteration k the segmentation after round k's adopted pair (NULL once
#: no adjacent pair is left)
_BPE_ROUND_FIELDS = (
    ("iteration", pa.int64(), LongType()),
    ("total_tokens", pa.int64(), LongType()),
    ("tokens_per_occurrence", pa.float64(), DoubleType()),
    ("left_sym", pa.string(), StringType()),
    ("right_sym", pa.string(), StringType()),
    ("pair_count", pa.int64(), LongType()),
)


def _bpe_kernel(batches, rounds: int):
    """The whole merge loop over the word-frequency table, in one Python
    worker: ``(word, freq)`` Arrow batches in (NULL rows ignored), one
    batch of ``rounds + 1`` rows out, laid out as ``_BPE_ROUND_FIELDS``.

    Words are split by code point into integer symbol ids and laid end to
    end in one token array; ``wt`` carries each token's word frequency
    and ``end`` marks the last token of a word, so the adjacent pairs are
    the positions with ``~end``. A round counts every pair with a stable
    sort of the pair keys ``s1 * n + s2`` and an exact int64
    ``add.reduceat``. Each key is held in the narrowest unsigned dtype
    that fits n², so while the alphabet has at most 256 symbols numpy
    sorts 16-bit keys by radix. The round adopts the top pair by
    ``(count DESC, s1, s2)`` compared on the symbol strings (the
    oracle's ORDER BY) and merges it greedily left to right: in a run of
    overlapping hits, possible only when s1 == s2, every other one is
    taken ('aaaaa' + (a,a) → [aa, aa, a]). A merge keeps the right token
    of the pair, which already carries the word's end flag, and drops
    the left one."""
    table = pa.Table.from_batches(list(batches))
    words = pc.fill_null(
        table["word"].combine_chunks().cast(pa.large_string()), ""
    )
    freq = pc.fill_null(table["freq"], 0).to_numpy()
    lens = pc.utf8_length(words).to_numpy()
    offsets = np.frombuffer(words.buffers()[1], np.int64)[
        words.offset : words.offset + len(words) + 1
    ]
    chars = str(
        memoryview(words.buffers()[2] or b"")[offsets[0] : offsets[-1]],
        "utf-8",
    )
    code_points, tok = np.unique(
        np.frombuffer(chars.encode("utf-32-le"), np.uint32),
        return_inverse=True,
    )
    syms = [chr(c) for c in code_points]
    tok = tok.astype(np.int32)
    wt = np.repeat(freq, lens)
    end = np.zeros(len(tok), bool)
    end[np.cumsum(lens[lens > 0]) - 1] = True
    occurrences = int(freq.sum())

    rows = []
    for it in range(rounds + 1):
        top = (None, None, None)
        pos = np.flatnonzero(~end)
        if it and pos.size:
            n = len(syms)
            keys = (tok[pos].astype(np.int64) * n + tok[pos + 1]).astype(
                np.min_scalar_type(n * n - 1)
            )
            order = np.argsort(keys, kind="stable")
            ranked = keys[order]
            first = np.flatnonzero(np.r_[True, ranked[1:] != ranked[:-1]])
            counts = np.add.reduceat(wt[pos[order]], first)
            best = counts.max()
            key = min(
                ranked[first][counts == best],
                key=lambda k: (syms[k // n], syms[k % n]),
            )
            a, b = divmod(int(key), n)
            top = (syms[a], syms[b], int(best))
            hits = pos[keys == key]
            i = np.arange(len(hits))
            run_start = np.maximum.accumulate(
                np.where(np.r_[True, np.diff(hits) != 1], i, 0)
            )
            take = hits[(i - run_start) % 2 == 0]
            tok[take + 1] = n
            syms.append(syms[a] + syms[b])
            keep = np.ones(len(tok), bool)
            keep[take] = False
            tok, wt, end = tok[keep], wt[keep], end[keep]
        total = int(wt.sum()) if occurrences else None
        rows.append(
            (it, total, total and _round6(total / occurrences), *top)
        )
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(col, typ)
            for col, (_, typ, _) in zip(zip(*rows), _BPE_ROUND_FIELDS)
        ],
        names=[name for name, _, _ in _BPE_ROUND_FIELDS],
    )


def _bpe_rounds(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    """The BPE merge loop shared by q139 and q141, as one lazy frame:
    ``rounds + 1`` rows (iteration, total_tokens, tokens_per_occurrence,
    left_sym, right_sym, pair_count). Iteration 0 is the character
    segmentation; iteration k carries the pair round k adopted and the
    token total after merging it. Once no adjacent pair is left the pair
    is NULL and the total stays flat; on an empty corpus every value but
    the iteration is NULL, as SQL sums over nothing are.

    Layout: Spark counts the word-frequency table (explode + groupBy,
    the part that scales with the corpus), then ``repartition(1)`` sends
    it to ONE Arrow kernel (:func:`_bpe_kernel`) that runs every round in
    memory. Building the frame runs no merge round: its only Spark job
    is ``load_table``'s parquet schema inference. The trade: one Python
    worker holds the whole word table, so its memory grows with
    vocabulary size × mean word length — the standard tokenizer-trainer
    layout (distributed counting, then single-process merges, as in
    subword-nmt and sentencepiece). A NULL marker row keeps the single
    partition non-empty, so the kernel also runs on an empty corpus."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    marker = spark.range(1).select(
        F.lit(None).cast("string").alias("word"),
        F.lit(None).cast("long").alias("freq"),
    )
    return (
        words.unionByName(marker)
        .repartition(1)
        .mapInArrow(
            partial(_bpe_kernel, rounds=rounds),
            StructType(
                [StructField(name, typ) for name, _, typ in _BPE_ROUND_FIELDS]
            ),
        )
    )


@register("q139_bpe_merge_iterations", oracle=_bpe_oracle(BPE_ITERS))
def q139_bpe_merge_iterations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iterative BPE merge mining (Sennrich et al. 2016) — the full
    tokenizer-training inner loop, not just q130's first-iteration
    ranking: for {BPE_ITERS} iterations, find the most frequent
    adjacent symbol pair over the current segmentation of the
    WORD-FREQUENCY table, adopt it (ties broken on (left, right) so
    both engines adopt the same pair), re-segment every word with the
    greedy left-to-right merge, and repeat. Output is the adopted merge
    table — (iteration, left, right, count) — which IS a BPE
    tokenizer's artifact; it stops early once no adjacent pair is left
    (empty on an empty corpus).

    Scale shape: a projection of :func:`_bpe_rounds` — one
    corpus-scale word count, then every round in one Arrow kernel over
    the vocabulary; building it runs no Spark action."""
    return (
        _bpe_rounds(spark, sf_dir, BPE_ITERS)
        .where(F.col("left_sym").isNotNull())
        .select("iteration", "left_sym", "right_sym", "pair_count")
    )


# ---------------------------------------------------------------- q141
def _bpe_curve_oracle(iters: int) -> str:
    """q141's SELECT over the shared chain: token totals per adopted
    merge — seg0 (chars) through seg{iters}."""
    tot = "(SELECT CAST(sum(freq) AS BIGINT) FROM wf)"
    selects = [
        f"""SELECT CAST({k} AS BIGINT) AS iteration,
               CAST(sum(freq * len(syms)) AS BIGINT) AS total_tokens,
               round(CAST(sum(freq * len(syms)) AS DOUBLE) / {tot}, 6)
                 AS tokens_per_occurrence
        FROM seg{k}"""
        for k in range(0, iters + 1)
    ]
    return _bpe_chain(iters) + "\n    " + "\n    UNION ALL ".join(selects)


@register(
    "q141_bpe_compression_curve", oracle=_bpe_curve_oracle(BPE_ITERS)
)
def q141_bpe_compression_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE compression curve — the tokenizer-evaluation readout for
    q139's merge loop: total token count (and tokens per word
    occurrence) after EACH adopted merge, iteration 0 (characters)
    through {BPE_ITERS}. This is the curve a tokenizer build watches
    to pick its merge budget ("how much does each merge actually buy
    on THIS corpus"); paired with q132's vocabulary-coverage curve it
    is the full tokenizer-design readout. The curve is flat once no
    adjacent pair is left, and one all-NULL row per iteration on an
    empty corpus (SQL sums over nothing), as in the oracle.

    Scale shape: the same :func:`_bpe_rounds` frame as q139, projected
    to its token totals; the kernel counts each total as an exact int64
    sum. The tokens_per_occurrence ratio divides two exact integers in
    IEEE double in both engines and rounds half-up at 6 digits
    (textstats._round6 discipline)."""
    return _bpe_rounds(spark, sf_dir, BPE_ITERS).select(
        "iteration", "total_tokens", "tokens_per_occurrence"
    )


# ---------------------------------------------------------------- q146
def _novelty_sql() -> str:
    # DuckDB spelling of dedup.distinct_shingles (3-word, RAW split —
    # no empty-token filter, matching the Spark expression verbatim):
    # shingle i = l[i]||' '||l[i+1]||' '||l[i+2] for i in 1..m-2.
    l = "string_split(text, ' ')"
    return f"""
    WITH shs AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len({l}) - 1),
               i -> {l}[i] || ' ' || {l}[i+1] || ' ' || {l}[i+2]
             ))) AS sh
      FROM documents
      WHERE len({l}) >= 3
    ),
    dfc AS (SELECT sh, count(*) AS df FROM shs GROUP BY sh),
    per AS (
      SELECT s.doc_id, count(*) AS n_sh,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM shs s JOIN dfc USING (sh) GROUP BY s.doc_id
    )
    SELECT CASE WHEN p.doc_id IS NULL THEN CAST(-1 AS BIGINT)
                ELSE least((n_unique * 10) // n_sh, 9) END
             AS novelty_decile,
           count(*) AS n_docs
    FROM documents d LEFT JOIN per p USING (doc_id)
    GROUP BY ALL
    """


@register("q146_ngram_novelty", oracle=_novelty_sql())
def q146_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty profile: per document, the fraction of its distinct
    3-word shingles that occur NOWHERE else in the corpus (document
    frequency 1), bucketed into deciles. The boilerplate detector's
    aggregate view — template farms and mirrored pages pile up in the
    low deciles (most of their n-grams are shared), original prose sits
    high; the decile histogram is the knob-setting artifact for a
    shared-span removal pass (q111) and a dedup-threshold choice.
    Docs too short to shingle (< 3 words) report as decile -1.

    Scale shape: ``n_sh`` is the distinct-shingle array's SIZE,
    computed narrow in the scan projection — no join and no shuffle
    carries it. ``n_unique`` needs NO join-back at all: a df=1 shingle
    by definition has exactly one owning document, so the same
    groupBy(sh) that counts document frequency also carries
    min(doc_id) — for the df=1 survivors that IS the owner, and a
    doc-sized re-aggregate finishes the count, so no second
    full-shingle exchange (a join-back of df onto every shingle
    occurrence) runs; ONE shingle exchange total, whose combiner
    output shrinks with duplicate density exactly where the exact
    histogram was expensive. The exchange carries xxhash64(shingle),
    never the shingle STRING (the q105 pattern — fixed 8 bytes/key
    instead of ~20-char grams); df counts by hash equal counts by
    string absent 64-bit collisions, q64's standing argument, and the
    oracle counts raw strings on the same grounds. The decile is
    computed in INTEGER arithmetic ((n_unique·10) div n_sh) — no float
    boundary can disagree between engines. The winnowed-fingerprint
    variant (q148, sampling 1/w of shingles) remains the documented
    cheaper estimate when the exact histogram isn't required."""
    from setu_spark.operators.dedup import distinct_shingles

    # CPU-heavy per-row stage downstream; a single-row-group scan would
    # serialize it on one core — no-op at scale
    docs = load_table_parallel(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.transform(distinct_shingles(), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )
    nu = (
        sh.groupBy("sh")
        .agg(
            F.count("*").alias("df"),
            F.min("doc_id").alias("doc_id"),
        )
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_unique"))
    )
    base = docs.select(
        "doc_id", F.size(distinct_shingles()).cast("long").alias("n_sh")
    )
    decile = F.least(
        F.expr("(coalesce(n_unique, 0) * 10) div n_sh"),
        F.lit(9).cast("long"),
    )
    bucket = F.when(
        F.col("n_sh").isNull() | (F.col("n_sh") == 0),
        F.lit(-1).cast("long"),
    ).otherwise(decile)
    return (
        base.join(nu, "doc_id", "left")
        .select(bucket.alias("novelty_decile"))
        .groupBy("novelty_decile")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------- q148
#: Winnow modulus: keep shingle hashes ≡ 0 (mod W) — a deterministic
#: 1/W sample of each document's shingle set, identical in both engines
#: because the shingle hash is the engine-portable polynomial family.
WINNOW_W = 8


@F.pandas_udf(ArrayType(LongType()))
def _winnowed_shingle_udf(texts: pd.Series) -> pd.Series:
    """Distinct polynomial shingle hashes ≡ 0 (mod WINNOW_W) per doc —
    the numpy production kernel (per-batch word-hash cache), value-
    identical to filtering `_shingle_hashes_expr`'s HOF twin."""
    import numpy as np

    from setu_spark.operators.dedup import (
        P31,
        SHINGLE_N,
        WORD_B,
        word_hash_py,
    )

    cache: dict[str, int] = {}
    out = []
    for text in texts.fillna(""):
        words = [w for w in text.split(" ") if w]
        if len(words) < SHINGLE_N:
            out.append([])
            continue
        hw = np.fromiter(
            (
                cache[w]
                if w in cache
                else cache.setdefault(w, word_hash_py(w))
                for w in words
            ),
            dtype=np.int64,
            count=len(words),
        )
        t = (hw[:-2] * WORD_B + hw[1:-1]) % P31
        hs = np.unique((t * WORD_B + hw[2:]) % P31)
        out.append(hs[hs % WINNOW_W == 0].tolist())
    return pd.Series(out)


def _winnowed_novelty_sql() -> str:
    from setu_spark.operators.dedup import _shingle_hashes_sql

    sampled = (
        f"list_filter({_shingle_hashes_sql('text')},"
        f" h -> h % {WINNOW_W} = 0)"
    )
    return f"""
    WITH shs AS (
      SELECT doc_id, unnest({sampled}) AS h
      FROM documents
    ),
    dfc AS (SELECT h, count(*) AS df FROM shs GROUP BY h),
    per AS (
      SELECT s.doc_id, count(*) AS n_sh,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM shs s JOIN dfc USING (h) GROUP BY s.doc_id
    )
    SELECT CASE WHEN p.doc_id IS NULL THEN CAST(-1 AS BIGINT)
                ELSE least((n_unique * 10) // n_sh, 9) END
             AS novelty_decile,
           count(*) AS n_docs
    FROM documents d LEFT JOIN per p USING (doc_id)
    GROUP BY ALL
    """


@register("q148_winnowed_novelty", oracle=_winnowed_novelty_sql())
def q148_winnowed_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q146's novelty histogram at 1/{W} the shuffle volume — the 100 TB
    estimate: each document's distinct shingle set is winnowed to the
    hashes ≡ 0 (mod {W}) of the engine-portable polynomial family, and
    the df=1 fraction is computed over the SAMPLE. The statistic is
    defined on the hashed-winnowed domain, so the DuckDB replay is
    exact by construction (both engines compute the identical integer
    hash set — no collision caveat, unlike q146's xxhash64 keys vs
    string-counting oracle). Deciles are integer arithmetic as in q146;
    docs with NO sampled shingles (short docs plus the ~(7/8)^|set|
    tail of docs whose sample came up empty) report -1 — the estimate's
    stated coverage cost, which shrinks geometrically with document
    length.

    Scale shape: identical to q146 (shingle-df aggregate + join-back +
    re-agg) but every exchange carries 1/{W} of the rows; hashing rides
    a numpy Arrow kernel (per-batch word cache), never per-row Python
    or interpreted HOF Horner. Measured 60s → 37s at the 100× corpus:
    the 8× exchange cut leaves the per-doc hashing pass as the dominant
    cost — the SAME polynomial fold the MinHash signature stage runs,
    so a production funnel computes it once and feeds both (the shuffle
    savings, the part that matters at 1000 executors, is the full 8×).
    Tuning W trades coverage for cost; W=1 degenerates to q146's exact
    histogram on the polynomial domain."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(_winnowed_shingle_udf("text")).alias("h")
    )
    dfc = sh.groupBy("h").agg(F.count("*").alias("df"))
    per = (
        sh.join(dfc, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
    )
    decile = F.least(
        F.expr("(n_unique * 10) div n_sh"), F.lit(9).cast("long")
    )
    bucket = F.when(
        F.col("n_sh").isNull(), F.lit(-1).cast("long")
    ).otherwise(decile)
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(bucket.alias("novelty_decile"))
        .groupBy("novelty_decile")
        .agg(F.count("*").alias("n_docs"))
    )
