"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

The reference delegates fuzzy dedup to the external `text-dedup` MinHashLSH
CLI (reference README.md:128) and does exact dedup only by id
(``dropDuplicates(["doc_id"])``, SURVEY.md P8). Here the whole dedup family
is first-class and Spark-native:

  * signatures (MinHash, SimHash) are **per-row** — no explode, no
    shuffle; cost scales linearly with input bytes and is embarrassingly
    parallel. MinHash's production kernel is a vectorized Arrow UDF; the
    per-row Spark-expression twins exist for composition and tests;
  * candidate generation is **LSH banding** — a shuffle on (band, bandhash)
    whose buckets are collision groups, never an O(n²) cross join. This is
    the only shape that survives 100 TB: the shuffle volume is
    O(n_docs × n_bands), independent of corpus byte size;
  * the MinHash base hash is a polynomial (Horner) word/shingle family —
    vectorizable AND replayable bit-for-bit by the DuckDB oracle
    (list_reduce); band hashes still use the md5-derived
    :func:`setu_spark.functions.hashes.hash64` where cheapness doesn't
    matter.

MinHash math: P[minhash collision] = Jaccard(A, B); with b bands of r rows
the candidate probability is 1 - (1 - J^r)^b — here b=4, r=2 → ~0.5
J-threshold, tuned for the word-salad testdata. Parameters are arguments,
not constants, in the library functions.

Signature cost history at 100k docs (local[32]): salted md5 per shingle
per permutation (~38s) → one md5 + affine permutations, explode-agg
(12.6s; shingle-string construction was 50% of it) → polynomial word-hash
family, numpy kernel, no shingle strings at all (4-6s). Each step stayed
bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

import functools
import operator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from setu_spark.functions.hashes import hash64, hash64_sql
from setu_spark.caching import scoped_cache
from setu_spark.operators.guards import pair_budget_gate
from setu_spark.registry import register
from setu_spark.sources.io import (
    DISPATCH_LOG,
    load_table,
    load_table_parallel,
)

NUM_PERM = 8
ROWS_PER_BAND = 2
NUM_BANDS = NUM_PERM // ROWS_PER_BAND
SHINGLE_N = 3  # word-shingle width for MinHash (text-dedup-style)


# ------------------------------------------------------------------ library

def distinct_tokens(text_col: str = "text") -> Column:
    return F.array_distinct(
        F.filter(F.split(F.col(text_col), " ", -1), lambda w: w != F.lit(""))
    )


def distinct_shingles(text_col: str = "text", n: int = SHINGLE_N) -> Column:
    """Distinct n-word shingles as a per-row array expression. Shingles (not
    unigrams) are what make MinHash discriminative: random docs over a
    shared vocabulary have near-zero shingle Jaccard, while near-duplicate
    docs keep most shingles in common.

    Perf note: built as a ``zip_with`` chain over shifted ``slice``s rather
    than ``transform(sequence(...), i -> element_at(split(...), i))``.
    Higher-order-function lambdas are interpreted (no codegen, no
    subexpression elimination), so anything inside the lambda body is
    re-evaluated per element — the element_at form re-split the text per
    shingle index (~2300 splits/row at n=3); the slice form splits a fixed
    handful of times in argument position (7× faster signatures)."""
    t = f"split({text_col}, ' ', -1)"
    m = f"(size({t}) - {n - 1})"
    expr = f"slice({t}, 1, {m})"
    for k in range(1, n):
        expr = (
            f"zip_with({expr}, slice({t}, {k + 1}, {m}),"
            " (x, y) -> concat(x, ' ', y))"
        )
    return F.expr(
        f"array_distinct(CASE WHEN size({t}) >= {n}"
        f" THEN {expr} ELSE array() END)"
    )


#: Affine-permutation MinHash over a polynomial shingle-hash family:
#:
#:   hw(word)        = Horner fold of codepoints: acc = (acc·WB + cp) mod P31
#:   hs(w1,w2,w3)    = ((hw1·WB + hw2) mod P31 · WB + hw3) mod P31
#:   m_j             = min over the doc's DISTINCT hs values of
#:                     (A_j·hs + B_j) mod P31
#:
#: The polynomial family replaces the earlier md5-per-shingle one: it never
#: materializes shingle strings (the former cost ~50% of signature wall —
#: see module docstring) and vectorizes — the production path hashes each
#: distinct WORD once (per-batch cache) and combines hashes with numpy
#: arithmetic. All bounds stay in int64: values < P31 ≈ 2³¹, WB ≈ 2²⁰ →
#: products < 2⁵¹. Replayed exactly by DuckDB (list_reduce Horner) and by
#: the per-row Spark twin (nested HOF fold).
P31 = 2147483647  # 2^31 - 1 (Mersenne)
WORD_B = 1_000_003
PERM_A = [(2 * j + 1) * 2654435761 % P31 for j in range(NUM_PERM)]
PERM_B = [(j * 40503 + 2654435769) % P31 for j in range(NUM_PERM)]

_SIG_SCHEMA = StructType(
    [StructField(f"m{j}", LongType()) for j in range(NUM_PERM)]
)


def word_hash_py(w: str) -> int:
    """Python reference of hw() — ground truth for tests."""
    acc = 0
    for ch in w:
        acc = (acc * WORD_B + ord(ch)) % P31
    return acc


@F.pandas_udf(_SIG_SCHEMA)
def _minhash_udf(texts: pd.Series) -> pd.DataFrame:
    """Production signature kernel: per-batch word-hash cache (Zipf makes
    hits dominate), numpy shingle combine + affine mins. No shuffle, no
    string shingles, no per-permutation rehash."""
    import numpy as np

    A = np.array(PERM_A, dtype=np.int64)
    B = np.array(PERM_B, dtype=np.int64)
    cache: dict[str, int] = {}
    rows = []
    for text in texts.fillna(""):
        words = [w for w in text.split(" ") if w]
        if len(words) < SHINGLE_N:
            rows.append([None] * NUM_PERM)
            continue
        hw = np.fromiter(
            (
                cache[w] if w in cache else cache.setdefault(w, word_hash_py(w))
                for w in words
            ),
            dtype=np.int64,
            count=len(words),
        )
        t = (hw[:-2] * WORD_B + hw[1:-1]) % P31
        hs = np.unique((t * WORD_B + hw[2:]) % P31)
        mins = ((np.outer(hs, A) + B) % P31).min(axis=0)
        rows.append(mins.tolist())
    return pd.DataFrame(rows, columns=[f"m{j}" for j in range(NUM_PERM)])


def _shingle_hashes_expr(text_col: str = "text", n: int = SHINGLE_N) -> str:
    """Spark-SQL per-row twin of the distinct shingle-hash array."""
    words = f"filter(split({text_col}, ' ', -1), w -> w != '')"
    hw = (
        f"transform({words}, w -> aggregate(sequence(1, length(w)),"
        f" cast(0 as bigint),"
        f" (acc, i) -> (acc * {WORD_B} + ascii(substring(w, i, 1))) % {P31}))"
    )
    m = f"(size({hw}) - {n - 1})"
    pair = (
        f"zip_with(slice({hw}, 1, {m}), slice({hw}, 2, {m}),"
        f" (x, y) -> (x * {WORD_B} + y) % {P31})"
    )
    tri = (
        f"zip_with({pair}, slice({hw}, 3, {m}),"
        f" (x, y) -> (x * {WORD_B} + y) % {P31})"
    )
    return (
        f"array_distinct(CASE WHEN size({words}) >= {n}"
        f" THEN {tri} ELSE array() END)"
    )


def minhash_columns(
    text_col: str = "text", num_perm: int = NUM_PERM, n: int = SHINGLE_N
) -> list[Column]:
    """k MinHash values as per-row Spark expressions — value-identical to
    :func:`minhash_signatures` (the numpy form). HOF lambdas are
    interpreted, so this form is for composition/tests; full-table
    signature jobs use the UDF."""
    base = F.expr(_shingle_hashes_expr(text_col, n))

    def permuter(j: int):
        # single-arg lambda factory — a `lambda h, j=j:` two-param form
        # would receive (element, index) from the HOF binder
        return lambda h: (F.lit(PERM_A[j]) * h + F.lit(PERM_B[j])) % P31

    return [
        F.array_min(F.transform(base, permuter(j))).alias(f"m{j}")
        for j in range(num_perm)
    ]


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_perm: int = NUM_PERM,
) -> DataFrame:
    """Signature table via the vectorized Arrow kernel — zero shuffles;
    measured 4× faster than the md5 explode-agg form at 100k docs (and the
    md5 form was itself 3× over the salted-md5-per-permutation one)."""
    assert num_perm == NUM_PERM, "schema is fixed at NUM_PERM columns"
    return df.select(
        id_col, _minhash_udf(text_col).alias("r")
    ).select(id_col, "r.*")


def band_table(
    sig: DataFrame, id_col: str = "doc_id",
    num_perm: int = NUM_PERM, rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Explode a signature table into (id, band, band_hash) rows — the LSH
    bucketing key. One output row per band per doc.

    Docs with NULL signatures (shorter than the shingle width — empty after
    cleaning, say) get no rows: ``concat_ws`` skips NULLs, so they would
    all collide in the md5('') bucket and generate O(n²) false candidate
    pairs. A doc with no shingles has no similarity evidence; it can't be a
    fuzzy duplicate of anything. The guard sits inside the explode
    (``explode(when(m0 IS NOT NULL, array(bands)))``) rather than in a
    filter: Catalyst pushes a filter on a pandas-UDF output field below
    the UDF's projection, which evaluates the signature kernel twice."""
    bands = []
    for b in range(num_perm // rows_per_band):
        cols = [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_hash"),
            )
        )
    guarded = F.when(F.col("m0").isNotNull(), F.array(*bands))
    return sig.select(id_col, F.explode(guarded).alias("bh")).select(
        id_col,
        F.col("bh.band").alias("band"),
        F.col("bh.band_hash").alias("band_hash"),
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id",
    num_perm: int = NUM_PERM, rows_per_band: int = ROWS_PER_BAND,
    distinct: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    One shuffle groups the band rows by (band, band_hash) into each
    bucket's sorted member list; ``posexplode`` then pairs member i with
    every later member (``explode(slice(ids, i + 2, n))``), keeping
    ``id_a < id_b``. The pairs of a hot bucket stream out of the two
    generators; no O(m²) array is built. The signature table feeds one
    plan branch, so its kernel runs once, where a self-join evaluates it
    once per join side.

    ``distinct=False`` skips the pair-dedup exchange and returns the raw
    banded pairs — one row per SHARED BAND, so a pair colliding in k
    bands appears k (≤ ``num_perm/rows_per_band``) times, and a doc id
    repeated in ``sig`` repeats its pairs as a self-join on the bucket
    would. For pair-LISTING consumers (q52 and its oracle) distinct is
    the semantics; for a consumer that tolerates duplicate edges —
    connected components' hooks and labels do by algebra — the distinct
    is a pure extra shuffle stage."""
    buckets = (
        band_table(sig, id_col, num_perm, rows_per_band)
        .groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
    )
    out = (
        buckets.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return out.distinct() if distinct else out


# ------------------------------------------------------------------ queries

def _shingle_hashes_sql(text_expr: str = "text", n: int = SHINGLE_N) -> str:
    """DuckDB twin of :func:`_shingle_hashes_expr` (distinct shingle-hash
    list). list_reduce seeds its accumulator with the first element, which
    equals the acc=0 Horner after one step, so the folds agree."""
    words = f"list_filter(string_split({text_expr}, ' '), w -> w != '')"
    hw = (
        f"list_transform({words}, w -> list_reduce("
        f"list_transform(range(1, length(w) + 1),"
        f" i -> CAST(ascii(substr(w, i, 1)) AS BIGINT)),"
        f" (acc, x) -> (acc * {WORD_B} + x) % {P31}))"
    )
    hs = (
        f"list_transform(range(1, greatest(len({hw}) - {n - 2}, 1)),"
        f" i -> ((({hw})[i] * {WORD_B} + ({hw})[i + 1]) % {P31}"
        f" * {WORD_B} + ({hw})[i + 2]) % {P31})"
    )
    return (
        f"list_distinct(CASE WHEN len({words}) >= {n}"
        f" THEN {hs} ELSE [] END)"
    )


def _minhash_sql_cols(num_perm: int = NUM_PERM) -> list[str]:
    base = _shingle_hashes_sql("text", SHINGLE_N)
    return [
        f"list_min(list_transform({base},"
        f" h -> ({PERM_A[j]} * h + {PERM_B[j]}) % {P31})) AS m{j}"
        for j in range(num_perm)
    ]


def _bands_sql(null_guard: bool = False) -> str:
    """The band-projection UNION ALL block shared by every LSH oracle
    (q52/q56/q58/q93/q133 families) — one definition so a bands/rows or
    band-hash change cannot silently diverge between oracles. The
    optional NULL guard drops NULL-signature rows early; without it
    they still never pair (NULL band_hash never equals anything), so
    the flag only mirrors each oracle's historical text."""
    guard = " WHERE m0 IS NOT NULL" if null_guard else ""
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band,"
        f" md5(m{b * ROWS_PER_BAND} || ',' || m{b * ROWS_PER_BAND + 1})"
        f" AS band_hash FROM sig{guard}"
        for b in range(NUM_BANDS)
    )


# ---------------------------------------------------------------- q50
@register(
    "q50_exact_dedup_survivors",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q50_exact_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash with a deterministic survivor (min id) —
    the rebuild of ``dropDuplicates`` (SURVEY.md P8) in the form that also
    reports group sizes. One shuffle on the 128-bit content hash; at 100 TB
    the hash shuffle moves ~48 bytes/doc, not the documents."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


# ---------------------------------------------------------------- q51
@register(
    "q51_minhash_signatures",
    oracle="SELECT doc_id, "
    + ", ".join(_minhash_sql_cols())
    + " FROM documents",
)
def q51_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature table (8 affine permutations over one 60-bit hash
    of each distinct 3-word shingle) in the explode → codegen'd groupBy-min
    shape; shuffle volume is one row per doc after partial aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs)


# ---------------------------------------------------------------- q52
def _pairs_sql() -> str:
    sig_cols = ", ".join(_minhash_sql_cols())
    band_rows = _bands_sql()
    eq_terms = " + ".join(
        f"CAST(sa.m{j} = sb.m{j} AS INT)" for j in range(NUM_PERM)
    )
    return f"""
    WITH sig AS (SELECT doc_id, {sig_cols} FROM documents),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(({eq_terms}) / {NUM_PERM}.0, 6) AS est_jaccard
    FROM cand c
    JOIN sig sa ON c.id_a = sa.doc_id
    JOIN sig sb ON c.id_b = sb.doc_id
    WHERE ({eq_terms}) / {NUM_PERM}.0 >= {MINHASH_EST_THRESHOLD}
    """


#: Minimum fraction of agreeing minhashes for an LSH candidate pair to
#: count as estimate-verified (shared by q52, the funnel sweep, and the
#: oracle SQL — one constant, no drift).
MINHASH_EST_THRESHOLD = 0.5


def pair_est_jaccard(
    sig: DataFrame,
    pairs: DataFrame,
    threshold: float = MINHASH_EST_THRESHOLD,
) -> DataFrame:
    """Signature-agreement verify: attach the estimated Jaccard (fraction
    of agreeing minhashes) to candidate ``(id_a, id_b)`` pairs and keep
    those at/above ``threshold``. DataFrame-in helper shared by q52 and
    tools/funnel_sweep.py so the production query and the measured
    funnel cannot desynchronize."""
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    eq_terms = [
        (F.col(f"sa.m{j}") == F.col(f"sb.m{j}")).cast("int")
        for j in range(NUM_PERM)
    ]
    est = functools.reduce(operator.add, eq_terms) / float(NUM_PERM)
    return (
        pairs.join(sa, pairs.id_a == F.col("sa.doc_id"))
        .join(sb, pairs.id_b == F.col("sb.doc_id"))
        .filter(est >= threshold)
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
    )


@register("q52_minhash_lsh_pairs", oracle=_pairs_sql())
def q52_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs with estimated Jaccard
    (fraction of agreeing minhashes), threshold {MINHASH_EST_THRESHOLD}.
    The full scale-path pipeline: signature (narrow) → band bucketing
    (shuffle on band hash) → in-bucket pair generation → signature
    verify (broadcast-friendly joins)."""
    docs = load_table(spark, sf_dir, "documents")
    # the signature table feeds four plan branches (the bucket grouping,
    # the budget gate's bands, two verify joins) — cache it so
    # signatures are computed once
    sig = scoped_cache("q52_minhash_lsh_pairs", minhash_signatures(docs))
    # pair-listing budget: the pair LIST is
    # quadratic in copy count by semantics; fail loudly instead of
    # quietly shuffling billions of candidate rows on a dup-dense corpus
    return pair_budget_gate(
        pair_est_jaccard(sig, lsh_candidate_pairs(sig)),
        band_table(sig), ["band", "band_hash"],
        "q52_minhash_lsh_pairs",
        "q56_dedup_components / q125_dedup_impact_audit",
    )


# ---------------------------------------------------------------- q108
#: Minimum normalized edit similarity (1 - lev/max_len) for a verified
#: LSH pair to count as a confirmed near-duplicate.
EDIT_SIM_THRESHOLD = 0.6


def _editdist_sql() -> str:
    return f"""
    WITH pairs AS ({_pairs_sql()}),
    lev AS (
      SELECT p.id_a, p.id_b, p.est_jaccard,
             levenshtein(da.text, db.text) AS edit_dist,
             greatest(length(da.text), length(db.text)) AS max_len
      FROM pairs p
      JOIN documents da ON p.id_a = da.doc_id
      JOIN documents db ON p.id_b = db.doc_id
    )
    SELECT id_a, id_b, est_jaccard, edit_dist,
           round(1 - edit_dist / CAST(max_len AS DOUBLE), 6) AS edit_sim
    FROM lev
    WHERE 1 - edit_dist / CAST(max_len AS DOUBLE) >= {EDIT_SIM_THRESHOLD}
    """


@register("q108_editdist_verify", oracle=_editdist_sql())
def q108_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third stage of the fuzzy-dedup funnel: LSH candidates →
    MinHash estimate (q52) → EXACT edit-distance confirmation. Character
    Levenshtein is quadratic in document length, so it must never touch
    the corpus cross product — here it runs only on the q52-verified
    pair set (candidate volume ∝ true-duplicate density), with each
    side's text fetched by an id join. ``F.levenshtein`` is JVM codegen
    over unit-cost CODEPOINT edits — the linguistically right unit for a
    multilingual corpus. DuckDB's ``levenshtein`` is BYTE-based (verified
    empirically: 'café'→'cafe' costs 2 there, 1 in Spark), so oracle
    parity is exact only on ASCII text — which the driver testdata is
    (checked: 0 non-ASCII docs at every SF); the engine semantics are
    pinned independently in tests/test_dedup.py (ASCII parity vs DuckDB
    + codepoint behavior on Devanagari/CJK where the engines diverge).

    The Spark side uses the BOUNDED 3-arg ``levenshtein`` with a
    PER-PAIR threshold K = floor((1 - T) · max(len_a, len_b)): any
    pair passing the similarity gate has an integer distance ≤ K by
    definition of the gate, so the bounded form returns the exact
    distance for every surviving pair and -1 (filtered, as the
    unbounded gate also would) otherwise — identical output, but cost
    per pair drops from O(len²) to O(len·K), which is what makes the
    verify stage affordable on book-length documents. (A GLOBAL
    max-length bound would cost a whole extra aggregate action — a
    full corpus pass — before the verify plan could even be built; the
    per-row bound is computable inside the join row and strictly
    tighter.)"""
    docs = load_table(spark, sf_dir, "documents")
    return edit_verify(docs, q52_minhash_lsh_pairs(spark, sf_dir))


def edit_verify(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = EDIT_SIM_THRESHOLD,
) -> DataFrame:
    """Bounded edit-distance confirmation of ``(id_a, id_b, ...)`` pairs
    against a ``(doc_id, text)`` corpus — the q108 stage as a
    DataFrame-in helper shared with tools/funnel_sweep.py so the
    production query and the measured funnel cannot desynchronize.
    Extra pair columns (e.g. ``est_jaccard``) pass
    through untouched."""
    from fractions import Fraction

    # PER-PAIR bound K = floor((1-T) · max(len_a, len_b)) as an exact
    # rational (int((1-T)*len) on floats happens to be right for T=0.6
    # but can under-bound K when the float product rounds down across
    # an integer). Any pair passing the similarity
    # gate has dist ≤ floor((1-T)·its own max_len) = K(pair), so the
    # bounded form returns the exact distance for every survivor and
    # -1 (filtered, as the unbounded gate also would) otherwise. The
    # per-row bound replaces the former GLOBAL max-length aggregate —
    # one whole driver action + corpus pass fewer per call — and is
    # strictly tighter, so the O(len·K) verify cost shrinks too.
    frac = 1 - Fraction(str(threshold))
    k_bound = (
        f"cast(({frac.numerator} * greatest(length(text_a),"
        f" length(text_b))) div {frac.denominator} as int)"
    )
    keep = list(pairs.columns)
    da = docs.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
    )
    db = docs.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")
    )
    lev = (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            *keep,
            F.expr(f"levenshtein(text_a, text_b, {k_bound})").alias(
                "edit_dist"
            ),
            F.greatest(
                F.length("text_a"), F.length("text_b")
            ).alias("max_len"),
        )
    )
    sim = 1 - F.col("edit_dist") / F.col("max_len").cast("double")
    return lev.filter(
        (F.col("edit_dist") >= 0) & (sim >= threshold)
    ).select(
        *keep,
        "edit_dist",
        F.round(sim, 6).alias("edit_sim"),
    )


# ---------------------------------------------------------------- q53
TOK_MAX_DF = 10    # drop tokens present in > this many docs (hot-key guard)
TOK_JACCARD_THRESHOLD = 0.75


@register(
    "q53_token_jaccard_pairs",
    oracle=f"""
    WITH toks0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(list_filter(string_split(text, ' '),
                                              t -> t != ''))) AS tok
      FROM documents
    ),
    rare AS (
      SELECT tok FROM toks0 GROUP BY tok HAVING count(*) <= {TOK_MAX_DF}
    ),
    toks AS (
      SELECT t.doc_id, t.tok FROM toks0 t JOIN rare r ON t.tok = r.tok
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.id_a, s.id_b,
           round(s.n_shared / CAST(sa.n + sb.n - s.n_shared AS DOUBLE), 6)
             AS jaccard
    FROM shared s
    JOIN sizes sa ON s.id_a = sa.doc_id
    JOIN sizes sb ON s.id_b = sb.doc_id
    WHERE s.n_shared / CAST(sa.n + sb.n - s.n_shared AS DOUBLE)
          >= {TOK_JACCARD_THRESHOLD}
    """,
)
def q53_token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over the RARE-token universe: tokens present in more
    than {TOK_MAX_DF} docs are dropped before the inverted-index self-join
    (the same document-frequency hot-key guard as q37's ``FP_MAX_DF``), so
    per-token join work is ≤ DF² and total cost is linear in corpus size. A
    stopword-like token in every doc would otherwise alone emit O(n²) join
    rows. Semantically this is DF-weighted near-dup detection: ubiquitous
    tokens carry no similarity evidence, so the measure is
    |A∩B| / |A∪B| over each doc's rare tokens — near-identical docs still
    score ~1.0 because they share their rare tokens too. The un-capped
    exact measure lives in q58, where an LSH prefilter bounds the pair set
    first."""
    docs = load_table(spark, sf_dir, "documents")
    # the capped token table feeds four plan branches (DF count, both
    # self-join sides, sizes) — cache so tokenization runs once
    toks0 = docs.select("doc_id", F.explode(distinct_tokens()).alias("tok"))
    rare = toks0.groupBy("tok").agg(F.count("*").alias("df")).filter(
        F.col("df") <= TOK_MAX_DF
    )
    toks = scoped_cache(
        "q53_token_jaccard_pairs", toks0.join(rare.select("tok"), "tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = toks.alias("a")
    b = toks.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_shared") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_shared")
    ).cast("double")
    return (
        shared.join(sa, shared.id_a == F.col("sa.doc_id"))
        .join(sb, shared.id_b == F.col("sb.doc_id"))
        .filter(jac >= TOK_JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------- q54
SIMHASH_BITS = 32


@register(
    "q54_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(list_filter(string_split(text, ' '),
                                              t -> t != ''))) AS tok
      FROM documents
    ),
    bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN ({hash64_sql('tok')} >> i) % 2 = 1
                      THEN 1 ELSE -1 END) AS balance
      FROM toks, unnest(range(0, {SIMHASH_BITS})) AS u(i)
      GROUP BY doc_id, i
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN balance > 0 THEN CAST(1 AS BIGINT) << i
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id
    """,
)
def q54_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over distinct tokens: bit i of the fingerprint is the
    sign of Σ_tokens (±1 by bit i of the token hash). Near-duplicates land
    within small Hamming distance.

    Registered on the narrow per-row form (`simhash_column`: aggregate over
    the token array, zero shuffles, zero row explosion) — the oracle keeps
    the relational explode-tokens×bits spelling, and the two are proven
    value-identical in tests. The explode composition this replaced
    shuffled tokens × {SIMHASH_BITS} bit-rows through two groupBys — 32×
    token-count shuffle volume for a per-row computation."""
    # a NULL text has no tokens and therefore NO fingerprint — the row
    # is dropped, matching the oracle (its token explode yields no rows
    # for NULL and the doc never reaches the fingerprint aggregate)
    # simhash_column is a heavy per-row HOF aggregate; single-row-group
    # scan would serialize it on one core —
    # the rebalance is a no-op at scale
    docs = load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return docs.select(
        "doc_id", simhash_column("text", distinct=True).alias("simhash")
    )


def simhash_column(
    text_col: str = "text", bits: int = SIMHASH_BITS, distinct: bool = True
) -> Column:
    """Shuffle-free SimHash: fold the token array per row. With
    ``distinct=True``, identical values to q54 (set-of-tokens SimHash);
    with ``distinct=False``, the frequency-WEIGHTED variant (every token
    occurrence contributes ±1) — far more discriminative on corpora that
    share a vocabulary, which is why q57's near-dup banding uses it.
    Linear, narrow, codegen'd — the form to use in pipelines."""
    toks = (
        distinct_tokens(text_col)
        if distinct
        else F.filter(
            F.split(F.col(text_col), " ", -1), lambda w: w != F.lit("")
        )
    )
    hashes = F.transform(toks, lambda t: hash64(t))
    # ONE fold with a {bits}-long balance-vector accumulator. The first
    # form ran {bits} separate F.aggregate folds, each re-inlining the
    # md5 token-hash transform — 32 md5 passes per row; this form
    # hashes each token once and updates all bit balances in a single
    # zip_with (measured 5.7x on the full sf0.1 corpus, 4.67s → 0.82s,
    # value-identical on every doc). The bit mask is pow(2, i) cast to
    # long — exact for i < 63 — because shiftleft/shiftright require a
    # LITERAL shift amount and i here is the zip_with index column.
    bal = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda a, i: a
            + F.when(
                h.bitwiseAND(F.pow(F.lit(2.0), i).cast("long")) != 0, 1
            ).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bal,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda b, i: F.when(
                b > 0, F.pow(F.lit(2.0), i).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


# ------------------------------------------------------- survivor selection

def _min_roots(u, v):
    """Connected components of the edge list ``(u[i], v[i])`` in numpy:
    returns ``(nodes, roots)`` — every distinct node once, sorted, with
    the minimum node of its component.

    Hook + full pointer jumping over node indices (``np.unique`` order,
    so the smallest index is the smallest id): every iteration hooks
    the larger root of each edge whose endpoints' roots differ under
    the smaller one (``minimum.at`` keeps the least of competing
    hooks), then jumps pointers until every node points at a root
    (``lab[lab] == lab``). A pointer never increases and never leaves
    its component, so the one root left per component is its minimum.
    Permuted-id chains need ~log2(n) iterations (10 on 20,001 nodes,
    11 on 200,001); min-label propagation with one jump per iteration
    needs O(diameter) there (8,475 iterations on 20,001 nodes)."""
    import numpy as np

    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u) :]
    lab = np.arange(len(nodes))
    while True:
        ra, rb = lab[a], lab[b]
        hook = ra != rb
        if not hook.any():
            return nodes, nodes[lab]
        np.minimum.at(
            lab, np.maximum(ra, rb)[hook], np.minimum(ra, rb)[hook]
        )
        while not np.array_equal(up := lab[lab], lab):
            lab = up


def _star_forest(batches):
    """``mapInPandas`` body: one partition's ``(u, v)`` edges in, every
    node of the partition once out as ``(doc_id, component)``, labelled
    with the minimum node of its component among these edges
    (:func:`_min_roots`) — a forest of stars."""
    import numpy as np

    cols = [(b["u"].to_numpy(), b["v"].to_numpy()) for b in batches]
    if cols:
        nodes, roots = _min_roots(*(np.concatenate(c) for c in zip(*cols)))
        yield pd.DataFrame({"doc_id": nodes, "component": roots})


def _hook_jump_loop(forest: DataFrame, max_iterations: int):
    """Finish a multi-partition star forest: ``(labels, rounds)``.

    The state is a parent pointer ``f``, seeded with each node's least
    root. With ``m(n)`` the least pointer of n's neighbours, a round
    lowers ``f(n)`` to ``m(n)`` (min-label) and ``f(f(n))`` to ``m(n)``
    (FastSV's stochastic hooking, Zhang, Azad & Hu, SIAM PP 2020: n's
    whole tree hooks under the smaller one next to it), and the next
    round starts with one jump, ``f ← f∘f``. Min-label + jump alone is
    O(log d) rounds only on chains whose ids are sorted along them and
    O(d) on permuted ones, the normal shape of LSH chains; the hook
    makes both O(log n) (numpy, 8-partition seed: 6 rounds on a
    251-node permuted chain and 15 on a 200,001-node one, where
    min-label + jump needs 154 and thousands; 14 on a sorted
    20,001-node chain, as before). Pointers only decrease and stay
    inside their component, so a round that lowers none is the
    fixpoint: ``f ≤ m`` equates the pointers across every edge.

    One checkpoint a round — the hooked pointers, whose projection
    carries the change flag — keeps lineage one round deep. Every join
    is hinted to sort-merge: a checkpoint keeps the size estimate of
    the plan it cut (the edge count's), and broadcasts planned from it
    ran a 10M-edge graph out of heap."""
    # a star edge (root, node) is canonical (root < node); distinct drops
    # the copies that partitions sharing a node emit, and the flipped
    # copy is disjoint from it: no second distinct shuffle to symmetrize
    ded = (
        forest.filter(F.col("doc_id") != F.col("component"))
        .select(F.col("component").alias("u"), F.col("doc_id").alias("v"))
        .distinct()
    )
    edges = ded.union(
        ded.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    typ = forest.schema["doc_id"].dataType
    par = forest.groupBy("doc_id").agg(F.min("component").alias("f"))
    for rounds in range(1, max_iterations + 1):
        m = edges.join(
            par.select(F.col("doc_id").alias("v"), F.col("f").alias("fv"))
            .hint("merge"), "v",
        ).groupBy(F.col("u").alias("doc_id")).agg(F.min("fv").alias("m"))
        # per node its own candidates (carrying the old pointer) and its
        # hook onto its parent; least/min skip the NULL m of a node
        # whose only edge is a self-loop
        own = F.struct(
            F.col("doc_id").alias("n"),
            F.least("f", "m").alias("c"),
            F.col("f").alias("was"),
        )
        up = F.struct(
            F.col("f").alias("n"),
            F.col("m").alias("c"),
            F.lit(None).cast(typ).alias("was"),
        )
        hooked = (
            par.join(m.hint("merge"), "doc_id", "left")
            .select(F.explode(F.array(own, up)).alias("h"))
            .groupBy(F.col("h.n").alias("doc_id"))
            .agg(F.min("h.c").alias("c"), F.min("h.was").alias("was"))
            .select("doc_id", "c", (F.col("c") < F.col("was")).alias("chg"))
            .localCheckpoint()
        )
        if hooked.filter("chg").limit(1).count() == 0:
            return hooked.select("doc_id", F.col("c").alias("component")), rounds
        par = hooked.join(
            hooked.select(F.col("doc_id").alias("c"), F.col("c").alias("f"))
            .hint("merge"), "c",
        ).select("doc_id", "f")
    # non-converged labels would silently mismatch the exact
    # transitive-closure oracle; a graph that needs more rounds is
    # pathological (e.g. LSH banding misconfigured into one giant
    # component), so fail loudly
    raise RuntimeError(
        f"connected_components did not converge within "
        f"{max_iterations} iterations — labels still changing; "
        "raise max_iterations or inspect the pair graph for "
        "degenerate chains"
    )


def connected_components(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Connected components over near-duplicate ``(id_a, id_b)`` pairs:
    (doc_id, component) for every node, component = the min member id —
    dedup keeps one survivor per component, exactly the component label.

    Input contract: ``pairs`` may be in either orientation, repeat
    edges (e.g. the raw banded pairs of ``lsh_candidate_pairs(distinct=
    False)``, one row per shared band) and hold self-loops. Duplicate
    edges change nothing algebraically (hooks and labels aggregate by
    min), so no pair-dedup shuffle runs up front: the pairs are
    projected to ``(least, greatest)`` — no exchange, and the identity
    on canonical pairs.

    One path — contract locally, then iterate globally (the large-star /
    small-star shape of Kiveris et al., SoCC 2014). The edges shuffle by
    ``u`` and one ``mapInPandas`` kernel per partition solves that
    partition's edges in numpy (:func:`_star_forest`), emitting a forest
    of stars ``(node, local min root)``, which ``localCheckpoint``
    materializes. With ONE forest partition, AQE coalesced the whole
    shuffle into one, so the kernel saw every edge and its roots are
    final: the checkpoint is the only eager action, and the forest
    comes back broadcast-hinted (without the hint its estimated size
    flips the funnel's join-back to a sort-merge join at sf0.1). With
    several, :func:`_hook_jump_loop` finishes on the star edges.

    The AQE conf, not this function, bounds that broadcast: only a
    shuffle below AQE's coalescing target ends in one partition. Under
    Spark's default ``coalescePartitions.parallelismFirst=true`` the
    target is the 1 MB ``minPartitionSize`` (tens of thousands of
    edges); with it off, ``advisoryPartitionSizeInBytes`` (64 MB by
    default, 256 MB in :func:`setu_spark.session.cluster_conf`).

    Each call logs one :data:`DISPATCH_LOG` record whose ``partitions``
    and ``rounds`` attributes carry the forest's partition count and
    the rounds the loop ran (0 on one partition)."""
    a, b = F.col("id_a"), F.col("id_b")
    und = pairs.select(
        F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
    )
    typ = und.schema["u"].dataType
    forest = (
        und.repartition("u")
        .mapInPandas(
            _star_forest,
            StructType(
                [StructField("doc_id", typ), StructField("component", typ)]
            ),
        )
        .localCheckpoint()
    )
    partitions = forest.rdd.getNumPartitions()
    labels, rounds = (
        (F.broadcast(forest), 0)
        if partitions <= 1
        else _hook_jump_loop(forest, max_iterations)
    )
    DISPATCH_LOG.info(
        "connected_components: %d forest partitions, %d rounds",
        partitions,
        rounds,
        extra={"partitions": partitions, "rounds": rounds},
    )
    return labels


def exact_collapsed_components(
    docs: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, component, in_graph[, *carry]) for EVERY document — the LSH/CC
    funnel run in production order: exact-duplicate groups (min doc_id
    per md5(text)) collapse to one representative, the rep graph goes
    through signatures → banding → connected components, and labels
    join back over the group mapping.

    Label-identical to running the funnel over every copy, because
    identical text ⇒ identical signature ⇒ exact copies share every
    band: a copy clique contributes no connectivity beyond its rep, and
    the full-graph min-id label equals the rep-graph label (the min doc
    of any component is its own exact group's rep). ``in_graph``
    reconstructs naive pair-graph membership exactly: a doc has ≥1
    candidate pair iff its exact group has ≥2 copies (the copies pair
    with each other) or its rep pairs with another rep. Docs too short
    to shingle (the signature kernel's NON-EMPTY word count — not the
    raw split size — must decide this, matching the NULL-signature band
    guard) never pair, so they keep their own component with
    ``in_graph`` false. Pinned by planted equivalence tests against the
    uncollapsed composition for all three funnel queries (q56/q125/
    q144).

    Why this is the 100 TB form: LSH pair volume is quadratic in copy
    count per exact clique, so duplicate-dense corpora (the ones dedup
    exists for) explode the pair stage; collapsing first bounds it by
    the UNIQUE-text graph. Measured at the 100× stress corpus (every
    doc a 100-clique): q56 149s → 13s, q125 153s → 16s, q144
    196s → 21s. At duplicate-sparse small scale the md5 group/join
    overhead buys no shrink (~+0.7s at sf0.1) — the right side of the
    trade.

    Plan shape (each choice row-identical to the naive composition):

    * ``carry`` columns of ``docs`` ride the funnel into the output, so
      consumers that need per-doc attributes (q125/q150 n_chars, q149
      source) do not re-scan the corpus and join back on doc_id. They
      ride the existing k-shuffle (a few bytes each; Catalyst prunes
      them from plans that don't select them).
    * doc2rep left-joins the CC labels directly on rep_id. Every
      doc2rep.rep_id exists in reps, so ``coalesce(component, rep_id)``
      / ``component IS NOT NULL`` need no per-rep intermediate — and
      the plan avoids a second full scan→groupBy(k) recompute of the
      rep set.
    * the CC labels arrive broadcast-hinted when the graph fits one
      forest partition (see :func:`connected_components`), and the raw
      banded candidate pairs go into CC with no pair-dedup exchange."""
    # Null-safe: for NULL text the size(...) >= N predicate evaluates to
    # NULL, and a bare filter(ok)/filter(~ok) split would drop the row
    # from BOTH branches. NULL-text docs must land in short_full with
    # their own singleton component, like the oracles (comp_full over
    # ALL documents) and the pre-collapse left-join path.
    shingleable = F.coalesce(
        F.size(
            F.filter(
                F.split(F.col("text"), " ", -1),
                lambda w: w != F.lit(""),
            )
        )
        >= SHINGLE_N,
        F.lit(False),
    )
    keyed = docs.select(
        "doc_id",
        "text",
        *carry,
        F.md5("text").alias("k"),
        shingleable.alias("ok"),
    )
    long_docs = keyed.filter(F.col("ok"))
    # texts within an md5(text) group are byte-identical, so min(text)
    # carries the rep's text through the SAME shuffle that picks the
    # rep id — no second join over the full corpus to recover it.
    # DELIBERATELY uncached although reps feeds multiple branches: an
    # interleaved A/B at sf0.1 AND the 100× corpus measured no win from
    # scope-caching it (the funnel's cost lives in the signature kernel
    # and checkpoint, not this groupBy), and at real scale caching a
    # unique-text-sized table trades a cheap scan+shuffle recompute for
    # corpus-scale executor storage pressure (PERF.md negative result).
    reps = long_docs.groupBy("k").agg(
        F.min("doc_id").alias("rep_id"),
        F.min("text").alias("text"),
        F.count("*").alias("group_size"),
    )
    doc2rep = (
        long_docs.select("doc_id", "k", *carry)
        .join(reps.select("k", "rep_id", "group_size"), "k")
        .select("doc_id", "rep_id", "group_size", *carry)
    )
    rep_docs = reps.select(F.col("rep_id").alias("doc_id"), "text")
    sig = minhash_signatures(rep_docs)
    # raw banded pairs: CC tolerates duplicate edges, so the pair-dedup
    # exchange (a whole stage before CC's eager checkpoint) is skipped
    pairs = lsh_candidate_pairs(sig, distinct=False)
    comps = connected_components(pairs)
    long_full = doc2rep.join(
        comps.withColumnRenamed("doc_id", "rep_id"), "rep_id", "left"
    ).select(
        "doc_id",
        F.coalesce("component", F.col("rep_id")).alias("component"),
        (
            (F.col("group_size") >= 2) | F.col("component").isNotNull()
        ).alias("in_graph"),
        *carry,
    )
    short_full = keyed.filter(~F.col("ok")).select(
        "doc_id",
        F.col("doc_id").alias("component"),
        F.lit(False).alias("in_graph"),
        *carry,
    )
    return long_full.unionByName(short_full)


def _components_cte() -> str:
    """Shared DuckDB CTE chain (q56/q125): the same LSH candidate edges
    as :func:`_pairs_sql` (un-thresholded), then components by recursive
    transitive closure — component label = min reachable doc_id, exactly
    the fixpoint the iterative min-label propagation converges to.
    Closure cost is per-cluster quadratic, and near-dup clusters are
    small, so the oracle stays cheap at oracle scale."""
    sig_cols = ", ".join(_minhash_sql_cols())
    band_rows = _bands_sql()
    return f"""
    WITH RECURSIVE sig AS (
      SELECT doc_id, {sig_cols} FROM documents
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM cand
      UNION SELECT id_b, id_a FROM cand
    ),
    reach (u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u
    )"""


def _components_sql() -> str:
    """DuckDB oracle for q56: per-component survivor stats over the
    transitive-closure components."""
    return f"""{_components_cte()}
    SELECT component,
           count(*) AS cluster_size,
           min(doc_id) AS survivor_doc_id
    FROM comp GROUP BY component
    """


@register("q56_dedup_components", oracle=_components_sql())
def q56_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy-dedup decision: MinHash signatures → LSH candidate
    pairs → connected components → per-component survivor stats, run in
    production order through :func:`exact_collapsed_components` (exact
    groups collapse to reps before the funnel — label- and
    membership-identical to the uncollapsed composition, see its proof;
    149s → 13s at the duplicate-dense 100× corpus). The fixpoint is
    oracle-checked against a DuckDB recursive transitive closure
    (:func:`_components_sql`) over the UNCOLLAPSED graph; the component
    math is additionally pinned by unit tests on planted duplicate
    clusters and a collapsed≡naive equivalence test. ``in_graph``
    restores the historical output contract exactly: only docs with ≥1
    candidate pair appear, and the survivor is the member min id ( =
    the component label)."""
    docs = load_table(spark, sf_dir, "documents")
    members = exact_collapsed_components(docs).filter(F.col("in_graph"))
    return members.groupBy("component").agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("survivor_doc_id"),
    )


# ---------------------------------------------------------------- q125
def _impact_sql() -> str:
    """DuckDB oracle for q125: q56's closure components, completed with
    the singleton docs, rolled up into the removal-impact histogram."""
    return f"""{_components_cte()},
    comp_full AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS component,
             d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    per AS (
      SELECT component,
             count(*) AS cluster_size,
             CAST(sum(n_chars) AS BIGINT)
               - CAST(arg_min(n_chars, doc_id) AS BIGINT) AS removed_chars
      FROM comp_full GROUP BY component
    )
    SELECT cluster_size,
           count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           CAST(sum(cluster_size - 1) AS BIGINT) AS removed_docs,
           CAST(sum(removed_chars) AS BIGINT) AS removed_chars
    FROM per GROUP BY cluster_size
    """


@register("q125_dedup_impact_audit", oracle=_impact_sql())
def q125_dedup_impact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact audit — the corpus-health readout a production run
    publishes BEFORE committing a dedup pass: the duplicate-cluster size
    histogram and, per size, how many documents and characters min-id
    survivor selection would remove. Every doc is accounted for
    (singletons enter as cluster_size 1 with zero removal), so
    ``sum(n_docs)`` equals the corpus count and ``sum(removed_chars)``
    is the exact byte savings of the q56 decision. The reference dedups
    blind (no audit artifact anywhere in its pipeline); cluster-size
    distributions are the standard sanity check that LSH banding is not
    degenerating into one giant component before a multi-day 100 TB job
    commits to it.

    Scale shape: q56's funnel in production order
    (:func:`exact_collapsed_components` — exact groups collapse to reps
    first, label-identical, 153s → 16s at the duplicate-dense 100×
    corpus), then one broadcast-sized rollup: per-component stats are
    one shuffle over the (doc, component) rows (``min_by`` keeps the
    survivor's chars without a self-join), and the histogram groups the
    ≤|components| rows — negligible next to the funnel."""
    docs = load_table(spark, sf_dir, "documents")
    # n_chars rides the funnel's carry: a docs⋈funnel join-back on
    # doc_id cost two exchanges + a join per consumer for a column the
    # k-shuffle can carry for free
    full = exact_collapsed_components(docs, carry=("n_chars",)).select(
        "doc_id", "component", "n_chars"
    )
    per = full.groupBy("component").agg(
        F.count("*").alias("cluster_size"),
        (F.sum("n_chars") - F.min_by("n_chars", "doc_id")).alias(
            "removed_chars"
        ),
    )
    return per.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).alias("removed_docs"),
        F.sum("removed_chars").alias("removed_chars"),
    )


# ---------------------------------------------------------------- q57
SIMHASH_BAND_BITS = 8
SIMHASH_MAX_HAMMING = 3  # pigeonhole: ham ≤ 3 ⇒ ≥1 of 4 bands identical


@F.pandas_udf(LongType())
def _weighted_simhash_udf(texts: pd.Series) -> pd.Series:
    """Frequency-weighted SimHash over the polynomial word hashes — one
    numpy pass per doc with the same per-batch word cache as MinHash."""
    import numpy as np

    shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
    cache: dict[str, int] = {}
    out = []
    for text in texts.fillna(""):
        words = [w for w in text.split(" ") if w]
        if not words:
            out.append(0)
            continue
        hw = np.fromiter(
            (
                cache[w] if w in cache else cache.setdefault(w, word_hash_py(w))
                for w in words
            ),
            dtype=np.int64,
            count=len(words),
        )
        bits = (hw[:, None] >> shifts) & 1          # [n_words × 32]
        balance = (2 * bits - 1).sum(axis=0)        # ±1 per occurrence
        out.append(int(((balance > 0) << shifts).sum()))
    return pd.Series(out)


def _simhash_sql() -> str:
    """DuckDB CTE computing (doc_id, simhash) — the frequency-WEIGHTED
    SimHash (every token occurrence votes ±1) over the polynomial word
    hash (`word_hash_py` family). The unweighted set variant (q54)
    degenerates on shared-vocabulary corpora: on the testdata its median
    pairwise Hamming is 7/32 with 1192 identical fingerprints at sf0.01;
    weighting by frequency moves the median to 10 and cuts ham≤3 pairs
    3×."""
    hw = (
        f"list_reduce(list_transform(range(1, length(tok) + 1),"
        f" i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT)),"
        f" (acc, x) -> (acc * {WORD_B} + x) % {P31})"
    )
    return f"""
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), t -> t != ''))
               AS tok
      FROM documents
    ),
    tc AS (
      SELECT doc_id, {hw} AS hw, count(*) AS cnt
      FROM toks GROUP BY doc_id, tok
    ),
    bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN (hw >> i) % 2 = 1 THEN cnt ELSE -cnt END)
               AS balance
      FROM tc, unnest(range(0, {SIMHASH_BITS})) AS u(i)
      GROUP BY doc_id, i
    ),
    sim AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN balance > 0 THEN CAST(1 AS BIGINT) << i
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    """


@register(
    "q57_simhash_neardup_pairs",
    oracle=f"""
    WITH {_simhash_sql()},
    bands AS (
      SELECT doc_id, b,
             (simhash >> (b * {SIMHASH_BAND_BITS})) % 256 AS band_val
      FROM sim, unnest(range(0, {SIMHASH_BITS // SIMHASH_BAND_BITS})) AS u(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cand c
    JOIN sim sa ON c.id_a = sa.doc_id
    JOIN sim sb ON c.id_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def q57_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming ≤ {SIMHASH_MAX_HAMMING}
    without any O(n²) comparison: split the {SIMHASH_BITS}-bit fingerprint
    into 4 bands of {SIMHASH_BAND_BITS} bits — by pigeonhole, two hashes
    within Hamming {SIMHASH_MAX_HAMMING} agree exactly on ≥1 band — and
    self-join on (band, band_val). The classic Manku/Jain/Sarma web-dedup
    shape: candidate volume is the band-collision count, verification is a
    bit_count on the candidate set only. Uses the frequency-weighted
    fingerprint (see `_simhash_sql`) — the set variant's fingerprints
    cluster too tightly on shared-vocabulary corpora to band usefully."""
    # NULL texts carry no fingerprint (q54's rule) — and must not band:
    # fillna("")'s shared zero fingerprint would pair every NULL doc
    # with every other (C(n,2) phantom "near-dups" on a crawl slice)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # cache the (doc_id, simhash) projection: the band self-join reads it
    # twice, and without the cache the pandas fingerprint UDF re-hashes the
    # full corpus once per side — fine at sf0.1, dominant at larger corpora
    sim = scoped_cache(
        "q57_simhash_neardup_pairs",
        docs.select(
            "doc_id", _weighted_simhash_udf("text").alias("simhash")
        ),
    )
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    # Band rows CARRY the fingerprint, so verification (bit_count of the
    # xor — a codegen'd scalar) happens inline in the band self-join and
    # the expensive distinct runs on the ham≤3 survivors only (≤4 band
    # copies each), not on the full candidate explosion. One shuffle join
    # + one small distinct; no join-back to the fingerprint table.
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(b) for b in range(n_bands)])
        ).alias("b"),
    ).select(
        "doc_id",
        "simhash",
        "b",
        F.expr(
            f"(simhash >> (b * {SIMHASH_BAND_BITS})) % 256"
        ).alias("band_val"),
    )
    a, bb = bands.alias("a"), bands.alias("b")
    ham = F.expr("bit_count(a.simhash ^ b.simhash)").cast("int")
    out = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )
    # pair-listing budget: the estimate reads
    # only the narrow (b, band_val) keys off the same cached projection
    return pair_budget_gate(
        out, bands, ["b", "band_val"],
        "q57_simhash_neardup_pairs",
        "q56_dedup_components / q125_dedup_impact_audit",
    )


# ---------------------------------------------------------------- q58
JACCARD_VERIFY_THRESHOLD = 0.5


@register(
    "q58_lsh_then_exact_jaccard",
    oracle=f"""
    WITH sig AS (SELECT doc_id, {', '.join(_minhash_sql_cols())}
                 FROM documents),
    bands AS (
      {_bands_sql(null_guard=True)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       t -> t != '')) AS ts
      FROM documents
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(ta.ts, tb.ts))
                 / CAST(len(list_distinct(ta.ts || tb.ts)) AS DOUBLE), 6)
             AS jaccard
    FROM cand c
    JOIN toks ta ON c.id_a = ta.doc_id
    JOIN toks tb ON c.id_b = tb.doc_id
    WHERE len(list_intersect(ta.ts, tb.ts))
          / CAST(len(list_distinct(ta.ts || tb.ts)) AS DOUBLE)
          >= {JACCARD_VERIFY_THRESHOLD}
    """,
)
def q58_lsh_then_exact_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production fuzzy-dedup composition q53's docstring promises:
    exact token-set Jaccard computed ONLY on MinHash-LSH candidate pairs —
    never the O(Σ df²) inverted-index join of the standalone form. The
    expensive exact measure touches |candidates| pairs, and candidates are
    O(docs × bands) by construction."""
    docs = load_table(spark, sf_dir, "documents")
    # uncached: the signatures feed one plan branch, the bucket grouping
    cand = lsh_candidate_pairs(minhash_signatures(docs))
    toks = docs.select(
        "doc_id", distinct_tokens().alias("ts")
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ta"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("tb"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union = F.size(F.array_union(F.col("ta"), F.col("tb")))
    jac = inter / union.cast("double")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_VERIFY_THRESHOLD)
    )


# ---------------------------------------------------------------- q59
@register(
    "q59_dedup_removed_docs",
    oracle="""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT d.doc_id, d.source, length(d.text) AS n_chars
    FROM documents d
    LEFT JOIN keep k ON d.doc_id = k.doc_id
    WHERE k.doc_id IS NULL
    """,
)
def q59_dedup_removed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal side of exact dedup: documents DROPPED because a
    lower-id copy survives (q50 lists the survivors; this is the left_anti
    complement — the reference's DocRemoval J5 shape inverted, SURVEY.md
    §2.7's 'pipeline shape implies an anti-join' note made literal)."""
    docs = load_table(spark, sf_dir, "documents")
    keep = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return docs.join(keep.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", "source", F.length("text").alias("n_chars")
    )


# ---------------------------------------------------------------- q93
#: md5(doc_id) first hex digit ≤ this → "existing" corpus; above → the
#: "new crawl" side (hex digits order '0'<…<'9'<'a'<…<'f', so this splits
#: the corpus deterministically in both engines).
CROSS_EXIST_MAX_HEX = "7"


def _cross_corpus_sql() -> str:
    sig_cols = ", ".join(_minhash_sql_cols())
    band_rows = _bands_sql()
    eq_terms = " + ".join(
        f"CAST(sa.m{j} = sb.m{j} AS INT)" for j in range(NUM_PERM)
    )
    side = "substr(md5(CAST({id} AS VARCHAR)), 1, 1)"
    return f"""
    WITH sig AS (SELECT doc_id, {sig_cols} FROM documents),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS exist_id
      FROM bands n JOIN bands e
        ON n.band = e.band AND n.band_hash = e.band_hash
      WHERE {side.format(id="n.doc_id")} > '{CROSS_EXIST_MAX_HEX}'
        AND {side.format(id="e.doc_id")} <= '{CROSS_EXIST_MAX_HEX}'
    ),
    verified AS (
      SELECT c.new_id, ({eq_terms}) / {NUM_PERM}.0 AS est
      FROM cand c
      JOIN sig sa ON c.new_id = sa.doc_id
      JOIN sig sb ON c.exist_id = sb.doc_id
      WHERE ({eq_terms}) / {NUM_PERM}.0 >= {MINHASH_EST_THRESHOLD}
    )
    SELECT new_id AS new_doc_id, count(*) AS n_matches,
           round(max(est), 6) AS best_est_jaccard
    FROM verified GROUP BY new_id
    """


@register("q93_cross_corpus_neardup", oracle=_cross_corpus_sql())
def q93_cross_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup: which NEW-crawl documents are fuzzy
    duplicates of the EXISTING corpus (deterministic md5 halves stand in
    for the two corpora) — the incremental-ingest twin of q52's
    within-corpus dedup: a new crawl is deduped AGAINST what's already
    ingested, not against itself. Per flagged new doc: how many existing
    docs it collides with and the best signature-estimated Jaccard.

    Scale shape: identical to q52's banded join except the two sides are
    different (filtered) tables, so candidate volume is O(new × bands)
    against bucketed existing bands — at 100 TB the existing side's band
    table is precomputed once and stored bucketed by (band, band_hash),
    making each incremental crawl a co-partitioned join, no re-signing
    of the existing corpus. Signature table cached: it feeds both band
    sides and both verify joins."""
    docs = load_table(spark, sf_dir, "documents")
    side = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sig = scoped_cache("q93_cross_corpus_neardup", minhash_signatures(docs))
    new_b = band_table(sig.filter(side > CROSS_EXIST_MAX_HEX)).alias("n")
    ex_b = band_table(sig.filter(side <= CROSS_EXIST_MAX_HEX)).alias("e")
    cand = (
        new_b.join(
            ex_b,
            (F.col("n.band") == F.col("e.band"))
            & (F.col("n.band_hash") == F.col("e.band_hash")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("e.doc_id").alias("exist_id"),
        )
        .distinct()
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    eq_terms = [
        (F.col(f"sa.m{j}") == F.col(f"sb.m{j}")).cast("int")
        for j in range(NUM_PERM)
    ]
    est = functools.reduce(operator.add, eq_terms) / float(NUM_PERM)
    return (
        cand.join(sa, cand.new_id == F.col("sa.doc_id"))
        .join(sb, cand.exist_id == F.col("sb.doc_id"))
        .filter(est >= MINHASH_EST_THRESHOLD)
        .select("new_id", est.alias("est"))
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.round(F.max("est"), 6).alias("best_est_jaccard"),
        )
        .withColumnRenamed("new_id", "new_doc_id")
    )


# ---------------------------------------------------------------- q122
def _admission_sql() -> str:
    side = "substr(md5(CAST({id} AS VARCHAR)), 1, 1)"
    return f"""
    WITH inc AS (
      SELECT doc_id, md5(text) AS h FROM documents
      WHERE {side.format(id="doc_id")} > '{CROSS_EXIST_MAX_HEX}'
    ),
    ex AS (
      SELECT DISTINCT md5(text) AS h FROM documents
      WHERE {side.format(id="doc_id")} <= '{CROSS_EXIST_MAX_HEX}'
    ),
    near AS (
      SELECT new_doc_id FROM ({_cross_corpus_sql()}) q
    )
    SELECT i.doc_id,
           CASE WHEN e.h IS NOT NULL THEN 'exact_dup'
                WHEN n.new_doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS status
    FROM inc i
    LEFT JOIN ex e ON i.h = e.h
    LEFT JOIN near n ON i.doc_id = n.new_doc_id
    """


def exact_admission(
    incoming: DataFrame, existing_hashes: DataFrame
) -> DataFrame:
    """The exact-dup admission stage shared VERBATIM by the batch gate
    (q122 below) and the streaming ingest gate
    (streaming/jobs.py ``admission_decisions``), so the two paths
    cannot drift: incoming ``(doc_id, text)`` rows join the static
    existing-corpus content-hash table (column ``h``, md5 hex) and come
    back as ``(doc_id, status)`` with status ∈ {'exact_dup', 'novel'}.
    Stream-static legal by construction: the only distinct is on the
    static side, and the stream side is a plain projection + left join
    against the broadcastable ~48-bytes/doc hash dimension."""
    inc = incoming.select("doc_id", F.md5("text").alias("h"))
    ex = existing_hashes.select("h").distinct().withColumn(
        "is_exact", F.lit(True)
    )
    return inc.join(ex, "h", "left").select(
        "doc_id",
        F.when(F.col("is_exact"), "exact_dup")
        .otherwise("novel")
        .alias("status"),
    )


@register("q122_incremental_admission", oracle=_admission_sql())
def q122_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ingest gate: every INCOMING document (q93's
    deterministic md5-hex corpus split) gets an admission decision
    against the EXISTING corpus — ``exact_dup`` (byte-identical content
    already ingested), ``near_dup`` (banded MinHash match, q93's
    machinery), else ``novel``. This is the composition an incremental
    crawl actually runs before anything else touches the data; the
    reference has no incremental story at all (its pipeline re-processes
    whole corpora).

    Scale shape: the exact stage is a left-semi hash join on 128-bit
    content hashes (~48 bytes/doc moves, never the text); the near stage
    is q93's banded join, whose existing-side band table is precomputed
    and bucketed in production so each crawl admission is co-partitioned
    work proportional to the NEW data only. Exact-dup wins ties (an
    identical copy is also a near-dup of itself — CASE order mirrors
    the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    side = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    incoming = docs.filter(side > CROSS_EXIST_MAX_HEX).select(
        "doc_id", "text"
    )
    existing_h = docs.filter(side <= CROSS_EXIST_MAX_HEX).select(
        F.md5("text").alias("h")
    )
    near = (
        q93_cross_corpus_neardup(spark, sf_dir)
        .select(F.col("new_doc_id").alias("doc_id"))
        .withColumn("is_near", F.lit(True))
    )
    return (
        exact_admission(incoming, existing_h)
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("status") == "exact_dup", "exact_dup")
            .when(F.col("is_near"), "near_dup")
            .otherwise("novel")
            .alias("status"),
        )
    )


# ---------------------------------------------------------------- q133
def _q133_oracle() -> str:
    sig_cols = ", ".join(_minhash_sql_cols())
    band_rows = _bands_sql(null_guard=True)
    est = " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END"
        for j in range(NUM_PERM)
    )
    return f"""
    WITH sig AS (SELECT doc_id, {sig_cols} FROM documents),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       t -> t != '')) AS ts
      FROM documents
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             round(({est}) / {NUM_PERM}.0, 6) AS est_jaccard,
             round(len(list_intersect(ta.ts, tb.ts))
                   / CAST(len(list_distinct(ta.ts || tb.ts)) AS DOUBLE),
                   6) AS exact_jaccard
      FROM cand c
      JOIN toks ta ON c.id_a = ta.doc_id
      JOIN toks tb ON c.id_b = tb.doc_id
      JOIN sig sa ON c.id_a = sa.doc_id
      JOIN sig sb ON c.id_b = sb.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN exact_jaccard
                              >= {JACCARD_VERIFY_THRESHOLD}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
           round(sum(CASE WHEN exact_jaccard
                               >= {JACCARD_VERIFY_THRESHOLD}
                          THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS precision_at_t,
           round(CAST(sum(CAST(abs(est_jaccard - exact_jaccard)
                               AS DECIMAL(28,12))) AS DOUBLE)
                 / count(*), 6) AS est_mae
    FROM scored
    """


@register("q133_lsh_precision_audit", oracle=_q133_oracle())
def q133_lsh_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision audit of the MinHash-LSH dedup funnel — q131's
    "measure, don't guess" twin for near-dup: of the candidate pairs
    the band join surfaces (q52), what fraction verifies at exact
    Jaccard ≥ {JACCARD_VERIFY_THRESHOLD} (q58's gate), and how far the
    {NUM_PERM}-perm MinHash estimate sits from exact Jaccard on those
    pairs (MAE). This is the readout that tunes bands/rows: banding
    guarantees recall by construction (a pair above the S-curve
    threshold collides w.h.p.); precision is the knob you pay shuffles
    for, and it must be MEASURED on the real corpus.

    Scale shape: the candidate set and token verify are exactly q58's
    bounded funnel (O(docs x bands) candidates, never all-pairs); the
    estimate adds two narrow signature re-joins on doc_id and the
    audit collapses to ONE row via a map-combined global aggregate.
    MAE terms go through DECIMAL(28,12) (the ln-sum discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = scoped_cache("q133_lsh_precision_audit", minhash_signatures(docs))
    cand = lsh_candidate_pairs(sig)
    toks = docs.select("doc_id", distinct_tokens().alias("ts"))
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ta"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("tb"))
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(NUM_PERM)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(NUM_PERM)],
    )
    matches = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
            for j in range(NUM_PERM)
        ],
    )
    exact = F.size(F.array_intersect(F.col("ta"), F.col("tb"))) / F.size(
        F.array_union(F.col("ta"), F.col("tb"))
    ).cast("double")
    scored = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.round(matches / float(NUM_PERM), 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
        )
    )
    verified = F.when(
        F.col("exact_jaccard") >= JACCARD_VERIFY_THRESHOLD, 1
    ).otherwise(0)
    return scored.agg(
        F.count("*").alias("n_candidates"),
        F.sum(verified).cast("long").alias("n_verified"),
        F.round(
            F.sum(verified) / F.count("*").cast("double"), 6
        ).alias("precision_at_t"),
        F.round(
            F.sum(
                F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).cast(
                    "decimal(28,12)"
                )
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("est_mae"),
    )


# ---------------------------------------------------------------- q144
# Split rule shared with q98 (ONE helper pair in curation.py, beside
# its boundary constants) so the assignment here is EXACTLY the split
# a q98 run would publish — the rule cannot fork between modules.
# curation is imported before this module by __spark_entry__, so the
# module-level import adds no registration reordering.
from setu_spark.operators.curation import (  # noqa: E402
    split_case_sql as _split_case_sql,
    split_col as _split_col,
)


def _leak_free_sql() -> str:
    return f"""{_components_cte()},
    comp_full AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT {_split_case_sql("component")} AS final_split,
           {_split_case_sql("doc_id")} AS raw_split,
           count(*) AS n_docs,
           CAST(count(DISTINCT component) AS BIGINT) AS n_components
    FROM comp_full
    GROUP BY ALL
    """


@register("q144_leak_free_split", oracle=_leak_free_sql())
def q144_leak_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free train/val/test assignment: q98's per-document hash split
    is UNSAFE under near-duplication — two fuzzy copies of the same page
    hash independently, so one lands in train and its twin in test, and
    the eval set silently overlaps the training set. The fix every
    production corpus needs: split by NEAR-DUP COMPONENT, not by
    document — every doc adopts the split of its LSH connected
    component's label (the min doc_id, so singletons reduce exactly to
    q98's rule). Output is the reassignment matrix (final_split ×
    raw_split): off-diagonal cells are precisely the documents q98
    would have leaked across split boundaries, with the distinct
    component count per cell.

    Scale shape — the production funnel ORDER via
    :func:`exact_collapsed_components` (exact groups collapse to reps
    before LSH/CC; label-identical with the proof and measured numbers
    in its docstring — 196s → 21s at the duplicate-dense 100× corpus,
    7.4s vs 16.9s at 20×). On top of the shared funnel: one 9-cell
    groupBy; both split decisions are pure per-row md5 arithmetic. The
    component label being the min doc_id means the canonical split
    needs NO second join back to the label row: md5(component) is
    computable in place."""
    docs = load_table(spark, sf_dir, "documents")
    full = exact_collapsed_components(docs).select("doc_id", "component")
    return (
        full.select(
            _split_col(F.col("component")).alias("final_split"),
            _split_col(F.col("doc_id")).alias("raw_split"),
            "component",
        )
        .groupBy("final_split", "raw_split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("component").alias("n_components"),
        )
    )


# ---------------------------------------------------------------- q149
def _source_purity_sql() -> str:
    return f"""{_components_cte()},
    comp_full AS (
      SELECT d.doc_id, d.source,
             coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    per AS (
      SELECT component,
             count(*) AS cluster_size,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM comp_full GROUP BY component
      HAVING count(*) >= 2
    )
    SELECT n_sources,
           count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM per GROUP BY ALL
    """


@register("q149_component_source_purity", oracle=_source_purity_sql())
def q149_component_source_purity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Provenance profile of the duplicate graph: for every near-dup
    component with ≥2 members, how many DISTINCT sources it spans,
    histogrammed. n_sources=1 clusters are intra-crawl reposts (the
    source's own redundancy — fixable upstream); n_sources≥2 clusters
    are cross-crawl mirrors (the redundancy only corpus-level dedup can
    remove, and the reason per-source dedup is insufficient). Together
    with q125's size histogram this is the before-commit evidence for
    WHERE a 100 TB dedup pass's savings actually come from.

    Scale shape: the shared :func:`exact_collapsed_components` funnel
    (collapse-first, see its proof and measured 10× at the
    duplicate-dense 100× corpus), one source attach join, one
    (component) aggregate with a distinct count whose domain is
    |sources| (small by construction), and a ≤|sources|-row histogram."""
    docs = load_table(spark, sf_dir, "documents")
    # source rides the funnel's carry (see q125)
    full = exact_collapsed_components(docs, carry=("source",)).select(
        "doc_id", "component", "source"
    )
    per = (
        full.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("cluster_size") >= 2)
    )
    return per.groupBy("n_sources").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


# ---------------------------------------------------------------- q150
def _quality_survivor_sql() -> str:
    return f"""{_components_cte()},
    comp_full AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    w AS (
      SELECT component, doc_id, n_chars,
             max(n_chars) OVER (PARTITION BY component) AS mc,
             count(*) OVER (PARTITION BY component) AS cs
      FROM comp_full
    ),
    per AS (
      SELECT component,
             min(doc_id) AS minid_survivor,
             arg_min(n_chars, doc_id) AS minid_chars,
             min(doc_id) FILTER (WHERE n_chars = mc) AS q_survivor,
             any_value(mc) AS best_chars
      FROM w WHERE cs >= 2 GROUP BY component
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN q_survivor != minid_survivor
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(sum(best_chars - minid_chars) AS BIGINT) AS chars_gained
    FROM per
    """


@register("q150_quality_survivor_delta", oracle=_quality_survivor_sql())
def q150_quality_survivor_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-aware survivor selection, quantified BEFORE switching:
    min-id survivor choice (q50/q56/q125's convention) is arbitrary —
    production dedup usually keeps the BEST copy per cluster (here:
    most chars; ties broken by min doc_id so the choice stays
    deterministic and engine-portable). This query reports, over all
    ≥2-member near-dup clusters, how many clusters change survivor
    under the quality rule and how many characters the corpus gains —
    the one-row evidence for whether the policy switch is worth a
    re-run of a 100 TB dedup job.

    Scale shape: the shared collapse-first funnel
    (:func:`exact_collapsed_components`), one n_chars attach join, ONE
    aggregate per component — the quality survivor rides a single
    ``max(struct(n_chars, -doc_id))`` (lexicographic struct max = max
    chars, then min id among ties; no second pass, no window, no
    self-join), min-id survivor and its chars ride ``min``/``min_by``
    in the same shuffle — then a one-row rollup."""
    docs = load_table(spark, sf_dir, "documents")
    # n_chars rides the funnel's carry (see q125)
    full = exact_collapsed_components(docs, carry=("n_chars",)).select(
        "doc_id", "component", "n_chars"
    )
    best = F.max(
        F.struct(
            F.col("n_chars").alias("c"),
            (-F.col("doc_id")).alias("nid"),
        )
    )
    per = (
        full.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("doc_id").alias("minid_survivor"),
            F.min_by("n_chars", "doc_id").alias("minid_chars"),
            best.alias("best"),
        )
        .filter(F.col("cluster_size") >= 2)
        .select(
            "minid_survivor",
            "minid_chars",
            (-F.col("best.nid")).alias("q_survivor"),
            F.col("best.c").alias("best_chars"),
        )
    )
    return per.agg(
        F.count("*").alias("n_clusters"),
        F.sum(
            F.when(
                F.col("q_survivor") != F.col("minid_survivor"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_changed"),
        F.sum(F.col("best_chars") - F.col("minid_chars"))
        .cast("long")
        .alias("chars_gained"),
    )


# ---------------------------------------------------------------- q151
# Joint text↔embedding dedup agreement. similarity.py is imported
# before this module by __spark_entry__, so the module-level import
# adds no registration reordering.
from setu_spark.operators.similarity import (  # noqa: E402
    DIM as _EMB_DIM,
    ND_BAND_ROWS as _ND_BAND_ROWS,
    ND_PLANES as _ND_PLANES,
    ND_THRESHOLD as _ND_THRESHOLD,
    _COS_SQL,
    _band_buckets_udf,
    _eid_col,
    _sgn_sql,
    cosine_pairs_udf,
    q55_embedding_neardup,
)


def _emb_pairs_ctes() -> str:
    """The q55 oracle's candidate CTE chain (planes → projections →
    band buckets), verbatim semantics, parameterized for reuse by the
    joint-agreement and ANN-admission oracles."""
    return f"""planes AS (
      SELECT j, i, {_sgn_sql('j', 'i')} AS sgn
      FROM unnest(range(0, {_ND_PLANES})) AS uj(j),
           unnest(range(1, {_EMB_DIM + 1})) AS ui(i)
    ),
    comps AS (
      SELECT e.vec_id, p.j,
             sum(p.sgn * CAST(e.x AS DOUBLE)) AS proj
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) e
      JOIN planes p ON e.i = p.i
      GROUP BY e.vec_id, p.j
    ),
    ebands AS (
      SELECT vec_id, j // {_ND_BAND_ROWS} AS band,
             CAST(sum(CASE WHEN proj > 0
                      THEN CAST(1 AS BIGINT) << (j % {_ND_BAND_ROWS})
                      ELSE 0 END) AS BIGINT) AS bucket
      FROM comps GROUP BY vec_id, j // {_ND_BAND_ROWS}
    )"""


def _joint_agreement_sql() -> str:
    eq_terms = " + ".join(
        f"CAST(sa.m{j} = sb.m{j} AS INT)" for j in range(NUM_PERM)
    )
    sig_cols = ", ".join(_minhash_sql_cols())
    return f"""
    WITH sig AS (SELECT doc_id, {sig_cols} FROM documents),
    tbands AS ({_bands_sql()}),
    tcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tbands a JOIN tbands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    tp AS (
      SELECT c.id_a, c.id_b
      FROM tcand c
      JOIN sig sa ON c.id_a = sa.doc_id
      JOIN sig sb ON c.id_b = sb.doc_id
      WHERE ({eq_terms}) / {NUM_PERM}.0 >= {MINHASH_EST_THRESHOLD}
    ),
    {_emb_pairs_ctes()},
    ecand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM ebands a JOIN ebands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    ),
    ever AS (
      SELECT c.id_a, c.id_b, {_COS_SQL} AS cosine_sim
      FROM (
        SELECT c.id_a, c.id_b,
               unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
        FROM ecand c
        JOIN embeddings ea ON c.id_a = ea.vec_id
        JOIN embeddings eb ON c.id_b = eb.vec_id
      ) c
      GROUP BY c.id_a, c.id_b
    ),
    ep AS (SELECT id_a, id_b FROM ever WHERE cosine_sim >= {_ND_THRESHOLD}),
    u AS (
      SELECT COALESCE(t.id_a, e.id_a) AS id_a,
             COALESCE(t.id_b, e.id_b) AS id_b,
             t.id_a IS NOT NULL AS in_text,
             e.id_a IS NOT NULL AS in_emb
      FROM tp t FULL OUTER JOIN ep e
        ON t.id_a = e.id_a AND t.id_b = e.id_b
    ),
    uest AS (
      SELECT u.id_a, u.id_b,
             round(({eq_terms}) / {NUM_PERM}.0, 6) AS est_jaccard
      FROM u
      JOIN sig sa ON u.id_a = sa.doc_id
      JOIN sig sb ON u.id_b = sb.doc_id
    ),
    ucos AS (
      SELECT c.id_a, c.id_b, {_COS_SQL} AS cosine_sim
      FROM (
        SELECT u.id_a, u.id_b,
               unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
        FROM u
        JOIN embeddings ea ON u.id_a = ea.vec_id
        JOIN embeddings eb ON u.id_b = eb.vec_id
      ) c
      GROUP BY c.id_a, c.id_b
    )
    SELECT CASE WHEN u.in_text AND u.in_emb THEN 'both'
                WHEN u.in_text THEN 'text_only'
                ELSE 'embedding_only' END AS tier,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(ue.est_jaccard) AS BIGINT) AS n_est,
           round(CAST(sum(CAST(ue.est_jaccard AS DECIMAL(18,6))) AS DOUBLE)
                 / count(ue.est_jaccard), 6) AS avg_est_jaccard,
           CAST(count(uc.cosine_sim) AS BIGINT) AS n_cos,
           round(CAST(sum(CAST(uc.cosine_sim AS DECIMAL(18,6))) AS DOUBLE)
                 / count(uc.cosine_sim), 6) AS avg_cosine
    FROM u
    LEFT JOIN uest ue ON u.id_a = ue.id_a AND u.id_b = ue.id_b
    LEFT JOIN ucos uc ON u.id_a = uc.id_a AND u.id_b = uc.id_b
    GROUP BY 1
    """


def _q151_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAW-PAIR twin of q151 (the oracle's literal shape): materializes
    every verified ID pair of both tiers and aggregates. Kept
    unregistered as the dual-path witness — tests pin it row-identical
    to the collapsed production form below, exactly the CC
    union-find/distributed pattern. Do NOT use at scale: on the
    duplicate-dense 100× corpus this materializes ~47M pairs (>10 min)
    where the collapsed form computes the same three rows from ~10³
    class pairs."""
    docs = load_table(spark, sf_dir, "documents")
    sig = scoped_cache(
        "q151_joint_dedup_agreement", minhash_signatures(docs)
    )
    tp = pair_est_jaccard(sig, lsh_candidate_pairs(sig)).select(
        "id_a", "id_b", F.lit(True).alias("in_text")
    )
    ep = q55_embedding_neardup(spark, sf_dir).select(
        "id_a", "id_b", F.lit(True).alias("in_emb")
    )
    u = (
        tp.join(ep, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            F.coalesce("in_text", F.lit(False)).alias("in_text"),
            F.coalesce("in_emb", F.lit(False)).alias("in_emb"),
        )
    )
    uest = pair_est_jaccard(
        sig, u.select("id_a", "id_b"), threshold=0.0
    )
    emb = load_table(spark, sf_dir, "embeddings")
    ea = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    eb = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    )
    ucos = (
        u.select("id_a", "id_b")
        .join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_pairs_udf()(F.col("ea"), F.col("eb")), 6
            ).alias("cosine_sim"),
        )
    )
    tier = (
        F.when(F.col("in_text") & F.col("in_emb"), "both")
        .when(F.col("in_text"), "text_only")
        .otherwise("embedding_only")
    )
    joined = u.join(uest, ["id_a", "id_b"], "left").join(
        ucos, ["id_a", "id_b"], "left"
    )
    return joined.groupBy(tier.alias("tier")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.count("est_jaccard").cast("long").alias("n_est"),
        F.round(
            F.sum(F.col("est_jaccard").cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("est_jaccard"),
            6,
        ).alias("avg_est_jaccard"),
        F.count("cosine_sim").cast("long").alias("n_cos"),
        F.round(
            F.sum(F.col("cosine_sim").cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("cosine_sim"),
            6,
        ).alias("avg_cosine"),
    )


# ---------------------------------------------------------------- q152
def _ann_admission_sql() -> str:
    side = "substr(md5(CAST({id} AS VARCHAR)), 1, 1)"
    return f"""
    WITH {_emb_pairs_ctes()},
    inc AS (
      SELECT vec_id FROM embeddings
      WHERE {side.format(id="vec_id")} > '{CROSS_EXIST_MAX_HEX}'
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS new_id, b.vec_id AS ex_id
      FROM ebands a
      JOIN ebands b ON a.band = b.band AND a.bucket = b.bucket
      JOIN inc i ON a.vec_id = i.vec_id
      WHERE {side.format(id="b.vec_id")} <= '{CROSS_EXIST_MAX_HEX}'
    ),
    ver AS (
      SELECT c.new_id, c.ex_id, {_COS_SQL} AS sim
      FROM (
        SELECT c.new_id, c.ex_id,
               unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
        FROM cand c
        JOIN embeddings ea ON c.new_id = ea.vec_id
        JOIN embeddings eb ON c.ex_id = eb.vec_id
      ) c
      GROUP BY c.new_id, c.ex_id
    ),
    agg AS (
      SELECT new_id, max(sim) AS best,
             CAST(count(*) AS BIGINT) AS ncand
      FROM ver GROUP BY new_id
    )
    SELECT i.vec_id,
           CASE WHEN a.best >= {_ND_THRESHOLD} THEN 'near_dup'
                ELSE 'novel' END AS status,
           a.best AS best_cosine,
           COALESCE(a.ncand, 0) AS n_candidates
    FROM inc i LEFT JOIN agg a ON i.vec_id = a.new_id
    """


def ann_admission(
    incoming: DataFrame, existing: DataFrame
) -> DataFrame:
    """The ANN admission stage shared VERBATIM by the batch gate (q152
    below) and the streaming ingest twin
    (streaming/jobs.py ``ann_admission_decisions``): INCOMING
    ``(vec_id, embedding)`` rows probe the EXISTING corpus's hyperplane
    band index — a new vector is ``near_dup`` when some same-bucket
    existing vector verifies at cosine ≥ {_ND_THRESHOLD}, else
    ``novel``. Returns (vec_id, status, best_cosine, n_candidates);
    best_cosine is NULL (and n_candidates 0) when no bucket collision
    produced a candidate at all. A NULL-embedding incoming row cannot
    probe anything and an equi-join on the embedding would silently
    drop it (NULL keys never match) — such rows are pre-split into an
    explicit ``novel`` decision with n_candidates 0, keeping the
    every-row-gets-a-decision contract for malformed batch rows.

    Scale shape — COLLAPSE-FIRST (the funnel lesson applied to
    admission): every output column is a pure function of the incoming
    EMBEDDING (buckets, cosine, and candidate multiplicity are all
    vector-determined — bit-identical copies share every bucket and
    every similarity), so both sides are grouped to DISTINCT vectors
    before any band work: the existing index keeps one row per distinct
    vector with its id-multiplicity, each distinct incoming vector
    probes once, and decisions fan back out to vec_ids by one
    equi-join. Probe work scales with distinct vectors, not copies —
    on the duplicate-dense 100× stress corpus (100 bit-identical copies
    per vector) that is the difference between ~10⁶ banded pairs and
    ~10² per batch. ``n_candidates`` stays exact: a colliding distinct
    existing vector contributes its id-multiplicity. Stream-safe by
    construction: projections + equi-joins against the static index +
    keyed aggregations, run per micro-batch in foreachBatch."""
    bb = _band_buckets_udf()
    inc_null = incoming.filter(F.col("embedding").isNull()).select(
        "vec_id",
        F.lit("novel").alias("status"),
        F.lit(None).cast("double").alias("best_cosine"),
        F.lit(0).cast("long").alias("n_candidates"),
    )
    incoming = incoming.filter(F.col("embedding").isNotNull())
    inc_d = incoming.groupBy("embedding").agg(
        F.count("*").alias("_n_in")
    )
    ex_d = existing.groupBy("embedding").agg(
        F.count("*").cast("long").alias("mult")
    )
    ib = inc_d.select(
        "embedding",
        F.posexplode(bb("embedding")).alias("band", "bucket"),
    )
    xb = ex_d.select(
        F.col("embedding").alias("ex_emb"),
        "mult",
        F.posexplode(bb("embedding")).alias("band", "bucket"),
    )
    sim = F.round(
        cosine_pairs_udf()(F.col("embedding"), F.col("ex_emb")), 6
    )
    # distinct collapses the ≤ n_bands repeats of a colliding vector
    # pair; sim and mult are vector-determined, so they ride the key
    cand = (
        ib.join(xb, ["band", "bucket"])
        .select("embedding", "ex_emb", "mult", sim.alias("sim"))
        .distinct()
    )
    agg = cand.groupBy("embedding").agg(
        F.max("sim").alias("best_cosine"),
        F.sum("mult").cast("long").alias("n_candidates"),
    )
    decisions = inc_d.join(agg, "embedding", "left").select(
        "embedding",
        F.when(F.col("best_cosine") >= _ND_THRESHOLD, "near_dup")
        .otherwise("novel")
        .alias("status"),
        "best_cosine",
        F.coalesce("n_candidates", F.lit(0).cast("long")).alias(
            "n_candidates"
        ),
    )
    return (
        incoming.join(decisions, "embedding")
        .select("vec_id", "status", "best_cosine", "n_candidates")
        .unionByName(inc_null)
    )


@register("q152_ann_admission", oracle=_ann_admission_sql())
def q152_ann_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector-side ingest gate — q122's admission contract over the
    EMBEDDING column: every incoming vector (q93's deterministic
    md5-hex corpus split, reused so the text and vector gates partition
    identically) probes the existing corpus's hyperplane-band ANN index
    and is admitted ``novel`` or flagged ``near_dup`` (best verified
    cosine ≥ {_ND_THRESHOLD}). The streaming twin
    (streaming/jobs.py ``ann_admission_decisions``) runs this exact
    function on a stream — pinned stream≡batch by
    tests/test_streaming.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    side = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    incoming = emb.filter(side > CROSS_EXIST_MAX_HEX).select(
        "vec_id", "embedding"
    )
    existing = emb.filter(side <= CROSS_EXIST_MAX_HEX).select(
        "vec_id", "embedding"
    )
    return ann_admission(incoming, existing)


# q151 production form: collapse-first joint agreement ------------------
# (_eid_col, the embedding-class key, lives in similarity.py so q123's
# collapsed pairwise stage can share it — imported above.)


#: Joint-class duplicate fraction above which q151 switches from the
#: raw-pair composition to the collapsed combinatorial form. Below it,
#: collapsing buys ~nothing (distinct classes ≈ docs) and the collapsed
#: plan's extra enumeration joins cost ~3× wall (7.4s vs 2.3s at the
#: duplicate-sparse sf0.1); above it, pair volume grows with the square
#: of copy counts and the raw form dies (>10 min vs 40s at the
#: duplicate-dense 100× corpus). Either branch is row-identical
#: (dual-path test) — the bound is pure plan selection, the CC
#: local/distributed hybrid pattern.
JOINT_COLLAPSE_DUP_FRAC = 0.05


@register("q151_joint_dedup_agreement", oracle=_joint_agreement_sql())
def q151_joint_dedup_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hybrid dispatcher for the joint dedup agreement audit: one cheap
    aggregate measures the joint-class duplicate fraction
    (1 − distinct (text, embedding) classes / docs), then the corpus
    runs the raw-pair composition (duplicate-sparse: fewer stages) or
    the collapsed combinatorial form (duplicate-dense: class-volume
    work) — see :data:`JOINT_COLLAPSE_DUP_FRAC` and the two
    implementations below."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Two-stage chooser: joint (text, embedding) classes
    # REFINE text classes, so joint_dup ≤ text_dup always — when even
    # the TEXT duplicate fraction is below the threshold, the joint one
    # is too and the raw branch is the original decision, reached from
    # a docs-only aggregate (no embeddings join, no per-row md5/eid
    # hashing — the old single-stage chooser was a serial corpus pass
    # that dominated construction wall at bench scale). Only a
    # text-dup-dense corpus pays the full joint chooser. Approx is
    # plenty for a plan-choice threshold (both branches are
    # row-identical — dual-path test; ±2% at the 5% boundary just
    # picks the other equally-correct plan). Sentinel-coalesced so
    # NULL-text docs still count as a class.
    n_docs, n_text_classes = docs.select(
        F.count("*"),
        F.approx_count_distinct(F.coalesce("text", F.lit("~t~"))),
    ).first()
    text_dup = 1.0 - (n_text_classes / n_docs) if n_docs else 0.0
    if text_dup < JOINT_COLLAPSE_DUP_FRAC:
        return _q151_pairs_raw(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    base = docs.join(emb, "doc_id", "left")
    n_docs, n_classes = base.select(
        F.count("*"),
        F.approx_count_distinct(
            F.concat_ws(
                "|",
                F.coalesce(F.md5("text"), F.lit("~t~")),
                F.coalesce(_eid_col(F.col("embedding")), F.lit("~e~")),
            )
        ),
    ).first()
    dup_frac = 1.0 - (n_classes / n_docs) if n_docs else 0.0
    if dup_frac < JOINT_COLLAPSE_DUP_FRAC:
        return _q151_pairs_raw(spark, sf_dir)
    return _q151_collapsed(spark, sf_dir)


def _q151_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text↔embedding JOINT dedup agreement matrix — which tier catches
    what the other misses: the MinHash tier's verified pair set (q52
    semantics: LSH bands + signature agreement ≥ {MINHASH_EST_THRESHOLD})
    unioned with the embedding tier's verified pair set (q55 semantics:
    hyperplane bands + cosine ≥ {_ND_THRESHOLD}), bucketed 'both' /
    'text_only' / 'embedding_only', with BOTH metrics reported for
    every pair in the union — the number a dedup-policy decision
    actually needs (are text_only pairs near the cosine threshold, or
    semantically unrelated boilerplate?). ids join doc_id = vec_id (the
    testdata contract; docs without vectors count into ``n_cos``'s
    complement as NULL cosine).

    Scale shape — COLLAPSE-FIRST over JOINT classes: every per-pair
    quantity (band collision, signature agreement, cosine, tier) is a
    pure function of the two documents' (text-class, embedding-class)
    pair, so the audit runs entirely on DISTINCT classes — candidate
    generation on distinct texts / distinct vectors, union-pair
    enumeration on joint classes, and each ID-pair multiplicity restored
    combinatorially (m₁·m₂ cross, C(m,2) diagonal). The duplicate-dense
    100× corpus needs ~10³ class pairs instead of the ~47M ID pairs the
    raw composition materializes (>10 min → seconds); output is
    row-identical to :func:`_q151_pairs_raw` (dual-path test, the CC
    pattern). Reference basis: the reference dedupes on text alone
    (MinHash, dedup lsh.py); this audit is the beyond-reference
    composition that justifies (or kills) adding an embedding tier at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    base = docs.join(emb, "doc_id", "left")
    tkey = F.md5("text")
    eid = _eid_col(F.col("embedding"))
    jc = base.groupBy(
        tkey.alias("tkey"), eid.alias("eid")
    ).agg(
        F.count("*").cast("long").alias("m"),
        F.first("text").alias("text"),
        F.first("embedding").alias("embedding"),
    )
    jid = F.md5(
        F.concat_ws(
            "|", F.coalesce("tkey", F.lit("~t~")), F.coalesce("eid", F.lit("~e~"))
        )
    )
    # distinct text classes with signatures; distinct embedding classes
    tcl = jc.select("tkey", "text").filter(F.col("tkey").isNotNull()).distinct()
    tsig = scoped_cache(
        "q151_tsig",
        minhash_signatures(tcl, id_col="tkey").withColumnRenamed(
            "tkey", "doc_id"
        ),
    )
    ecl = (
        jc.select("eid", "embedding")
        .filter(F.col("eid").isNotNull())
        .distinct()
    )
    # J: joint classes + shingle-ability flag (sig of the class's text)
    J = scoped_cache(
        "q151_joint",
        jc.select(jid.alias("jid"), "tkey", "eid", "m").join(
            tsig.select(
                F.col("doc_id").alias("tkey"),
                F.col("m0").isNotNull().alias("shingleable"),
            ),
            "tkey",
            "left",
        ).select(
            "jid",
            "tkey",
            "eid",
            "m",
            F.coalesce("shingleable", F.lit(False)).alias("shingleable"),
        ),
    )
    # verified INTER-class pair sets, both tiers (class-volume work)
    tp = (
        pair_est_jaccard(tsig, lsh_candidate_pairs(tsig))
        .select(
            F.col("id_a").alias("tk_a"), F.col("id_b").alias("tk_b")
        )
        .withColumn("tp_flag", F.lit(True))
    )
    bb = _band_buckets_udf()
    ebnd = ecl.select(
        "eid", "embedding", F.posexplode(bb("embedding")).alias("band", "bucket")
    )
    ea, eb2 = ebnd.alias("a"), ebnd.alias("b")
    esim = F.round(
        cosine_pairs_udf()(F.col("a.embedding"), F.col("b.embedding")), 6
    )
    ep = (
        ea.join(
            eb2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.eid") < F.col("b.eid")),
        )
        .select(
            F.col("a.eid").alias("ek_a"),
            F.col("b.eid").alias("ek_b"),
            esim.alias("sim"),
        )
        .filter(F.col("sim") >= _ND_THRESHOLD)
        .select("ek_a", "ek_b")
        .distinct()
        .withColumn("ep_flag", F.lit(True))
    )
    # ---- union-pair enumeration over joint classes (all bounded) ----
    Ja, Jb = J.alias("ja"), J.alias("jb")
    pair_cols = [
        F.least(F.col("ja.jid"), F.col("jb.jid")).alias("jlo"),
        F.greatest(F.col("ja.jid"), F.col("jb.jid")).alias("jhi"),
    ]
    from_tp = (
        tp.join(Ja, F.col("ja.tkey") == F.col("tk_a"))
        .join(Jb, F.col("jb.tkey") == F.col("tk_b"))
        .select(*pair_cols)
    )
    intra_t = (
        Ja.join(
            Jb,
            (F.col("ja.tkey") == F.col("jb.tkey"))
            & (F.col("ja.jid") < F.col("jb.jid"))
            & F.col("ja.shingleable"),
        )
        .select(F.col("ja.jid").alias("jlo"), F.col("jb.jid").alias("jhi"))
    )
    from_ep = (
        ep.join(Ja, F.col("ja.eid") == F.col("ek_a"))
        .join(Jb, F.col("jb.eid") == F.col("ek_b"))
        .select(*pair_cols)
    )
    intra_e = (
        Ja.join(
            Jb,
            (F.col("ja.eid") == F.col("jb.eid"))
            & (F.col("ja.jid") < F.col("jb.jid")),
        )
        .select(F.col("ja.jid").alias("jlo"), F.col("jb.jid").alias("jhi"))
    )
    diag = (
        J.filter(
            (F.col("m") >= 2)
            & (F.col("shingleable") | F.col("eid").isNotNull())
        )
        .select(F.col("jid").alias("jlo"), F.col("jid").alias("jhi"))
    )
    U = (
        from_tp.union(intra_t)
        .union(from_ep)
        .union(intra_e)
        .union(diag)
        .distinct()
    )
    # ---- attach classes, flags, metrics; expand counts ----
    J1 = J.select(
        F.col("jid").alias("jlo"),
        F.col("tkey").alias("tk1"),
        F.col("eid").alias("ei1"),
        F.col("m").alias("m1"),
        F.col("shingleable").alias("sh1"),
    )
    J2 = J.select(
        F.col("jid").alias("jhi"),
        F.col("tkey").alias("tk2"),
        F.col("eid").alias("ei2"),
        F.col("m").alias("m2"),
    )
    up = U.join(J1, "jlo").join(J2, "jhi")
    tk_lo, tk_hi = F.least("tk1", "tk2"), F.greatest("tk1", "tk2")
    ek_lo, ek_hi = F.least("ei1", "ei2"), F.greatest("ei1", "ei2")
    up = (
        up.join(
            tp,
            (tk_lo == F.col("tk_a")) & (tk_hi == F.col("tk_b")),
            "left",
        )
        .join(
            ep,
            (ek_lo == F.col("ek_a")) & (ek_hi == F.col("ek_b")),
            "left",
        )
        .select(
            "jlo",
            "jhi",
            "tk1",
            "tk2",
            "ei1",
            "ei2",
            F.coalesce(
                ((F.col("tk1") == F.col("tk2")) & F.col("sh1"))
                | F.coalesce("tp_flag", F.lit(False)),
                F.lit(False),
            ).alias("in_text"),
            F.coalesce(
                (F.col("ei1") == F.col("ei2"))
                | F.coalesce("ep_flag", F.lit(False)),
                F.lit(False),
            ).alias("in_emb"),
            F.when(
                F.col("jlo") == F.col("jhi"),
                (F.col("m1") * (F.col("m1") - 1) / 2).cast("long"),
            )
            .otherwise(F.col("m1") * F.col("m2"))
            .alias("cnt"),
        )
    )
    # est from the class signatures (NULL when either side unshingleable
    # or NULL-text — matching the raw path's dropped rows)
    s1 = tsig.select(
        F.col("doc_id").alias("tk1"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(NUM_PERM)],
    )
    s2 = tsig.select(
        F.col("doc_id").alias("tk2"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(NUM_PERM)],
    )
    eq_terms = [
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int")
        for j in range(NUM_PERM)
    ]
    est = F.round(
        functools.reduce(operator.add, eq_terms) / float(NUM_PERM), 6
    )
    up = (
        up.join(s1, "tk1", "left")
        .join(s2, "tk2", "left")
        .withColumn("est_jaccard", est)
        .drop(*[f"a{j}" for j in range(NUM_PERM)])
        .drop(*[f"b{j}" for j in range(NUM_PERM)])
    )
    # cosine from the class vectors, attached by inner-join + join-back
    # (a pandas UDF under CASE WHEN still sees the NULL rows of the
    # Arrow batch — np.stack would throw on a missing vector)
    v1 = ecl.select(
        F.col("eid").alias("ei1"), F.col("embedding").alias("va")
    )
    v2 = ecl.select(
        F.col("eid").alias("ei2"), F.col("embedding").alias("vb")
    )
    ucos = (
        up.select("jlo", "jhi", "ei1", "ei2")
        .join(v1, "ei1")
        .join(v2, "ei2")
        .select(
            "jlo",
            "jhi",
            F.round(
                cosine_pairs_udf()(F.col("va"), F.col("vb")), 6
            ).alias("cosine_sim"),
        )
    )
    up = up.join(ucos, ["jlo", "jhi"], "left")
    tier = (
        F.when(F.col("in_text") & F.col("in_emb"), "both")
        .when(F.col("in_text"), "text_only")
        .otherwise("embedding_only")
    )
    dec = lambda c: F.col(c).cast("decimal(18,6)")
    return up.groupBy(tier.alias("tier")).agg(
        F.sum("cnt").cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("est_jaccard").isNotNull(), F.col("cnt")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_est"),
        F.round(
            F.sum(dec("est_jaccard") * F.col("cnt")).cast("double")
            / F.sum(
                F.when(
                    F.col("est_jaccard").isNotNull(), F.col("cnt")
                ).otherwise(F.lit(0))
            ),
            6,
        ).alias("avg_est_jaccard"),
        F.sum(
            F.when(F.col("cosine_sim").isNotNull(), F.col("cnt")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_cos"),
        F.round(
            F.sum(dec("cosine_sim") * F.col("cnt")).cast("double")
            / F.sum(
                F.when(
                    F.col("cosine_sim").isNotNull(), F.col("cnt")
                ).otherwise(F.lit(0))
            ),
            6,
        ).alias("avg_cosine"),
    )
