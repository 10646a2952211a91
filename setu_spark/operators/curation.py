"""Corpus-curation operators — the selection side of a training-data
pipeline (the reference stops at filtering/dedup; a 100 TB pretraining
run also needs decontamination against eval sets, importance scoring,
and budgeted sampling — SURVEY.md §2's "beyond-reference" mandate).

Query surface (all over ``documents``):
  q64  eval-set decontamination: word-5-gram overlap between each
       training doc and a held-out eval slice ("don't train on your
       test set") — the cross-corpus twin of fuzzy dedup;
  q39  TF-IDF top terms per document — the classic importance score,
       computed corpus-wide with one token shuffle;
  q29  token-budget selection: deterministic pseudo-random order +
       distributed prefix sum, keep documents while the cumulative
       word count fits the budget;
  q86  weighted sampling without replacement (Efraimidis–Spirakis
       exponential keys), probability ∝ document length;
  q87  stratified downsampling to a language-balanced corpus;
  q88  unigram-LM negative log-probability — the perplexity-proxy
       quality score;
  q83  the composed curation pipeline: dedup survivors → quality gate
       → decontamination removal;
  q94  greedy sequence packing into fixed token-budget training
       windows (partition-local mapInPandas — the imperative escape
       hatch, used only where bin state defeats SQL).

Cross-engine determinism: every pseudo-random choice derives from
``md5`` of stable ids/strings (identical in Spark and DuckDB), never
from engine hash functions or RNGs.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from setu_spark.functions.hashes import hash64, hash64_sql
from setu_spark.operators.skew import PREFIX_PARTS, global_running_sums
from setu_spark.registry import register
from setu_spark.sources.io import load_table, load_table_parallel

#: Decontamination n-gram width (word 5-grams; production eval-set decon
#: typically uses 8-13-gram windows — the plan shape is identical).
DECON_N = 5
#: Docs whose md5(doc_id) starts with this hex digit form the pseudo
#: "eval set" (~1/16 of the corpus) — a deterministic stand-in for the
#: real held-out benchmark files a production run would load (S1/S3).
EVAL_HEX = "0"

#: q29 word budget at test scale.
WORD_BUDGET = 10_000

TFIDF_TOPK = 3


def _eval_flag() -> F.Column:
    """Deterministic eval-set membership: first hex digit of
    md5(doc_id)."""
    return (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == EVAL_HEX
    )


# ---------------------------------------------------------------- q64
@register(
    "q64_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {DECON_N}
    ),
    grams AS (
      -- raw gram strings: the engine joins on 64-bit xxhash64 keys
      -- instead; the compared COUNT agrees absent 64-bit collisions
      SELECT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
             t[i+3] || ' ' || t[i+4] AS g
      FROM toks, unnest(range(1, len(t) - {DECON_N - 2})) AS u(i)
    ),
    ev AS (
      SELECT DISTINCT g FROM grams
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '{EVAL_HEX}'
    ),
    tr AS (
      SELECT DISTINCT doc_id, g FROM grams
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '{EVAL_HEX}'
    )
    SELECT doc_id, count(*) AS n_shared_ngrams
    FROM tr JOIN ev USING (g)
    GROUP BY doc_id
    """,
)
def q64_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag every training document sharing at
    least one word-{DECON_N}-gram with the (deterministic md5-slice) eval
    set, with the count of distinct shared n-grams. The "did my training
    corpus swallow the benchmark" check every serious pretraining run
    performs; reported as counts so thresholds stay a reader-side choice.

    Scale shape: n-grams are joined as 64-bit ``xxhash64`` keys computed
    straight off the sliced token array — no gram string is ever built,
    and shuffle rows are fixed-width regardless of document length
    (measured 1.5× over an md5-of-joined-string key at sf0.1). The
    oracle counts raw gram strings instead; the outputs agree because
    the compared value is the COUNT of distinct shared grams, equal
    unless 64-bit keys collide (~n²/2⁶⁵ — and the md5-prefix
    alternative is a 64-bit key with the same collision width, so
    nothing is lost vs the "portable" form). The eval side is
    eval-set-sized (distinct grams of a few thousand docs in practice)
    and broadcast — the train side streams through a map-side hash
    join, then one partial-aggregated groupBy on doc_id. No self-join,
    no all-pairs: cost is O(train grams) + O(eval grams), the same
    inverted-gate shape as q58's LSH-then-verify."""
    # CPU-heavy per-row stage downstream; single-row-group scan would
    # serialize it on one core (round-13, guide §2.5/§6) — no-op at scale
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = F.split("text", " ", -1)
    base = docs.filter(F.size(t) >= DECON_N).select(
        "doc_id",
        F.explode(
            F.transform(
                # 1-based slice positions; filter guarantees a non-empty,
                # ascending sequence (sequence() would happily descend).
                F.sequence(F.lit(1), F.size(t) - (DECON_N - 1)),
                lambda i: F.xxhash64(F.slice(t, i, DECON_N)),
            )
        ).alias("g"),
    )
    ev = base.filter(_eval_flag()).select("g").distinct()
    tr = base.filter(~_eval_flag()).select("doc_id", "g")
    # join BEFORE any train-side distinct: the broadcast hash join is a
    # map-side filter, so only MATCHED grams (eval-overlap sized, tiny)
    # ever shuffle; countDistinct collapses band duplicates in the same
    # aggregate. Two shuffles total vs three for distinct-then-join —
    # and the dropped one was O(train grams), the largest in the query.
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_ngrams"))
    )


# ---------------------------------------------------------------- q39
@register(
    "q39_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM toks GROUP BY doc_id, word
    ),
    idf AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, word, tf, df,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN idf USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tf, df, tfidf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, word)
                 AS rn
          FROM scored)
    WHERE rn <= {TFIDF_TOPK}
    """,
)
def q39_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-{TFIDF_TOPK} terms per document — the corpus-wide
    importance score (what does this doc say that the corpus doesn't).
    tf·ln(N/df), ranked per doc on the ROUND-6 score (both engines rank
    the identical rounded value, so cross-engine ULP noise in ln can't
    flip adjacent ranks; residual risk is only a value exactly on a
    rounding boundary, the same stance as every ratio query here).

    Scale shape: one token shuffle builds tf; df is a COUNT WINDOW over
    the same tf rows partitioned by word — one shuffle that both
    computes df and keeps the tf rows, where the groupBy-then-self-join
    alternative re-executes the whole tf subplan for each branch of the
    diamond (measured: 4 shuffles → 3, one token pass instead of two).
    N is a one-row broadcast off the raw scan; the rank window
    partitions by doc_id, so per-doc state is vocabulary-of-one-doc
    sized. Stopword skew on the word partition is bounded because tf
    already collapsed each (doc, word) to one row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("word")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("word")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOPK)
        .select("doc_id", "word", "tf", "df", "tfidf")
    )


# ---------------------------------------------------------------- q29
@register(
    "q29_token_budget_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words_count,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS skey
      FROM documents
    ),
    c AS (
      SELECT doc_id, words_count,
             CAST(sum(words_count) OVER (ORDER BY skey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_words
      FROM d
    )
    SELECT doc_id, words_count, cum_words
    FROM c WHERE cum_words <= {WORD_BUDGET}
    """,
)
def q29_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: order the corpus by a deterministic
    pseudo-random key (md5 of doc_id — a uniform shuffle that both
    engines reproduce exactly), then keep documents while the running
    word count fits {WORD_BUDGET}. The "give me a fair 50 B-token sample
    of this 10 T-token corpus" operator.

    Scale shape: a global ``ORDER BY`` window (the oracle's form)
    funnels the corpus through ONE task, so the running sum is
    :func:`~setu_spark.operators.skew.global_running_sums` — one range
    shuffle on the sample key, partition-local windows, and a
    ≤{PREFIX_PARTS}-row offsets collect rejoined by broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("words_count"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 16).alias(
            "skey"
        ),
    )
    ranked, _ = global_running_sums(
        d, ["skey"], {"cum_words": F.col("words_count")},
        "q29_token_budget_sample",
    )
    return ranked.filter(F.col("cum_words") <= WORD_BUDGET).select(
        "doc_id", "words_count", "cum_words"
    )


# ---------------------------------------------------------------- q86
#: q86 sample size and the u-quantization modulus (2^20: coarse enough
#: that both engines compute the identical rational, fine enough that
#: collisions in u don't matter — ties fall to the doc_id tie-break).
SAMPLE_N = 100
U_MOD = 1 << 20


@register(
    "q86_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words_count,
             ({hash64_sql("CAST(doc_id AS VARCHAR)", salt="ws")} % {U_MOD}
              + 1) / CAST({U_MOD + 1} AS DOUBLE) AS u
      FROM documents
    )
    SELECT doc_id, words_count,
           round(-ln(u) / words_count, 6) AS sample_key
    FROM d
    ORDER BY sample_key, doc_id
    LIMIT {SAMPLE_N}
    """,
)
def q86_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, probability ∝ document
    length (Efraimidis–Spirakis A-Res): each doc draws a deterministic
    uniform u from md5(doc_id) and competes on key = −ln(u)/w; the
    {SAMPLE_N} smallest keys ARE a weight-proportional sample. The
    "sample 50 B tokens ∝ quality score" primitive — substitute any
    weight column for words_count.

    Scale shape: one narrow pass computes the key; the global top-N is
    TakeOrderedAndProject (per-partition heaps + driver merge of
    {SAMPLE_N}-row partials), never a full sort — O(corpus) scan,
    O(sample) memory, no shuffle. Both engines rank the ROUND-6 key
    with doc_id tie-break (same cross-engine-ULP stance as q39)."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        hash64(F.col("doc_id").cast("string"), salt="ws") % U_MOD + 1
    ) / float(U_MOD + 1)
    return (
        docs.select(
            "doc_id",
            F.size(F.split("text", " ", -1)).cast("long").alias(
                "words_count"
            ),
            F.round(-F.log(u) / F.col("words_count"), 6).alias(
                "sample_key"
            ),
        )
        # NULLS LAST: a NULL-text doc has no weight and must not occupy
        # a sample slot ahead of real keys — Spark's ASC default is
        # nulls-FIRST, DuckDB's is nulls-last; pin the SQL discipline
        .orderBy(
            F.col("sample_key").asc_nulls_last(),
            F.col("doc_id").asc_nulls_last(),
        )
        .limit(SAMPLE_N)
    )


# ---------------------------------------------------------------- q87
@register(
    "q87_lang_balanced_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             {hash64_sql("CAST(doc_id AS VARCHAR)", salt="strat")}
               AS skey
      FROM documents
    ),
    m AS (
      SELECT CAST(min(cnt) AS BIGINT) AS min_cnt
      FROM (SELECT count(*) AS cnt FROM keyed GROUP BY lang)
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY skey, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, lang FROM ranked CROSS JOIN m WHERE rn <= min_cnt
    """,
)
def q87_lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling to a balanced corpus: keep, per language,
    the ⌊smallest-stratum⌋ docs with the lowest deterministic hash key —
    every language ends up equally represented (the "don't let English
    drown the tail languages" rebalance; the reference's per-language
    partitioned outputs, SURVEY S7, are the natural input).

    Scale shape: per-stratum rank windows partition by lang — parallel
    across strata, one shuffle on the stratum key; the stratum-size
    floor is a langs-count-sized aggregate broadcast back. Heavy skew
    (one giant stratum) stays windowed per lang — at 100 TB swap the
    row_number window for a per-stratum top-k (the q86 heap shape) keyed
    by the same hash."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "lang",
        hash64(F.col("doc_id").cast("string"), salt="strat").alias("skey"),
    )
    min_cnt = (
        keyed.groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").alias("min_cnt"))
    )
    ranked = keyed.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy("skey", "doc_id")
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(min_cnt))
        .filter(F.col("rn") <= F.col("min_cnt"))
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------- q88
@register(
    "q88_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM toks GROUP BY doc_id, word
    ),
    freq AS (
      SELECT word, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY word
    ),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(
             CAST(sum(CAST(tf * -ln(cnt / CAST(total AS DOUBLE))
                           AS DECIMAL(28,12))) AS DOUBLE)
             / CAST(sum(tf) AS DOUBLE), 6) AS avg_neg_logprob
    FROM tf JOIN freq USING (word) CROSS JOIN t
    GROUP BY doc_id
    """,
)
def q88_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-probability under the corpus's
    own unigram model — the cheap "perplexity proxy" quality score
    (gibberish and boilerplate sit at the distribution's extremes; real
    pipelines threshold on exactly this before any model-based filter).
    score(doc) = Σ_w tf·(−ln(cnt_w / T)) / Σ_w tf.

    Scale shape: one token shuffle builds tf; the per-word corpus count
    is a SUM WINDOW over the same tf rows partitioned by word — one
    shuffle that both computes cnt_w and keeps the tf rows (the
    groupBy-then-join diamond re-executed the tf subplan three times:
    measured 6 shuffles → 3). T comes off the raw scan as a one-row
    broadcast (a narrow sum of per-doc sizes — no token explosion).
    Each per-term product is quantized to DECIMAL(28,12) before the
    per-doc sum (registry.dsum discipline), so both engines add
    identical exact decimals in any order — cross-engine ULP noise in
    ln() never compounds."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    total = docs.agg(
        F.sum(F.size(F.split("text", " ", -1))).alias("total")
    )
    term = F.col("tf") * -F.log(
        F.col("cnt") / F.col("total").cast("double")
    )
    return (
        tf.withColumn(
            "cnt", F.sum("tf").over(Window.partitionBy("word"))
        )
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(term.cast("decimal(28,12)")).cast("double")
                / F.sum("tf").cast("double"),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


# ---------------------------------------------------------------- q114
@register(
    "q114_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    big AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2, count(*) AS tf
      FROM toks, unnest(range(1, len(t))) AS u(i)
      GROUP BY doc_id, w1, w2
    ),
    bc AS (
      SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS big_cnt
      FROM big GROUP BY w1, w2
    ),
    uc AS (
      SELECT w1, CAST(sum(tf) AS BIGINT) AS ctx_cnt
      FROM big GROUP BY w1
    ),
    v AS (
      SELECT count(DISTINCT word) AS vocab
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents)
    )
    SELECT b.doc_id,
           CAST(sum(b.tf) AS BIGINT) AS n_bigrams,
           round(
             CAST(sum(CAST(b.tf * -ln((c.big_cnt + 1)
                            / CAST(u.ctx_cnt + v.vocab AS DOUBLE))
                           AS DECIMAL(28,12))) AS DOUBLE)
             / CAST(sum(b.tf) AS DOUBLE), 6) AS avg_neg_logprob
    FROM big b
    JOIN bc c USING (w1, w2)
    JOIN uc u USING (w1)
    CROSS JOIN v
    GROUP BY b.doc_id
    """,
)
def q114_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-probability under the corpus's
    own add-1-smoothed BIGRAM model — the conditional upgrade of q88's
    unigram proxy (catches word-salad that unigram statistics cannot:
    plausible words in implausible orders score high here).
    score(doc) = Σ tf·(−ln ((c(w1 w2)+1) / (c(w1·)+V))) / Σ tf.

    Scale shape (q88's window lesson, twice): per-doc bigram tf is one
    shuffle; the corpus bigram count and the context count are SUM
    WINDOWS over those same tf rows (partitioned by (w1,w2) and by w1)
    instead of groupBy-join diamonds; V is a one-row broadcast. Per-term
    products are DECIMAL(28,12)-quantized before the per-doc sum so both
    engines add identical exact decimals in any order (upgraded from
    (18,6) after the sf0.1 sweep: at 1e-6 grain an engine ln half-ulp
    at the quantization edge flipped a term by 1e-6 and moved 3/5000
    averages across the output rounding boundary; at 1e-12 a flip
    shifts the average by ~1e-14 — unobservable at round-6)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ", -1)
    pairs = docs.filter(F.size(t) >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ' ', -1), 1,"
                " size(split(text, ' ', -1)) - 1),"
                " slice(split(text, ' ', -1), 2,"
                " size(split(text, ' ', -1)) - 1),"
                " (x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    tf = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count("*").alias("tf")
    )
    vocab = docs.select(
        F.explode(t).alias("word")
    ).agg(F.countDistinct("word").alias("vocab"))
    term = F.col("tf") * -F.log(
        (F.col("big_cnt") + 1)
        / (F.col("ctx_cnt") + F.col("vocab")).cast("double")
    )
    return (
        tf.withColumn(
            "big_cnt", F.sum("tf").over(Window.partitionBy("w1", "w2"))
        )
        .withColumn("ctx_cnt", F.sum("tf").over(Window.partitionBy("w1")))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.round(
                F.sum(term.cast("decimal(28,12)")).cast("double")
                / F.sum("tf").cast("double"),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


# ---------------------------------------------------------------- q83
@register(
    "q83_curation_pipeline",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {DECON_N}
    ),
    grams AS (
      SELECT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
             t[i+3] || ' ' || t[i+4] AS g
      FROM toks, unnest(range(1, len(t) - {DECON_N - 2})) AS u(i)
    ),
    ev AS (
      SELECT DISTINCT g FROM grams
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '{EVAL_HEX}'
    ),
    contam AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '{EVAL_HEX}'
        AND g IN (SELECT g FROM ev)
    ),
    d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words_count,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('slow', 'error', 'big')))
               AS flagged,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents
    )
    SELECT doc_id, lang, words_count
    FROM d
    WHERE doc_id = keeper
      AND words_count >= 30 AND flagged < 5
      AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '{EVAL_HEX}'
      AND doc_id NOT IN (SELECT doc_id FROM contam)
    """,
)
def q83_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation decision, composed from this module's and
    the dedup family's primitives exactly the way a production run chains
    them: exact-dedup survivors (q50's min-id-per-content-hash) → quality
    gate (q33's length + flagged-word predicates) → eval-set exclusion +
    decontamination removal (q64's gram overlap as a broadcast anti-join).
    Returns the surviving training corpus.

    Scale shape: the survivor pick is ONE window over the 128-bit content
    hash (no groupBy-join diamond); quality predicates are per-row; the
    contaminated-id set is overlap-sized and broadcast into a left_anti
    join — so the whole pipeline is two shuffles (content-hash window +
    the q64 subplan's aggregates) regardless of corpus size, and every
    filter before the window prunes… nothing here: dedup must see ALL
    rows first, which is why the window comes first and the cheap
    predicates run on its (already narrow) output."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ", -1)
    flag_arr = F.array(*[F.lit(w) for w in ("slow", "error", "big")])
    keeper = F.min("doc_id").over(
        Window.partitionBy(F.md5(F.col("text").cast("binary")))
    )
    contam = q64_decontamination(spark, sf_dir).select("doc_id")
    return (
        docs.withColumn("keeper", keeper)
        .filter(F.col("doc_id") == F.col("keeper"))
        .select(
            "doc_id",
            "lang",
            F.size(toks).cast("long").alias("words_count"),
            F.size(
                F.filter(toks, lambda w: F.array_contains(flag_arr, w))
            ).alias("flagged"),
        )
        .filter((F.col("words_count") >= 30) & (F.col("flagged") < 5))
        .filter(~_eval_flag())
        .join(F.broadcast(contam), "doc_id", "left_anti")
        .select("doc_id", "lang", "words_count")
    )


# ---------------------------------------------------------------- q94
#: Token budget of one packed training sequence (test-scale; production
#: uses the model's context length, e.g. 2048/8192).
SEQ_LEN = 256


def pack_sequences(docs: DataFrame, seq_len: int = SEQ_LEN) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed-budget training
    sequences ("pack 2048-token windows with minimal padding") — the one
    curation op that is genuinely IMPERATIVE: bin state (the running fill
    of the open sequence) depends on every prior decision, so no
    window/join/agg expresses it. This is the sanctioned escape hatch
    (SURVEY §7 build stance): an Arrow-batched ``mapInPandas`` running
    group-LOCAL greedy next-fit over deterministic doc_id-range groups.

    Determinism is by VALUE, not by physical partition: each doc gets an
    explicit pack-group ``pid = (doc_id - lo) * P // span`` (lo/span from
    a bounded min/max aggregate — one tiny driver collect), the kernel
    resets its bin state whenever pid changes, and sequence ids are
    (pid << 33) | local counter. The output is therefore a pure function
    of the data — identical under any partitioning, any executor count,
    and exactly replayable by the driver's DuckDB oracle (a per-pid
    recursive-CTE replay of the same next-fit recurrence).

    Packing stays embarrassingly parallel — sequences never span pack
    groups, so at 100 TB each executor packs its own doc_id range and the
    only cross-node movement is the one hash shuffle on pid. Docs longer
    than the budget are clamped (production would chunk them first —
    q40's explode/reassembly family)."""
    import pandas as pd

    sized = docs.select(
        "doc_id",
        F.least(
            F.size(F.split("text", " ", -1)).cast("long"), F.lit(seq_len)
        ).alias("words_count"),
    )
    lo, hi = sized.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return sized.sparkSession.createDataFrame(
            [], "seq_id long, doc_id long, words_count long"
        )
    span = hi - lo + 1
    sized = sized.withColumn(
        "pid", F.expr(f"(doc_id - {lo}) * {PREFIX_PARTS} div {span}")
    )

    def pack(batches):
        cur_pid, seq_no, fill = None, 0, 0
        for pdf in batches:
            out_docs: list[tuple[int, int, int]] = []
            for pid, doc_id, words in zip(
                pdf["pid"].values, pdf["doc_id"].values,
                pdf["words_count"].values,
            ):
                if pid != cur_pid:
                    cur_pid, seq_no, fill = pid, 0, 0
                if fill + words > seq_len:
                    seq_no += 1
                    fill = 0
                fill += int(words)
                out_docs.append(
                    ((int(pid) << 33) | seq_no, int(doc_id), int(words))
                )
            if out_docs:
                yield pd.DataFrame(
                    out_docs, columns=["seq_id", "doc_id", "words_count"]
                )

    return (
        sized.repartition(PREFIX_PARTS, "pid")
        .sortWithinPartitions("pid", "doc_id")
        .mapInPandas(
            pack, "seq_id long, doc_id long, words_count long"
        )
    )


def _packing_oracle() -> str:
    """DuckDB replay of :func:`pack_sequences`: same pid formula, same
    next-fit recurrence advanced one row per pid per recursion step."""
    return f"""
    WITH RECURSIVE sized AS (
      SELECT doc_id,
             least(CAST(len(string_split(text, ' ')) AS BIGINT),
                   {SEQ_LEN}) AS words_count
      FROM documents
    ),
    b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM sized),
    numbered AS (
      SELECT s.doc_id, s.words_count,
             (s.doc_id - b.lo) * {PREFIX_PARTS} // (b.hi - b.lo + 1) AS pid,
             row_number() OVER (
               PARTITION BY (s.doc_id - b.lo) * {PREFIX_PARTS}
                            // (b.hi - b.lo + 1)
               ORDER BY s.doc_id) AS rn
      FROM sized s, b
    ),
    packed AS (
      SELECT pid, rn, doc_id, words_count,
             CAST(0 AS BIGINT) AS seq_no, words_count AS fill
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.pid, n.rn, n.doc_id, n.words_count,
             CASE WHEN p.fill + n.words_count > {SEQ_LEN}
                  THEN p.seq_no + 1 ELSE p.seq_no END,
             CASE WHEN p.fill + n.words_count > {SEQ_LEN}
                  THEN n.words_count ELSE p.fill + n.words_count END
      FROM packed p JOIN numbered n ON n.pid = p.pid AND n.rn = p.rn + 1
    )
    SELECT (pid << 33) | seq_no AS seq_id, doc_id, words_count FROM packed
    """


@register("q94_sequence_packing", oracle=_packing_oracle())
def q94_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into {SEQ_LEN}-word training sequences — see
    :func:`pack_sequences`."""
    return pack_sequences(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- q110
#: Upsampling ceiling for under-represented sources (repeating any
#: source more than this many times degrades models faster than the
#: mixture balance helps).
MAX_UPSAMPLE = 3.0


@register(
    "q110_source_mixture_weights",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
             count(*) AS n_sources
      FROM per_source
    )
    SELECT p.source, p.n_docs, p.n_tokens,
           round(p.n_tokens / CAST(t.total AS DOUBLE), 6) AS raw_share,
           round(least(t.total / (t.n_sources * CAST(p.n_tokens AS DOUBLE)),
                       {MAX_UPSAMPLE}), 6) AS weight,
           CAST(round(p.n_tokens
                      * least(t.total
                              / (t.n_sources * CAST(p.n_tokens AS DOUBLE)),
                              {MAX_UPSAMPLE}), 0) AS BIGINT)
             AS expected_tokens
    FROM per_source p, tot t
    """,
)
def q110_source_mixture_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training-mixture calibration: per-source sampling weights that
    move the corpus toward a UNIFORM token share across sources, capped
    at {MAX_UPSAMPLE}x upsampling — the static form of domain-mixture
    reweighting (the knob DoReMi et al. tune dynamically). Emits the
    audit columns a mixture config review needs: raw share, assigned
    weight, expected post-sampling token count.

    Scale shape: one map-side-combined aggregate to |sources| rows, a
    broadcast of the 1-row totals, arithmetic — no second scan, no
    shuffle beyond the group-by. The weight math divides exact integer
    token counts once per source, so both engines emit the identical
    IEEE double before the display rounding."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ", -1))).cast("long").alias(
            "n_tokens"
        ),
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count("*").alias("n_sources"),
    )
    weight = F.least(
        F.col("total")
        / (F.col("n_sources") * F.col("n_tokens").cast("double")),
        F.lit(MAX_UPSAMPLE),
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") / F.col("total").cast("double"), 6
        ).alias("raw_share"),
        F.round(weight, 6).alias("weight"),
        F.round(F.col("n_tokens") * weight, 0)
        .cast("long")
        .alias("expected_tokens"),
    )


# ---------------------------------------------------------------- q113
#: Histogram bucket width in words — chosen so the packing budget
#: (SEQ_LEN) spans a few buckets; production uses the tokenizer's
#: context-length planning grid.
LEN_BUCKET = 64


@register(
    "q113_length_histogram",
    oracle=f"""
    WITH sized AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents
    ),
    b AS (
      SELECT (n_words // {LEN_BUCKET}) * {LEN_BUCKET} AS bucket_start,
             count(*) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS n_tokens
      FROM sized GROUP BY bucket_start
    ),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM b)
    SELECT b.bucket_start, b.n_docs, b.n_tokens,
           round(b.n_tokens / CAST(t.total AS DOUBLE), 6) AS token_share,
           round(CAST(sum(b.n_tokens) OVER (ORDER BY b.bucket_start)
                      AS BIGINT) / CAST(t.total AS DOUBLE), 6)
             AS cum_token_share
    FROM b, t
    """,
)
def q113_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length histogram in {LEN_BUCKET}-word buckets with token
    shares and the cumulative token CDF — the planning readout behind
    context-length and packing-budget choices ("what fraction of tokens
    lives in docs shorter than X"). Bucketing is pure integer division,
    so both engines bucket identically; the CDF window runs over the
    |buckets|-row aggregate, not the corpus.

    Scale shape: one map-combined aggregate to ~dozens of rows, one
    broadcast total, one tiny window. The corpus is touched once."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        F.size(F.split("text", " ", -1)).cast("long").alias("n_words")
    )
    b = sized.groupBy(
        (F.expr(f"n_words div {LEN_BUCKET}") * LEN_BUCKET).alias(
            "bucket_start"
        )
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )
    t = b.agg(F.sum("n_tokens").cast("long").alias("total"))
    # NULLS LAST (DuckDB's window-order default; Spark's is first): the
    # NULL-length bucket (NULL-text docs) closes the CDF at 1.0 instead
    # of opening it with a NULL running sum
    w = Window.orderBy(
        F.col("bucket_start").asc_nulls_last()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return b.crossJoin(F.broadcast(t)).select(
        "bucket_start",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") / F.col("total").cast("double"), 6
        ).alias("token_share"),
        F.round(
            F.sum("n_tokens").over(w).cast("long")
            / F.col("total").cast("double"),
            6,
        ).alias("cum_token_share"),
    )


# ---------------------------------------------------------------- q112
#: Sampling temperature: target language share ∝ (raw share)^ALPHA —
#: α=1 keeps the natural distribution, α→0 approaches uniform. 0.3 is
#: the mT5/XLM-R operating point.
MIX_ALPHA = 0.3


@register(
    "q112_temperature_mixture",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per_lang),
    q AS (
      SELECT p.lang, p.n_docs, p.n_tokens, t.total,
             p.n_tokens / CAST(t.total AS DOUBLE) AS raw_p,
             round(pow(p.n_tokens / CAST(t.total AS DOUBLE),
                       {MIX_ALPHA}), 9) AS qr
      FROM per_lang p, tot t
    ),
    s AS (
      SELECT CAST(sum(CAST(qr AS DECIMAL(18,9))) AS DOUBLE) AS sum_qr
      FROM q
    )
    SELECT q.lang, q.n_docs, q.n_tokens,
           round(q.raw_p, 6) AS raw_share,
           round(q.qr / s.sum_qr, 6) AS target_share,
           round((q.qr / s.sum_qr) / q.raw_p, 6) AS sample_weight,
           CAST(round(q.total * (q.qr / s.sum_qr), 0) AS BIGINT)
             AS expected_tokens
    FROM q, s
    """,
)
def q112_temperature_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based multilingual sampling weights: target language
    share ∝ (natural share)^{MIX_ALPHA} — the standard recipe for
    upweighting low-resource languages without drowning high-resource
    ones (α=0.3 is the mT5/XLM-R point; q110 is the α→0 per-source
    uniform limit with a hard cap).

    Float discipline: the only order-sensitive step (summing the per-
    language q-values to normalize) runs through DECIMAL(18,9) on
    9-digit-rounded terms in both engines, so the normalizer is exact;
    everything else is a single-division double on identical integer
    inputs. Scale shape: one map-combined aggregate to |langs| rows,
    two broadcast scalar attaches — nothing else moves."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ", -1))).cast("long").alias(
            "n_tokens"
        ),
    )
    tot = per_lang.agg(F.sum("n_tokens").cast("long").alias("total"))
    q = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "total",
        (F.col("n_tokens") / F.col("total").cast("double")).alias("raw_p"),
        F.round(
            F.pow(
                F.col("n_tokens") / F.col("total").cast("double"),
                F.lit(MIX_ALPHA),
            ),
            9,
        ).alias("qr"),
    )
    s = q.agg(
        F.sum(F.col("qr").cast("decimal(18,9)"))
        .cast("double")
        .alias("sum_qr")
    )
    return q.crossJoin(F.broadcast(s)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round("raw_p", 6).alias("raw_share"),
        F.round(F.col("qr") / F.col("sum_qr"), 6).alias("target_share"),
        F.round(
            (F.col("qr") / F.col("sum_qr")) / F.col("raw_p"), 6
        ).alias("sample_weight"),
        F.round(F.col("total") * (F.col("qr") / F.col("sum_qr")), 0)
        .cast("long")
        .alias("expected_tokens"),
    )


# ---------------------------------------------------------------- q89
#: Bloom sizing: bits per eval gram and hash-probe count. 20 bits/key at
#: k=4 gives ~0.1% false-positive rate — false positives only cost a
#: probe of the exact verify join, never a wrong answer.
BLOOM_BITS_PER_KEY = 20
BLOOM_K = 4


def _bloom_build(keys, bits_per_key: int = BLOOM_BITS_PER_KEY):
    """Build a numpy-bitset Bloom filter over int64 keys. Returns
    (bits: uint64 array, log2m). Probing uses BLOOM_K splitmix-style
    multiplicative hashes taking the top log2m bits."""
    import numpy as np

    n = max(int(len(keys)), 1)
    log2m = max(int(n * bits_per_key - 1).bit_length(), 6)
    m = 1 << log2m
    bits = np.zeros(m >> 6, dtype=np.uint64)
    k = np.asarray(keys, dtype=np.int64).view(np.uint64)
    for mult in _BLOOM_MULTS:
        idx = (k * np.uint64(mult)) >> np.uint64(64 - log2m)
        np.bitwise_or.at(
            bits, (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )
    return bits, log2m


#: Fixed odd 64-bit mixing multipliers (splitmix64 / Murmur finalizer
#: constants) — one probe position per multiplier.
_BLOOM_MULTS = (
    0xFF51AFD7ED558CCD,
    0xC4CEB9FE1A85EC53,
    0x9E3779B97F4A7C15,
    0xBF58476D1CE4E5B9,
)[:BLOOM_K]


@register(
    "q89_bloom_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {DECON_N}
    ),
    grams AS (
      SELECT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
             t[i+3] || ' ' || t[i+4] AS g
      FROM toks, unnest(range(1, len(t) - {DECON_N - 2})) AS u(i)
    ),
    ev AS (
      SELECT DISTINCT g FROM grams
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '{EVAL_HEX}'
    ),
    tr AS (
      SELECT DISTINCT doc_id, g FROM grams
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '{EVAL_HEX}'
    )
    SELECT doc_id, count(*) AS n_shared_ngrams
    FROM tr JOIN ev USING (g)
    GROUP BY doc_id
    """,
)
def q89_bloom_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q64's decontamination with a BLOOM PREFILTER — the 100 TB form.
    Same answer (the oracle is q64's verbatim; false positives are
    removed by an exact verify join), different constant factor: a
    ~{BLOOM_BITS_PER_KEY} bit/gram bitset broadcast tests every train
    gram in vectorized numpy BEFORE anything shuffles or probes a hash
    table, so the exact join sees only true overlaps + ~0.1% false
    positives instead of every train gram.

    Why this matters at scale: a broadcast-hash-join probe side must
    materialize the eval grams as a JVM hash relation (~10x the bitset's
    memory) and probe it per gram; the bitset is {BLOOM_BITS_PER_KEY}
    bits/key regardless of gram width, lives once per executor via
    ``sc.broadcast``, and the numpy probe is a handful of vector ops per
    Arrow batch. Eval-set grams are benchmark-file-sized (MBs) by
    definition, so the driver-side build is bounded — the same
    smallness q64's broadcast already relies on. This is the explicit
    twin of AQE's runtime bloom-filter join injection
    (spark.sql.optimizer.runtime.bloomFilter.*), kept explicit so the
    prefilter composes with the Python-side gram kernel."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ", -1)
    base = docs.filter(F.size(t) >= DECON_N).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (DECON_N - 1)),
                lambda i: F.xxhash64(F.slice(t, i, DECON_N)),
            )
        ).alias("g"),
    )
    ev = base.filter(_eval_flag()).select("g").distinct()
    # Eval side is benchmark-sized: a bounded driver collect (same
    # contract as every broadcast build), then a bitset broadcast.
    ev_keys = [r[0] for r in ev.collect()]
    bits, log2m = _bloom_build(ev_keys)
    bc = spark.sparkContext.broadcast((bits, log2m))

    @F.pandas_udf("boolean")
    def bloom_maybe(g: pd.Series) -> pd.Series:
        import numpy as np

        bits, log2m = bc.value
        k = g.to_numpy(dtype="int64", na_value=0).view(np.uint64)
        hit = np.ones(len(k), dtype=bool)
        for mult in _BLOOM_MULTS:
            idx = (k * np.uint64(mult)) >> np.uint64(64 - log2m)
            word = bits[(idx >> np.uint64(6)).astype(np.int64)]
            hit &= (word >> (idx & np.uint64(63))) & np.uint64(1) != 0
        return pd.Series(hit)

    tr = base.filter(~_eval_flag()).filter(bloom_maybe("g"))
    # Exact verify on the prefiltered residue removes false positives;
    # the broadcast side here is the same small eval table, but the
    # probe volume entering this join is overlap-sized, not corpus-sized.
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_ngrams"))
    )


# ---------------------------------------------------------------- q98
#: Hash-split boundaries on the first two hex digits of md5(doc_id):
#: 0x00-0xe5 train (~89.8%), 0xe6-0xf2 val (~5.1%), 0xf3-0xff test.
SPLIT_VAL_HEX = "e6"
SPLIT_TEST_HEX = "f3"


def split_case_sql(id_expr: str) -> str:
    """DuckDB spelling of the md5-prefix split rule for ``id_expr`` —
    THE single source of the rule's SQL form (q98's oracle spells it
    inline with identical semantics; q144 composes this helper)."""
    hx = f"substr(md5(CAST({id_expr} AS VARCHAR)), 1, 2)"
    return (
        f"CASE WHEN {hx} < '{SPLIT_VAL_HEX}' THEN 'train'"
        f" WHEN {hx} < '{SPLIT_TEST_HEX}' THEN 'val'"
        f" ELSE 'test' END"
    )


def split_col(id_col: Column) -> Column:
    """Spark twin of :func:`split_case_sql` — shared by q98 and q144 so
    the engine-side rule cannot fork between the per-document split and
    its leak-free variant."""
    hx = F.substring(F.md5(id_col.cast("string")), 1, 2)
    return (
        F.when(hx < SPLIT_VAL_HEX, "train")
        .when(hx < SPLIT_TEST_HEX, "val")
        .otherwise("test")
    )


@register(
    "q98_hash_split",
    oracle=f"""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                     < '{SPLIT_VAL_HEX}' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                     < '{SPLIT_TEST_HEX}' THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ALL
    """,
)
def q98_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split audit: every document is
    assigned a split by the first two hex digits of md5(doc_id) —
    stable across runs, engines, and cluster layouts (never
    ``rand()``/``randomSplit``, whose assignment depends on partition
    layout and seed plumbing), so downstream runs can re-derive
    membership from the id alone. Reported per (split, lang) with doc/
    word/char totals — the stratification table a dataset card ships.

    Scale shape: one codegen'd projection (md5 + string compare — the
    hex prefix comparison IS the bucket arithmetic, no hex->int
    conversion exists in both engines) and one partial-agg'd groupBy on
    a 3x|langs| key space. Nothing else moves."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            split_col(F.col("doc_id")).alias("split"),
            "lang",
            F.size(F.split("text", " ", -1)).cast("long").alias("words"),
            "n_chars",
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("words").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------- q102
#: Number of quality tiers (deciles).
N_TIERS = 10

#: The q88 scoring CTEs, shared verbatim by q102's oracle so the tier
#: boundaries derive from the identical rounded score in both engines.
_Q88_SQL_CTES = """
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM toks GROUP BY doc_id, word
    ),
    freq AS (
      SELECT word, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY word
    ),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
    scored AS (
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_tokens,
             round(
               CAST(sum(CAST(tf * -ln(cnt / CAST(total AS DOUBLE))
                             AS DECIMAL(28,12))) AS DOUBLE)
               / CAST(sum(tf) AS DOUBLE), 6) AS avg_neg_logprob
      FROM tf JOIN freq USING (word) CROSS JOIN t
      GROUP BY doc_id
    )
"""


@register(
    "q102_quality_tiers",
    oracle=f"""
    WITH {_Q88_SQL_CTES},
    ranked AS (
      SELECT doc_id, n_tokens, avg_neg_logprob,
             row_number() OVER (ORDER BY avg_neg_logprob, doc_id) AS rn,
             count(*) OVER () AS n_total
      FROM scored
    )
    SELECT CAST(floor((rn - 1) * {N_TIERS} / CAST(n_total AS DOUBLE))
                AS INT) + 1 AS tier,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(min(avg_neg_logprob), 6) AS best_score,
           round(max(avg_neg_logprob), 6) AS worst_score
    FROM ranked
    GROUP BY 1
    """,
)
def q102_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket the corpus into {N_TIERS} quality tiers by the q88
    perplexity proxy ("train on the top 3 deciles" is a standard
    curation policy) — tier = exact global rank decile over the
    6-digit-rounded score with doc_id tie-break, so both engines draw
    identical boundaries.

    Scale shape: a global ntile/row_number window funnels the corpus
    through ONE task, so the rank is a running count from
    :func:`~setu_spark.operators.skew.global_running_sums` (range
    partitions on (score, doc_id), partition-local windows, a
    ≤{PREFIX_PARTS}-row offsets collect), which also returns the corpus
    size. The scoring sub-plan is q88's (one token shuffle +
    word-partition window)."""
    scored = q88_unigram_logprob(spark, sf_dir)
    ranked, totals = global_running_sums(
        scored, ["avg_neg_logprob", "doc_id"], {"rn": F.lit(1)},
        "q102_quality_tiers",
    )
    n_total = totals["rn"]
    tier = (
        F.floor(
            (F.col("rn") - 1) * N_TIERS / F.lit(float(n_total))
        ).cast("int")
        + 1
    ).alias("tier")
    return ranked.groupBy(tier).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.min("avg_neg_logprob"), 6).alias("best_score"),
        F.round(F.max("avg_neg_logprob"), 6).alias("worst_score"),
    )


# ---------------------------------------------------------------- q124
#: DSIR hashed-feature buckets (the paper uses 10k; the plan shape is
#: identical at any B — the distribution tables stay B rows).
DSIR_B = 1024
#: Pseudo target domain: English documents (any doc predicate works —
#: a real run points this at a high-quality reference corpus slice).
DSIR_TARGET_LANG = "en"


@register(
    "q124_dsir_importance",
    oracle=f"""
    WITH uni AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS feat
      FROM documents
    ),
    big AS (
      SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS feat
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
            FROM documents
            WHERE len(string_split(text, ' ')) >= 2),
           unnest(range(1, len(t))) AS u(i)
    ),
    fb AS (
      SELECT doc_id, lang,
             {hash64_sql("feat", salt="dsir")} % {DSIR_B} AS b,
             count(*) AS c
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
      GROUP BY doc_id, lang, b
    ),
    dist AS (
      SELECT b,
             CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c
                           ELSE 0 END) AS BIGINT) AS tc,
             CAST(sum(c) AS BIGINT) AS rc
      FROM fb GROUP BY b
    ),
    tot AS (
      SELECT CAST(sum(tc) AS BIGINT) AS tt,
             CAST(sum(rc) AS BIGINT) AS tr
      FROM dist
    ),
    ratio AS (
      SELECT b,
             ln((tc + 1) / CAST(tt + {DSIR_B} AS DOUBLE))
               - ln((rc + 1) / CAST(tr + {DSIR_B} AS DOUBLE)) AS lr
      FROM dist CROSS JOIN tot
    ),
    per_doc AS (
      SELECT fb.doc_id,
             CAST(sum(c) AS BIGINT) AS n_feats,
             CAST(sum(CAST(c * lr AS DECIMAL(28,12))) AS DOUBLE) AS w
      FROM fb JOIN ratio USING (b)
      GROUP BY fb.doc_id
    )
    SELECT doc_id, n_feats, round(w, 6) AS dsir_logw,
           round(w - ln(-ln(
             ({hash64_sql("CAST(doc_id AS VARCHAR)", salt="dsirg")}
              % {U_MOD} + 1) / CAST({U_MOD + 1} AS DOUBLE))), 6)
             AS sample_key
    FROM per_doc
    """,
)
def q124_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): every document gets a
    log importance weight under hashed unigram+bigram bag-of-words
    models of a TARGET domain vs the RAW pool, plus the Gumbel-top-k
    sampling key that turns the weights into a resample. Features hash
    into {DSIR_B} buckets (md5-derived so both engines agree);
    log w(doc) = Σ_b c_doc[b]·(ln p_target[b] − ln q_raw[b]) with add-1
    smoothing; sample_key = log w + Gumbel(md5(doc_id)) — the top-K
    keys ARE a draw from the importance-weighted distribution (take
    them with q86's TakeOrdered heap shape). The reference has no
    importance-scoring operator at all (its selection surface is
    threshold filters, flagging_and_removal.py) — this is the
    "beyond-reference" selection step a pretraining pipeline runs
    between dedup and sampling.

    Scale shape: one feature shuffle builds per-doc bucket counts
    (map-side combined; state per doc ≤ {DSIR_B} rows by construction
    — the hashing trick caps the width regardless of vocabulary); the
    target/raw bucket totals are SUM WINDOWS over those same rows
    partitioned by bucket (the q88 lesson — a groupBy-join diamond
    here re-executed the explode subplan six times, measured), and the
    corpus feature totals come off a separate NARROW scan (no explode:
    #feats per doc is 2·words−1 in closed form) as a one-row
    broadcast; the per-doc reduce is the third and last shuffle.
    Per-term products are DECIMAL(28,12)-quantized so both engines sum
    identical exact decimals in any order."""
    # CPU-heavy per-row stage downstream; single-row-group scan would
    # serialize it on one core (round-13, guide §2.5/§6) — no-op at scale
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = F.split("text", " ", -1)
    # unigrams ++ bigrams in ONE array → one explode → one corpus scan
    # (a two-branch union reads the corpus twice); the bigram zip_with
    # yields an empty array for single-word docs, so no filter needed
    feats = F.concat(
        t,
        F.expr(
            "zip_with(slice(split(text, ' ', -1), 1,"
            " size(split(text, ' ', -1)) - 1),"
            " slice(split(text, ' ', -1), 2,"
            " size(split(text, ' ', -1)) - 1),"
            " (x, y) -> concat(x, ' ', y))"
        ),
    )
    fb = (
        docs.select("doc_id", "lang", F.explode(feats).alias("feat"))
        .groupBy(
            "doc_id",
            "lang",
            (hash64(F.col("feat"), salt="dsir") % DSIR_B).alias("b"),
        )
        .agg(F.count("*").alias("c"))
    )
    # per-doc feature count in closed form: words + max(words-1, 0)
    # bigrams — a narrow scan, so the one-row totals never touch the
    # exploded subplan (which a groupBy-join diamond would re-execute)
    fpd = F.size(t) + F.greatest(F.size(t) - 1, F.lit(0))
    tot = docs.agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, fpd).otherwise(
                F.lit(0)
            )
        ).alias("tt"),
        F.sum(fpd).alias("tr"),
    )
    wb = Window.partitionBy("b")
    per_doc = (
        fb.withColumn(
            "tc",
            F.sum(
                F.when(
                    F.col("lang") == DSIR_TARGET_LANG, F.col("c")
                ).otherwise(F.lit(0))
            ).over(wb),
        )
        .withColumn("rc", F.sum("c").over(wb))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lr",
            F.log((F.col("tc") + 1) / (F.col("tt") + DSIR_B).cast("double"))
            - F.log(
                (F.col("rc") + 1) / (F.col("tr") + DSIR_B).cast("double")
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum((F.col("c") * F.col("lr")).cast("decimal(28,12)"))
            .cast("double")
            .alias("w"),
        )
    )
    u = (
        hash64(F.col("doc_id").cast("string"), salt="dsirg") % U_MOD + 1
    ) / float(U_MOD + 1)
    return per_doc.select(
        "doc_id",
        "n_feats",
        F.round("w", 6).alias("dsir_logw"),
        F.round(F.col("w") - F.log(-F.log(u)), 6).alias("sample_key"),
    )


# ---------------------------------------------------------------- q128
#: Hashed-vocabulary width for the per-source unigram distributions.
#: The hashing trick caps the aggregate state at |sources| x KL_B rows
#: regardless of true vocabulary size — the same bound that makes q124's
#: DSIR models scale; at the synthetic corpus's tiny vocab each word
#: effectively owns its bucket, so the measure is exact here.
KL_B = 1 << 16


@register(
    "q128_source_kl_divergence",
    oracle=f"""
    WITH w AS (
      SELECT source,
             {hash64_sql("word", salt="klb")} % {KL_B} AS b
      FROM (SELECT source, unnest(string_split(text, ' ')) AS word
            FROM documents) x
    ),
    wb AS (SELECT source, b, count(*) AS cnt FROM w GROUP BY source, b),
    tot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                AS corpus_tot
            FROM documents),
    e AS (
      SELECT source, cnt,
             CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT)
                 AS src_tot,
             CAST(sum(cnt) OVER (PARTITION BY b) AS BIGINT) AS bkt_tot
      FROM wb
    )
    SELECT source,
           CAST(max(src_tot) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_buckets,
           round(CAST(sum(CAST((cnt / src_tot)
                               * ln((cnt / src_tot)
                                    / (bkt_tot / corpus_tot))
                               AS DECIMAL(28,12))) AS DOUBLE), 6)
               AS kl_unigram
    FROM e CROSS JOIN tot
    GROUP BY source
    """,
)
def q128_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    the mixture-design diagnostic (CCNet's domain-distance idea, and the
    signal data-mixing work like DoReMi thresholds on): sources whose
    word distribution sits far from the pool are outliers to reweight
    or inspect. KL(p_source || p_corpus) = sum_w p ln(p/q) over hashed
    word buckets; support(p) subset-of support(q) by construction so no
    smoothing is needed.

    Scale shape: one explode -> a map-side-combined (source, WORD)
    aggregate (the md5 bucket hash then touches vocabulary-sized rows,
    never the token stream — measured 6.7x at the 100x corpus) -> a
    (source, bucket) merge capped at |sources| x {KL_B} rows by the
    hashing trick; per-source and per-bucket totals are SUM WINDOWS over
    those aggregate rows (the q124 lesson — no groupBy-join diamond, no
    single-partition window); the corpus token total comes off a
    separate NARROW scan in closed form (no explode) as a one-row
    broadcast. Per-bucket KL terms are DECIMAL(28,12)-quantized so both
    engines sum identical exact decimals in any order."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ", -1)
    # group RAW words first — the md5 bucket hash then runs on the
    # |sources|x|vocab| aggregate instead of every token (6.7x at the
    # 100x corpus, where the engine-portable md5 was the whole floor);
    # the second aggregate merges words into buckets. Bucket counts are
    # identical to hashing per token, so the oracle is unchanged.
    sw = (
        docs.select("source", F.explode(t).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("wcnt"))
    )
    wb = (
        sw.groupBy(
            "source",
            (hash64(F.col("word"), salt="klb") % KL_B).alias("b"),
        )
        .agg(F.sum("wcnt").alias("cnt"))
    )
    tot = docs.agg(F.sum(F.size(t)).cast("long").alias("corpus_tot"))
    e = (
        wb.withColumn(
            "src_tot", F.sum("cnt").over(Window.partitionBy("source"))
        )
        .withColumn("bkt_tot", F.sum("cnt").over(Window.partitionBy("b")))
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("cnt") / F.col("src_tot")) * F.log(
        (F.col("cnt") / F.col("src_tot"))
        / (F.col("bkt_tot") / F.col("corpus_tot"))
    )
    return e.groupBy("source").agg(
        F.max("src_tot").alias("n_tokens"),
        F.count("*").alias("n_buckets"),
        F.round(
            F.sum(term.cast("decimal(28,12)")).cast("double"), 6
        ).alias("kl_unigram"),
    )


# ---------------------------------------------------------------- q129
#: Training-sequence length (words per chunk). Production uses the
#: tokenizer's token count (q35's BPE-ish counter); the chunk geometry
#: is identical.
CHUNK_LEN = 64


@register(
    "q129_sequence_chunking",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, t, n,
             unnest(range(0, (n + {CHUNK_LEN - 1}) // {CHUNK_LEN}))
                 AS chunk_idx
      FROM d
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {CHUNK_LEN} + 1 AS BIGINT) AS start_word,
           CAST(least({CHUNK_LEN}, n - chunk_idx * {CHUNK_LEN}) AS BIGINT)
               AS chunk_words,
           md5(array_to_string(
                 list_slice(t, chunk_idx * {CHUNK_LEN} + 1,
                            chunk_idx * {CHUNK_LEN}
                            + least({CHUNK_LEN}, n - chunk_idx * {CHUNK_LEN})),
                 ' ')) AS chunk_fp
    FROM c
    """,
)
def q129_sequence_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length training-sequence chunking: split every document
    into consecutive {CHUNK_LEN}-word chunks (last chunk ragged), emitting
    the chunk geometry plus an md5 fingerprint of the chunk text — the
    pre-packing step that turns documents into model-sized sequences
    (q94 then bin-packs the chunks into batches). The reference splits
    documents only into LINES (utilities.py:76-96); fixed-token
    chunking is the training-side twin every pretraining pipeline runs.

    Scale shape: zero shuffles — the chunk count is closed-form from
    the word count, `sequence()` + explode fans out rows inside the
    scan stage, and the slice/fingerprint ride the same codegen'd
    projection. Output volume is input tokens / {CHUNK_LEN}, linear."""
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", F.split("text", " ", -1).alias("t"))
        .withColumn("n", F.size("t").cast("long"))
        .withColumn(
            "n_chunks",
            F.expr(f"(n + {CHUNK_LEN - 1}) DIV {CHUNK_LEN}"),
        )
    )
    c = d.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.expr("sequence(0, n_chunks - 1)")).alias("chunk_idx"),
    )
    cw = F.least(F.lit(CHUNK_LEN).cast("long"), F.col("n") - F.col("chunk_idx") * CHUNK_LEN)
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * CHUNK_LEN + 1).cast("long").alias("start_word"),
        cw.cast("long").alias("chunk_words"),
        F.md5(
            F.array_join(
                F.expr(
                    f"slice(t, chunk_idx * {CHUNK_LEN} + 1,"
                    f" least({CHUNK_LEN}, n - chunk_idx * {CHUNK_LEN}))"
                ),
                " ",
            ).cast("binary")
        ).alias("chunk_fp"),
    )
