"""Similarity search over the ``embeddings`` table (array<float> column).

Brute-force cosine top-k as the exact baseline, plus a random-hyperplane
LSH bucketing as the scale path (query cost drops from O(n) to O(bucket)).

Single-vector scoring (q60's brute force against a literal query
vector) is JVM-side HOFs (``zip_with`` + ``aggregate``) over the array
column; elements are cast to double *before* multiply/accumulate so both
engines fold the identical IEEE sequence. Batched vector math runs as
numpy kernels inside Arrow UDFs and ``mapInPandas``/``applyInPandas``
(q55/q62/q63/q85/q123/q126/q138/q143), each kernel written once:
:func:`_cos_block` (the rounded cosine block), :func:`nearest_cells`
(top-n cells, ties to the lowest), :func:`_topk_partials` (tie-exact
per-x/per-y top-k) and :func:`_margin_select` (the margin-mining tail).
Their scores are rounded to 6 digits, which absorbs the ULP divergence
between BLAS and the oracles' sequential folds.

Scale stance: brute-force top-k against one query is a single narrow pass +
TakeOrdered — fine at any corpus size for one query. For query *batches*,
bucket both sides with the same hyperplanes (q62's bucket id) and join on
the bucket — the ANN analog of the LSH band join in dedup.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from setu_spark.functions.hashes import hash64_sql
from setu_spark.registry import register
from setu_spark.sources.io import load_table

DIM = 64
N_PLANES = 8


def round6_away(x):
    """Vectorized round-HALF-UP (away from zero) to 6 digits — what both
    Spark's F.round and DuckDB's round() do on doubles. np.round is
    banker's (half-EVEN) and has already caused one real hash mismatch
    (see textstats._round6); cosines can be negative, hence copysign."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i with double accumulation, sequential fold (oracle-exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with NULL-embedding rows excluded — the
    similarity family's loader. A NULL embedding is NO vector: it takes
    part in no clustering, banding, search, or mining (the same rule as
    NULL-signature docs in the MinHash band guard, and q152's existing
    NULL→novel pre-split). DuckDB oracles agree for free where they
    unnest the embedding (unnest(NULL) yields no rows) and explicitly
    where they count or rank raw rows (the kmeans init CTE filters, the
    IVF codebook sizing counts the embedding column — count(col) skips
    NULLs). Queries that tolerate NULLs natively (q60/q61/q62 HOF
    cosines → NULL sim sorts last in both engines; q142's explode drops
    them; q152's admission policy names them) keep load_table."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )


def cosine_pairs_udf():
    """Vectorized cosine over (vector, vector) row pairs: one numpy pass
    per Arrow batch instead of an interpreted 64-element HOF fold per row.
    Use on candidate-pair verify joins (thousands of rows × wide vectors);
    the HOF form (:func:`cosine`) remains for single-vector-vs-literal
    plans where Catalyst folds the literal."""
    import numpy as np

    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        # NULL-safe: a pair with a missing vector has no cosine (the
        # q151 contract: docs without vectors count as NULL cosine;
        # matches DuckDB, where unnest(NULL) yields no rows and the
        # pair drops out of the cosine aggregate). NaN leaves the
        # kernel as NULL; np.stack rejects an empty selection.
        ok = a.notna().values & b.notna().values
        out = np.full(len(a), np.nan)
        if ok.any():
            ma = np.stack(a.values[ok]).astype(np.float64)
            mb = np.stack(b.values[ok]).astype(np.float64)
            num = (ma * mb).sum(axis=1)
            den = np.sqrt((ma * ma).sum(axis=1)) * np.sqrt(
                (mb * mb).sum(axis=1)
            )
            out[ok] = num / den
        return pd.Series(out)

    # The kernel IS deterministic, but every caller filters on its
    # output (cosine >= threshold) — Catalyst's filter pushdown then
    # DUPLICATES the Arrow UDF across the pushed filter (one
    # ArrowEvalPython below, one above: 2× the matmul, the q42/q48
    # class), which the cache-aware duplicate-UDF gate catches in
    # q55/q123/q151; values are unchanged, only the duplication is
    # disabled.
    return _cos.asNondeterministic()


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------- q60
#: Brute-force top-k depth.  q131's recall audit composes q60 as its
#: exact ground truth and uses IVF_TOPK (defined with q63 below) as
#: both its oracle's exact-set LIMIT and its recall denominator — the
#: two depths MUST stay equal or the audit silently compares sets of
#: different sizes; a module-load assert below q131 pins the coupling.
BRUTE_TOPK = 10


@register(
    "q60_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    pairs AS (
      -- two unnests in the SELECT clause zip positionally in DuckDB
      SELECT v.vec_id, v.label,
             CAST(unnest(v.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings v CROSS JOIN q
      WHERE v.vec_id > 0
    ),
    sims AS (
      SELECT vec_id, any_value(label) AS label,
             round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
               AS cosine_sim
      FROM pairs GROUP BY vec_id
    )
    SELECT vec_id, label, cosine_sim
    FROM sims
    ORDER BY cosine_sim DESC, vec_id
    LIMIT {BRUTE_TOPK}
    """,
)
def q60_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector.
    The query vector is collected once and inlined as a literal array (the
    one-row broadcast); the scan side is a narrow projection + TakeOrdered.
    No vec_id=0 row (empty corpus / empty incremental batch) means no
    query: the answer is the empty top-k, exactly the oracle's empty
    ``q`` CTE cross-joined away — not a driver NoneType crash."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None or qrow[0] is None:
        return spark.createDataFrame(
            [], "vec_id bigint, label int, cosine_sim double"
        )
    qvec = qrow[0]
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    return (
        emb.filter(F.col("vec_id") > 0)
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), qlit), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(BRUTE_TOPK)
    )


# ---------------------------------------------------------------- q61
@register(
    "q61_label_centroids",
    oracle="""
    SELECT label, i AS dim,
           count(*) AS n_vecs,
           round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(27,9)))
                      AS DOUBLE) / count(*), 6) AS centroid_val
    FROM (
      -- SELECT-clause unnest + generate_subscripts zip positionally
      SELECT label,
             unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    )
    GROUP BY label, i
    """,
)
def q61_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids as a (label, dim, mean) table: posexplode the
    vector, aggregate per (label, dim) — one shuffle, map-side combined.
    Float sums go through DECIMAL(27,9) for order-independence."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("i0", "x")
    ).select("label", (F.col("i0") + 1).alias("dim"), "x")
    return exploded.groupBy("label", "dim").agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum(F.col("x").cast("double").cast("decimal(27,9)"))
            .cast("double")
            / F.count("*"),
            6,
        ).alias("centroid_val"),
    )


# ---------------------------------------------------------------- q62
def _planes_sql() -> str:
    h = hash64_sql("CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)", salt="plane")
    return f"""
    WITH planes AS (
      SELECT j, i,
             CASE WHEN {h} % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
      FROM unnest(range(0, {N_PLANES})) AS uj(j),
           unnest(range(1, {DIM + 1})) AS ui(i)
    ),
    comps AS (
      SELECT e.vec_id, p.j,
             sum(p.sgn * CAST(e.x AS DOUBLE)) AS proj
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) e
      JOIN planes p ON e.i = p.i
      GROUP BY e.vec_id, p.j
    )
    SELECT vec_id,
           CAST(sum(CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) << j
                         ELSE 0 END) AS BIGINT) AS bucket
    FROM comps
    GROUP BY vec_id
    """


@register("q62_ann_lsh_buckets", oracle=_planes_sql())
def q62_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (the ANN scale path): 8 deterministic
    ±1 hyperplanes (signs derived from the shared md5 hash so the oracle can
    reproduce them); bucket id = sign-pattern of the 8 projections.

    Registered on the vectorized form: all 8 projections per vector are one
    BLAS matmul per Arrow batch (``_band_buckets_udf`` with a single
    8-plane band) — zero shuffles, zero row explosion. The composition this
    replaced (posexplode embeddings ⋈ broadcast plane table ⋈ two groupBys)
    exploded every vector into 64 rows and shuffled twice; the oracle keeps
    that relational spelling and the two forms are value-identical (q55's
    band join already relies on the same kernel)."""
    emb = load_vectors(spark, sf_dir)
    buckets = _band_buckets_udf(
        n_planes=N_PLANES, rows_per_band=N_PLANES
    )
    return emb.select(
        "vec_id",
        F.element_at(buckets("embedding"), 1).alias("bucket"),
    )


# ---------------------------------------------------------------- q55
# Embedding-cosine near-duplicate detection (the dedup-family entry over
# vectors): 32 deterministic hyperplanes grouped into 4 bands of 8; pairs
# colliding in ≥1 band's 8-bit sign bucket are candidates, then verified
# with exact cosine. The band join is the only shuffle and its volume is
# O(n_vecs × n_bands) — independent of dimensionality; never O(n²).
# Band width tuning: 8 planes → 256 buckets/band keeps random-pair collision
# ≈ (1/2)^8, so candidate volume stays ~n²/256 per band instead of n²/16
# (measured 16× fewer verify-join rows at sf0.1); true near-dups (cos ≥ 0.9)
# still collide in ≥1 of 4 bands with ~75% probability per band math.
ND_PLANES = 32
ND_BAND_ROWS = 8
ND_BANDS = ND_PLANES // ND_BAND_ROWS
ND_THRESHOLD = 0.30


def _sgn_sql(j_expr: str, i_expr: str) -> str:
    h = hash64_sql(
        f"CAST({j_expr} AS VARCHAR) || '_' || CAST({i_expr} AS VARCHAR)",
        salt="plane",
    )
    return f"CASE WHEN {h} % 2 = 0 THEN 1.0 ELSE -1.0 END"


_COS_SQL = (
    "round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
    " / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    " * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6)"
)


def _sign_matrix(n_planes: int, dim: int = DIM):
    """The ±1 hyperplane matrix [n_planes × dim] as numpy float64, derived
    from the same md5 hash as the DuckDB oracles' ``planes`` CTE."""
    from hashlib import md5

    import numpy as np

    m = np.empty((n_planes, dim), dtype=np.float64)
    for j in range(n_planes):
        for i in range(1, dim + 1):
            h = int(
                md5(f"plane|{j}_{i}".encode()).hexdigest()[:15], 16
            )
            m[j, i - 1] = 1.0 if h % 2 == 0 else -1.0
    return m


def _band_buckets_udf(
    n_planes: int = ND_PLANES, rows_per_band: int = ND_BAND_ROWS
):
    """Per-row LSH band buckets as one vectorized matmul: the Arrow batch
    of embeddings [n × dim] (cast to float64, matching the per-element
    double cast of the declarative form) multiplies the sign matrix — BLAS
    does in microseconds what the posexplode ⋈ planes ⋈ groupBy shape
    spends seconds shuffling (measured 2.7s → ~0.1s at sf0.1). Returns
    array<bigint> of one bucket per band; the only shuffle left in the
    LSH pipeline is the band self-join itself."""
    import numpy as np

    from pyspark.sql.types import ArrayType, LongType

    sgn_t = _sign_matrix(n_planes).T  # [dim × planes]
    weights = (1 << np.arange(rows_per_band, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(embs: pd.Series) -> pd.Series:
        # NULL-safe: a missing vector gets NO bands (empty array; the
        # following posexplode drops the row) — matching DuckDB, where
        # unnest(NULL embedding) yields no projection rows and the
        # vector never reaches a bucket. np.stack rejects an empty
        # selection.
        ok = embs.notna().values
        out = [[]] * len(embs)
        if ok.any():
            # [n × dim] → bits [n × planes] → grouped [n × bands × r]
            mat = np.stack(embs.values[ok]).astype(np.float64)
            bits = (mat @ sgn_t) > 0
            grouped = bits.reshape(len(mat), -1, rows_per_band)
            bks = (grouped * weights).sum(axis=2).astype(np.int64)
            for i, row in zip(np.nonzero(ok)[0], bks):
                out[i] = row
        return pd.Series(out, dtype=object)

    return _buckets


@register(
    "q55_embedding_neardup",
    oracle=f"""
    WITH planes AS (
      SELECT j, i, {_sgn_sql('j', 'i')} AS sgn
      FROM unnest(range(0, {ND_PLANES})) AS uj(j),
           unnest(range(1, {DIM + 1})) AS ui(i)
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
    bands AS (
      SELECT vec_id, j // {ND_BAND_ROWS} AS band,
             CAST(sum(CASE WHEN proj > 0
                      THEN CAST(1 AS BIGINT) << (j % {ND_BAND_ROWS})
                      ELSE 0 END) AS BIGINT) AS bucket
      FROM comps GROUP BY vec_id, j // {ND_BAND_ROWS}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b, {_COS_SQL} AS cosine_sim
      FROM (
        SELECT c.id_a, c.id_b,
               unnest(ea.embedding) AS x, unnest(eb.embedding) AS y
        FROM cand c
        JOIN embeddings ea ON c.id_a = ea.vec_id
        JOIN embeddings eb ON c.id_b = eb.vec_id
      ) c
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, cosine_sim FROM verified
    WHERE cosine_sim >= {ND_THRESHOLD}
    """,
)
def q55_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — LSH-banded candidate
    generation (4 bands × 8 hyperplanes) + exact cosine verification at
    threshold {ND_THRESHOLD}. The vector twin of q52's MinHash+LSH.

    Band rows CARRY the embedding (the q57 inline-verify shape): the
    cosine UDF runs directly on the band self-join output and the distinct
    runs on verified survivors only — no join-back against the embedding
    table (which cost two extra shuffle joins; measured 1.27s → 0.77s at
    sf0.1, value-identical). Shuffle volume is n_vecs × bands × (vector +
    bucket) — still linear in corpus size, and a colliding pair's repeated
    cosine is deterministic so the post-verify distinct collapses band
    duplicates exactly. The banded projection is cached: both join sides
    read it, and the bucket UDF would otherwise run twice."""
    emb = load_vectors(spark, sf_dir)
    bands = _scoped_cache(
        "q55_embedding_neardup",
        emb.select(
            "vec_id",
            "embedding",
            F.posexplode(_band_buckets_udf()("embedding")).alias(
                "band", "bucket"
            ),
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    sim = F.round(
        cosine_pairs_udf()(F.col("a.embedding"), F.col("b.embedding")), 6
    )
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= ND_THRESHOLD)
        .distinct()
    )
    # pair-listing budget: the estimate reads
    # only the (band, bucket) keys off the same cached projection
    from setu_spark.operators.guards import pair_budget_gate

    return pair_budget_gate(
        out, bands, ["band", "bucket"],
        "q55_embedding_neardup",
        "q123_semantic_dedup / q125_dedup_impact_audit",
    )


# -------------------------------------------------------------- k-means
KM_K = 8
KM_ITERS = 3
KM_SCHEMA = "vec_id bigint, label int, cluster int, cosine_to_centroid double"


def kmeans_clusters(
    df: DataFrame, k: int, iters: int
) -> DataFrame:
    """Spherical (cosine) k-means over a (vec_id, label, embedding)
    DataFrame — Lloyd's iterations, Spark-shaped:

      * init: the embeddings of the k lowest vec_ids (deterministic; a
        production run would plug k-means|| here — the loop is identical);
      * assignment + partial sums in ONE ``mapInPandas`` pass per
        iteration: each Arrow batch emits at most k rows
        (cluster, count, vector-sum), so the per-iteration reduce is
        O(batches × k) metadata collected driver-side — the same
        "broadcast-variable closure" shape as q63's codebook, never a
        shuffle of the corpus;
      * update: new centroid = mean of members (cosine assignment is
        scale-invariant, so no renormalization step is needed); empty
        clusters keep their previous centroid.

    The corpus projection is cached once and reused by all iterations +
    the final labeled pass. Iterative fixpoint → rows-only driver check
    (same contract carve-out as q56's connected components); planted-
    cluster recovery is pinned in tests/test_kmeans.py."""
    # scoped cache: the projection feeds every
    # Lloyd pass + the label pass, but a bare .cache() would leak
    # executor storage across repeated calls — evict the previous
    # kmeans call's cache on re-entry
    src = _scoped_cache(
        "kmeans", df.select("vec_id", "label", "embedding")
    )
    cents = _lloyd_centroids(src, k, iters)
    if cents is None:  # empty corpus: no centroids, no assignments
        return df.sparkSession.createDataFrame([], KM_SCHEMA)

    def label_pass(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].values).astype(np.float64)
            # same round-before-argmax discipline as the iteration pass
            sims = _cos_block(mat, cents)
            assign = nearest_cells(sims, 1)[:, 0]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "label": pdf["label"].values,
                    "cluster": assign.astype("int32"),
                    "cosine_to_centroid": sims[
                        np.arange(len(assign)), assign
                    ],
                }
            )

    return src.mapInPandas(label_pass, KM_SCHEMA)


def _cos_block(x, c):
    """Round-6 cosines of every row of ``x`` [n × d] against every row
    of ``c`` [m × d]: one BLAS matmul, [n × m]. Both norms are floored
    at 1e-12 (the k-means oracle CTE's ``greatest(norm, 1e-12)``), so a
    zero vector or zero centroid scores 0 where the plain quotient is
    NaN; at norms ≥ 1e-12 the floor is a no-op and the scores are the
    plain quotient bit-for-bit. The round absorbs the ULP divergence
    between the matmul and the oracles' per-dimension sums."""
    import numpy as np

    xn = np.maximum(np.sqrt((x * x).sum(axis=1)), 1e-12)
    cn = np.maximum(np.sqrt((c * c).sum(axis=1)), 1e-12)
    return round6_away((x @ c.T) / (xn[:, None] * cn[None, :]))


#: id-rank shift of the composite selection keys: round-6 cosines scale
#: to exact integers |cos·1e6| ≤ 1e6, so ``cos·1e6·2^20 − rank`` orders
#: exactly like (cos DESC, rank ASC) while every rank stays < 2^20, and
#: never overflows int64 (≤ ~2^40).
_KEY_SHIFT = 1 << 20


def nearest_cells(cs, topn: int):
    """The ``topn`` best cells of each row of a round-6 cosine block
    ``cs`` [n × cells] by (cosine DESC, cell ASC) — the oracles'
    ``ORDER BY c DESC, cell``. Returns an [n × t] int64 array of column
    indices, t = min(topn, cells); a row's t columns are the chosen set
    in no particular order. ``topn == 1`` is ``np.argmax``, whose first
    maximum is the lowest cell (~30× cheaper than the key partition on
    a 10,000 × 1,415 block, q143's 2M-vector shape); larger ``topn``
    argpartitions the composite key."""
    import numpy as np

    if topn == 1:
        return np.argmax(cs, axis=1)[:, None]
    assert cs.shape[1] < _KEY_SHIFT
    t = min(topn, cs.shape[1])
    key = np.rint(cs * 1e6).astype(np.int64) * _KEY_SHIFT - np.arange(
        cs.shape[1], dtype=np.int64
    )
    return np.argpartition(-key, t - 1, axis=1)[:, :t]


def _lloyd_centroids(src, k: int, iters: int):
    """The Lloyd loop of :func:`kmeans_clusters`, factored out so the
    IVF tiers can train their codebooks on the SAME oracle-replayable
    trajectory: init = embeddings of the k
    lowest vec_ids, per-iteration assignment by round-6 cosine argmax,
    update = member mean rounded to 6 digits, empty clusters keeping
    the previous centroid.  Returns the final [k × d] float64 centroid
    matrix — the ``c{iters}`` CTE of :func:`_kmeans_cte` row-for-row.

    ``src`` must provide (vec_id, embedding) and should be cached by
    the caller: each iteration is one narrow ``mapInPandas`` pass
    emitting ≤k (cluster, count, vector-sum) rows per Arrow batch, so
    the driver reduce is O(batches × k) metadata, never the corpus.

    An EMPTY corpus (or k ≤ 0) has no trainable centroids — returns
    ``None`` (the empty-corpus wave: an empty incremental batch is a
    real production input and must not die in ``np.stack``); callers
    branch to their empty result."""
    import numpy as np

    init = (
        src.orderBy("vec_id").limit(k).select("embedding").collect()
        if k > 0
        else []
    )
    if not init:
        return None
    cents = np.stack([np.asarray(r[0], dtype=np.float64) for r in init])
    for _ in range(iters):
        def partials(batches, _cents=cents):
            import numpy as np

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack(pdf["embedding"].values).astype(np.float64)
                # argmax over ROUND-6 cosines (q63's discipline): raw
                # doubles differ between numpy's matmul and the oracle's
                # per-dimension sums by ulps, and a near-tie flip here
                # cascades through every later centroid update
                assign = nearest_cells(_cos_block(mat, _cents), 1)[:, 0]
                out = []
                for c in np.unique(assign):
                    sel = mat[assign == c]
                    out.append((int(c), len(sel), sel.sum(axis=0).tolist()))
                yield pd.DataFrame(
                    out, columns=["cluster", "cnt", "vsum"]
                )

        rows = src.select("vec_id", "embedding").mapInPandas(
            partials, "cluster int, cnt long, vsum array<double>"
        ).collect()
        sums = np.zeros_like(cents)
        cnts = np.zeros(k)
        for r in rows:
            sums[r["cluster"]] += np.asarray(r["vsum"])
            cnts[r["cluster"]] += r["cnt"]
        nonempty = cnts > 0
        # New means are rounded to 6 digits (half-away, the cross-engine
        # discipline): centroid updates become a deterministic function of
        # the data instead of of float-summation order, so the DuckDB
        # oracle's avg() replays them exactly. Kept (empty-cluster)
        # centroids stay untouched.
        cents = np.where(
            nonempty[:, None],
            round6_away(sums / np.maximum(cnts, 1)[:, None]),
            cents,
        )
    return cents


def ivf_cells(n: int) -> int:
    """IVF codebook size for ``n`` vectors: ⌈√n⌉ cells — the standard
    IVF sizing rule (FAISS guideline: #lists ~ sqrt(n)), and the choice
    that makes margin mining's candidate volume sub-quadratic by
    construction: per-cell population ~ sqrt(n), so candidates ~
    |X|*probes*|Y_cell| ~ n^1.5 instead of n^2. A FIXED cell count
    would only shave a constant factor (probes/cells) off the cross
    product — measured: a q138 cut on the 8-cell q63 codebook was still
    grinding at 20x where this form finishes in seconds.
    ``_MINE_CELLS_SQL`` is the oracle twin."""
    return math.ceil(math.sqrt(n))


def train_codebook(
    emb: DataFrame, k: int | None = None, iters: int = KM_ITERS
):
    """Train an IVF codebook with q85's spherical k-means instead of
    taking the first-k embeddings verbatim: [k × d] float64 centroids,
    cell id = row index (0-based), or ``None`` on an empty corpus.
    ``k=None`` sizes the codebook to :func:`ivf_cells` of the corpus
    size, counted on the cached projection (so the count also fills the
    cache the loop reads). On clustered corpora the trained cells track
    the true clusters, which is what lifts q138's recall and flattens
    q143's occupancy (pinned by tests/test_kmeans.py); on structureless
    vectors it degrades gracefully to the pseudo-codebook's behavior.
    The training cost is ``iters`` narrow passes over the corpus with
    O(batches × k) driver reduces — the corpus projection is cached for
    the loop and released after. Every call trains afresh, so a query's
    result and timing never depend on what ran earlier in the
    session."""
    src = emb.select("vec_id", "embedding").cache()
    try:
        if k is None:
            k = ivf_cells(src.count())
        return _lloyd_centroids(src, k, iters)
    finally:
        src.unpersist(False)


def _kmeans_cte(k: "int | str" = KM_K, iters: int = KM_ITERS) -> str:
    """DuckDB replay of :func:`kmeans_clusters` with the iterations
    UNROLLED as chained CTEs (fixed small iteration count makes the
    'iterative fixpoint' carve-out unnecessary here): identical init (the
    k lowest vec_ids), identical assignment rule (max cosine, ties to the
    lowest cluster index — numpy argmax picks the first maximum), and
    identical centroid update (member mean rounded to 6 digits, empty
    clusters keeping the previous centroid), so both engines walk the same
    centroid trajectory exactly. The assignment argmax orders by ROUND-6
    cosines on both sides — numpy's matmul and these per-dimension sums
    accumulate in different orders, so raw doubles can differ by ulps and
    flip a near-tie assignment.

    Returns the CTE block (no WITH keyword, no final SELECT) ending in
    ``assign(vec_id, label, cluster, cosv)`` — shared by the q85 oracle
    and q123's SemDeDup oracle, which joins pairwise cosines onto the
    same assignment trajectory.  ``k`` may be an int literal or a SQL
    subquery string (e.g. the ceil(sqrt(count)) sizing of the mining
    codebook) — it only ever lands in the init LIMIT."""
    cos = "round(dotp / (greatest(na, 1e-12) * greatest(nc, 1e-12)), 6)"
    parts = [
        """e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    )""",
        """ev AS (
      SELECT vec_id, i, v[i] AS x
      FROM e, unnest(range(1, len(v) + 1)) AS t(i)
    )""",
        f"""init AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
      FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k})
    )""",
        """c0 AS (
      SELECT init.c, ev.i, ev.x AS cx FROM init JOIN ev USING (vec_id)
    )""",
    ]
    for t in range(1, iters + 1):
        parts.append(f"""s{t} AS (
      SELECT ev.vec_id, cv.c,
             sum(ev.x * cv.cx) AS dotp,
             sqrt(sum(ev.x * ev.x)) AS na,
             sqrt(sum(cv.cx * cv.cx)) AS nc
      FROM ev JOIN c{t - 1} cv USING (i)
      GROUP BY ev.vec_id, cv.c
    )""")
        parts.append(f"""a{t} AS (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY {cos} DESC, c) AS rn
        FROM s{t}) WHERE rn = 1
    )""")
        parts.append(f"""m{t} AS (
      SELECT a.c, ev.i, round(avg(ev.x), 6) AS cx
      FROM a{t} a JOIN ev USING (vec_id)
      GROUP BY a.c, ev.i
    )""")
        parts.append(f"""c{t} AS (
      SELECT p.c, p.i, coalesce(m.cx, p.cx) AS cx
      FROM c{t - 1} p LEFT JOIN m{t} m ON m.c = p.c AND m.i = p.i
    )""")
    parts.append(f"""sfin AS (
      SELECT ev.vec_id, cv.c,
             sum(ev.x * cv.cx) AS dotp,
             sqrt(sum(ev.x * ev.x)) AS na,
             sqrt(sum(cv.cx * cv.cx)) AS nc
      FROM ev JOIN c{iters} cv USING (i)
      GROUP BY ev.vec_id, cv.c
    )""")
    parts.append(f"""afin AS (
      SELECT vec_id, c, {cos} AS cosv,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY {cos} DESC, c) AS rn
      FROM sfin
    )""")
    parts.append("""assign AS (
      SELECT e.vec_id, e.label, CAST(afin.c AS INTEGER) AS cluster,
             round(afin.cosv, 6) AS cosv
      FROM afin JOIN e USING (vec_id) WHERE afin.rn = 1
    )""")
    return ",\n    ".join(parts)


def _codebook_cte(k: "int | str" = KM_K, iters: int = KM_ITERS) -> str:
    """:func:`_kmeans_cte` extended with ``cent(cell, cvec)`` — the
    TRAINED codebook as (cell, double-list) rows, cell = 0-based
    cluster index: the shape q63/q138/q143's oracles score against,
    exactly :func:`train_codebook`'s returned matrix row-for-row."""
    return _kmeans_cte(k, iters) + f""",
    cent AS (
      SELECT CAST(c AS BIGINT) AS cell, list(cx ORDER BY i) AS cvec
      FROM c{iters} GROUP BY c
    )"""


def _kmeans_oracle(k: int = KM_K, iters: int = KM_ITERS) -> str:
    return (
        "WITH " + _kmeans_cte(k, iters) + """
    SELECT vec_id, label, cluster, cosv AS cosine_to_centroid
    FROM assign
    """
    )


# ---------------------------------------------------------------- q63
N_CENTROIDS = 8
N_PROBE = 2
IVF_TOPK = 10


#: The q63 oracle replays the TRAINED codebook: the q85 k-means
#: trajectory's final centroids (``_codebook_cte`` → ``cent``), the
#: same trajectory whose assignment CTE labels every vector — so the
#: oracle's cell choice IS the k-means assignment, and only the
#: query-probe + scoring tail is q63-specific.
_Q63_ORACLE = f"""
    WITH {_codebook_cte(N_CENTROIDS)},
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qc AS (
      SELECT cell, {_COS_SQL} AS c
      FROM (
        SELECT c.cell, unnest(c.cvec) AS x, unnest(q.qe) AS y
        FROM cent c CROSS JOIN q
      ) GROUP BY cell
    ),
    probe AS (SELECT cell FROM qc ORDER BY c DESC, cell LIMIT {N_PROBE}),
    vq AS (
      SELECT vec_id, {_COS_SQL} AS sim
      FROM (
        SELECT v.vec_id, unnest(v.embedding) AS x, unnest(q.qe) AS y
        FROM embeddings v CROSS JOIN q WHERE v.vec_id >= 1
      ) GROUP BY vec_id
    )
    SELECT a.vec_id, a.label, CAST(a.cluster AS BIGINT) AS cell,
           vq.sim AS cosine_sim
    FROM assign a
    JOIN probe p ON a.cluster = p.cell
    JOIN vq ON vq.vec_id = a.vec_id
    WHERE a.vec_id >= 1
    ORDER BY vq.sim DESC, a.vec_id
    LIMIT {IVF_TOPK}
    """


@register("q63_ann_ivf_topk", oracle=_Q63_ORACLE)
def q63_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest of
    {N_CENTROIDS} TRAINED centroids (q85's spherical k-means trajectory
    via :func:`train_codebook`; cell id =
    0-based cluster index), then answer the vec_id=0 query by probing
    only the {N_PROBE} nearest cells — the inverted-file scale path
    where query cost is O(corpus/cells × nprobe) instead of O(corpus).
    The codebook and query vector are driver-sized and shipped inside a
    ``mapInPandas`` closure — the broadcast-variable form of the broadcast
    join — so assignment + probe-filter + query scoring is a single narrow
    pass with no shuffle before the final top-k. At 100 TB the cell becomes
    the parquet partition key so a probe is a partition-pruned scan."""
    import numpy as np

    emb = load_vectors(spark, sf_dir)
    # Codebook: q85's Lloyd trajectory (oracle-shared CTE); cells are
    # the 0-based cluster indices. The query vector is one extra row.
    # query vector FIRST: with no vec_id=0 row (empty corpus / empty
    # incremental batch) there is no probe and the answer is empty —
    # the oracle's empty q CTE — and the codebook need not train
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None or qrow[0] is None:
        return spark.createDataFrame(
            [], "vec_id bigint, label int, cell bigint, cosine_sim double"
        )
    qvec = qrow[0]
    cmat = train_codebook(emb, N_CENTROIDS)  # [k × d]
    q = np.array(qvec, dtype=np.float64)

    # Score accumulation is element-wise multiply + np.sum — NOT a BLAS
    # matvec: BLAS block/FMA accumulation diverges from a plain sum at ULP
    # level, and the round-6 gate should not be asked to absorb more
    # fold-order divergence than necessary (np.sum's pairwise reduction vs
    # DuckDB's sequential fold is already absorbed by round-6; tested).
    qc = round6_away(
        (cmat * q).sum(axis=1)
        / (np.sqrt((cmat * cmat).sum(axis=1)) * np.sqrt((q * q).sum()))
    )
    # top-N_PROBE cells by (cosine desc, cell asc); cell ids are row
    # indices, so a stable argsort on -qc gives the tie-break free.
    probe = set(np.argsort(-qc, kind="stable")[:N_PROBE].tolist())

    out_schema = (
        "vec_id bigint, label int, cell bigint, cosine_sim double"
    )

    def assign_and_score(batches):
        for pdf in batches:
            if len(pdf) == 0:  # some Arrow paths emit empty batches
                continue
            mat = np.stack(pdf["embedding"].values).astype(np.float64)
            # assignment: the nearest cell, matching the oracle's
            # ORDER BY c DESC, cell. Matmul is fine here: only the
            # ordering matters, not exact hash-gated values.
            cell = nearest_cells(_cos_block(mat, cmat), 1)[:, 0]
            keep = np.isin(cell, list(probe))
            if not keep.any():
                continue
            # final hash-gated score: element-wise + np.sum (see qc note)
            norms = np.sqrt((mat * mat).sum(axis=1))
            sim = round6_away(
                (mat * q).sum(axis=1) / (norms * np.sqrt((q * q).sum()))
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values[keep],
                    "label": pdf["label"].values[keep],
                    "cell": cell[keep],
                    "cosine_sim": sim[keep],
                }
            )

    return (
        emb.filter(F.col("vec_id") >= 1)
        .select("vec_id", "label", "embedding")
        .mapInPandas(assign_and_score, out_schema)
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(IVF_TOPK)
    )



@register("q85_kmeans_clusters", oracle=_kmeans_oracle())
def q85_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering of the embeddings table ({KM_K} clusters,
    {KM_ITERS} Lloyd's iterations) — the corpus-organization operator
    (topic bucketing, diversity sampling, IVF codebook training: q63
    consumes exactly this output as its codebook at scale). See
    :func:`kmeans_clusters` for the scale design."""
    emb = load_vectors(spark, sf_dir)
    return kmeans_clusters(emb, KM_K, KM_ITERS)


# ------------------------------------------------------------- q123
#: Within-cluster cosine threshold for semantic dedup. On real
#: embeddings this sits near 0.95+; the synthetic testdata vectors are
#: near-orthogonal (max pairwise cosine 0.51), so the test constant is
#: scaled down to exercise the same decision logic.
SEM_TAU = 0.35


def _semdedup_oracle() -> str:
    """q123's DuckDB replay: the q85 assignment trajectory (shared CTE
    block, so the two oracles cannot drift) + q55's pairwise-cosine
    spelling restricted to same-cluster pairs."""
    return f"""
    WITH {_kmeans_cte()},
    vc AS (
      SELECT a.vec_id, a.cluster, e.v
      FROM assign a JOIN e USING (vec_id)
    ),
    pairs AS (
      SELECT p.id_b AS vec_id,
             round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
               AS cs
      FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               unnest(a.v) AS x, unnest(b.v) AS y
        FROM vc a JOIN vc b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      ) p
      GROUP BY p.id_a, p.id_b
    ),
    removed AS (
      SELECT vec_id, max(cs) AS max_sim
      FROM pairs WHERE cs >= {SEM_TAU}
      GROUP BY vec_id
    )
    SELECT a.vec_id, a.cluster,
           coalesce(r.max_sim, -1.0) AS max_sim_to_keeper,
           r.vec_id IS NOT NULL AS sem_removed
    FROM assign a LEFT JOIN removed r USING (vec_id)
    """


def _eid_col(emb: Column) -> Column:
    """Deterministic embedding-class key: md5 over the comma-joined
    float renderings (CAST(float AS STRING) is deterministic in Spark;
    identical arrays ⇒ identical key, distinct arrays ⇒ distinct key up
    to md5 collision — the same trust q50 places in content md5).
    NULL embedding ⇒ NULL key.  Shared by q151's joint-class collapse
    (dedup.py) and q123's collapsed pairwise stage below."""
    return F.when(
        emb.isNotNull(),
        F.md5(F.concat_ws(",", F.transform(emb, lambda x: x.cast("string")))),
    )


#: Embedding-class duplicate fraction above which q123 switches its
#: pairwise stage from the raw within-cluster self-join to the
#: collapsed (distinct-vector) form — the q151/CC hybrid pattern.
#: Below it, distinct classes ≈ vectors and the collapse groupBy is
#: pure overhead; above it, within-cluster pair volume grows with the
#: square of copy counts (every copy of a vector lands in the SAME
#: cluster, so a 20-copy corpus pays 400× the pairs: 67s vs ~4s at the
#: 20× stress corpus). Both branches are row-identical (dual-path test
#: in tests/test_kmeans.py) — the bound is pure plan selection.
SEM_COLLAPSE_DUP_FRAC = 0.05


def semantic_dedup(
    emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS,
    tau: float = SEM_TAU,
) -> DataFrame:
    """Cluster-bounded semantic dedup over a (vec_id, label, embedding)
    DataFrame — see :func:`q123_semantic_dedup` for semantics and the
    scale argument. Exposed separately so planted-fixture tests can
    drive it on synthetic cluster shapes (tests/test_kmeans.py).

    Hybrid dispatcher: one cheap aggregate measures the embedding-class
    duplicate fraction, then the pairwise stage runs raw
    (duplicate-sparse) or collapsed to distinct vectors
    (duplicate-dense) — see :data:`SEM_COLLAPSE_DUP_FRAC`. Clustering
    itself always runs on the FULL table so the Lloyd trajectory (and
    therefore every cluster label) is bit-identical between branches."""
    n, classes, n_zero = emb.select(
        F.count("*"),
        # approx is plenty for a plan-choice threshold (both branches
        # are row-identical); sentinel-coalesced so NULL embeddings
        # still count as a class
        F.approx_count_distinct(
            F.coalesce(_eid_col(F.col("embedding")), F.lit("~e~"))
        ),
        # zero-norm embeddings make the cosine kernel emit NaN, and
        # Spark's NaN-greatest comparison semantics leak that NaN into
        # max_sim in ways the collapsed branch's copy shortcut cannot
        # replay — such corpora (never seen in practice; embeddings are
        # unit-ish by construction) take the raw branch
        F.sum(
            F.when(
                F.col("embedding").isNotNull()
                & ~F.exists("embedding", lambda x: x != 0),
                1,
            ).otherwise(0)
        ),
    ).first()
    dup_frac = 1.0 - (classes / n) if n else 0.0
    # tau > 1.0 breaks the collapsed branch's copy shortcut (it stamps
    # every non-rep copy sem_removed with cos exactly 1.0, which only
    # replays the raw rule when 1.0 >= tau) — branch choice must never
    # change output, so such a tau always takes the raw branch
    if dup_frac < SEM_COLLAPSE_DUP_FRAC or (n_zero or 0) > 0 or tau > 1.0:
        return _semantic_dedup_raw(emb, k, iters, tau)
    return _semantic_dedup_collapsed(emb, k, iters, tau)


def _semantic_dedup_raw(
    emb: DataFrame, k: int, iters: int, tau: float
) -> DataFrame:
    """The literal (oracle-shaped) pairwise stage: within-cluster
    self-join over every vector."""
    labeled = kmeans_clusters(emb, k, iters).select("vec_id", "cluster")
    vecs = emb.select("vec_id", "embedding").join(labeled, "vec_id")
    return _sem_verdicts(labeled, vecs, tau)


def _sem_verdicts(
    keys: DataFrame, vecs: DataFrame, tau: float
) -> DataFrame:
    """The within-cluster removal join both q123 branches run: every
    (vec_id, cluster, embedding) row of ``vecs`` is compared with the
    lower ids of its cluster, and each ``keys`` row (vec_id, cluster)
    gets its max cosine ≥ ``tau`` to them (-1.0 and not removed when
    none reaches ``tau``)."""
    a, b = vecs.alias("a"), vecs.alias("b")
    sim = F.round(
        cosine_pairs_udf()(F.col("a.embedding"), F.col("b.embedding")), 6
    )
    removed = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("b.vec_id").alias("vec_id"), sim.alias("cs"))
        .filter(F.col("cs") >= tau)
        .groupBy("vec_id")
        .agg(F.max("cs").alias("max_sim"))
    )
    return keys.join(removed, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.coalesce("max_sim", F.lit(-1.0)).alias("max_sim_to_keeper"),
        F.col("max_sim").isNotNull().alias("sem_removed"),
    )


def _semantic_dedup_collapsed(
    emb: DataFrame, k: int, iters: int, tau: float
) -> DataFrame:
    """Collapse-first pairwise stage — row-identical to the raw form.

    Every output column is determined by the vector VALUE and the set
    of lower ids carrying each value: identical embeddings always land
    in the same cluster (the assignment kernel is deterministic), so
    for a non-rep copy c of vector v the rep (min id of v's class, a
    lower id in c's cluster) has cosine exactly 1.0 after the shared
    round-to-6 — c is removed with ``max_sim_to_keeper`` 1.0 no matter
    what else its cluster holds (τ ≤ 1). For a rep r, "some lower id
    in the cluster" ⇔ "some OTHER class whose min id < r" (any copy of
    class u below r implies min_id(u) < r, and cos(r, copy-of-u) =
    cos(r, u)), so the raw rule evaluates exactly on the rep
    self-join. Candidate volume collapses from Σ|cluster|² to
    Σ|distinct-per-cluster|² — 67s → ~4s at the 20× stress corpus,
    where the raw form pays 400× the pairs."""
    labeled = kmeans_clusters(emb, k, iters).select("vec_id", "cluster")
    vecs = emb.select(
        "vec_id", "embedding", _eid_col(F.col("embedding")).alias("eid")
    ).join(labeled, "vec_id")
    grp = vecs.groupBy("cluster", "eid").agg(
        F.min("vec_id").alias("rep_id"),
        F.first("embedding").alias("embedding"),
    )
    reps = grp.select(
        "cluster", F.col("rep_id").alias("vec_id"), "embedding"
    )
    rep_rows = _sem_verdicts(reps.select("vec_id", "cluster"), reps, tau)
    copy_rows = (
        vecs.join(
            grp.select("cluster", "eid", "rep_id"), ["cluster", "eid"]
        )
        .filter(F.col("vec_id") != F.col("rep_id"))
        .select(
            "vec_id",
            "cluster",
            F.lit(1.0).alias("max_sim_to_keeper"),
            F.lit(True).alias("sem_removed"),
        )
    )
    return rep_rows.unionByName(copy_rows)


@register("q123_semantic_dedup", oracle=_semdedup_oracle())
def q123_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication with the pairwise stage BOUNDED by k-means clusters —
    cluster the embeddings (q85's deterministic Lloyd's trajectory),
    compare only within-cluster pairs, and drop every vector whose
    cosine to ANY lower-id vector in its cluster reaches {SEM_TAU}.
    NOTE the deliberate divergence from true greedy keep-first: the
    rule is lower-id-wins against ALL lower ids, not against surviving
    keepers only — a vector similar only to an already-removed vector
    is still removed (so ``max_sim_to_keeper`` is really max-sim to any
    lower id). This one-pass relaxation is a common SemDeDup
    simplification (it removes a superset of true-greedy's removals,
    chain case pinned by tests/test_kmeans.py::test_semdedup_chain_\
    removes_against_removed) and is what keeps the stage join-shaped
    instead of sequentially dependent.
    Completes the dedup funnel's semantic tier above q55's LSH near-dup:
    q55 catches near-identical vectors, this catches *semantically
    redundant* ones at a much looser threshold, where LSH banding no
    longer concentrates candidates.

    Scale shape: clustering is q85's per-iteration single pass; the
    pairwise join shuffles on ``cluster`` only, so candidate volume is
    Σ|cluster|² — bounded by choosing k ∝ corpus size (SemDeDup's own
    prescription; the paper runs k=11k on LAION-440M, ~40k vectors per
    cluster) instead of the corpus-quadratic all-pairs. Skewed (huge)
    clusters are the known failure mode; AQE skew-join handles moderate
    skew and the k choice handles the rest. Exact-duplicate density is
    the OTHER failure mode (every copy of a vector lands in the same
    cluster, so copies square the pair volume): above
    {SEM_COLLAPSE_DUP_FRAC} class-duplicate fraction the pairwise stage
    collapses to distinct vectors and fans the per-copy verdict back
    out (67s → 4.4s at the 20× stress corpus; row-identical dual-path
    test). Output is one row per vector with the admission decision —
    the shape the packing/mixture stages consume."""
    return semantic_dedup(load_vectors(spark, sf_dir))


# ---------------------------------------------------------------- q126
#: Margin-mining kNN depth (Artetxe & Schwenk use k=4).
MINE_K = 4
#: The bounded "incoming" side: vec_id % 10 == 1 (~10% of the table) —
#: the stand-in for the smaller corpus of a bitext-mining run (the side
#: a production job can afford to broadcast; the big side streams).
MINE_MOD, MINE_REM = 10, 1
#: Hard ceiling on the exact twin's Y-side driver collect: unlike
#: every other bounded collect in the tree
#: (k / partitions / eval-set sized), q126's Y slice scales WITH the
#: corpus, so past this bound the exact twin must fail loudly and point
#: at q138's ANN form instead of silently OOMing the driver. 200k
#: vectors ≈ 100 MB at d=64 float64 — comfortably broadcastable, far
#: above every audit corpus this twin is for.
MINE_Y_BOUND = 200_000
#: Output of both margin miners, and the per-block top-k partials
#: (:func:`_topk_partials`) they reduce.
_MINE_SCHEMA = "x_id bigint, y_id bigint, cosine_sim double, margin double"
_PARTIALS_SCHEMA = "side string, x_id bigint, y_id bigint, rcos double"

#: One live cached stage per mining function (setu_spark.caching): the
#: candidate stage (mapInPandas / cogroup BLAS) feeds three plan
#: branches (cand, ax, ay) and MUST be cached or it recomputes per
#: branch — but a bare .cache() is never unpersisted, so repeated
#: calls outside bench.py's per-query clearCache() leak executor
#: storage across invocations. Each call evicts the
#: SAME function's previous cache; different functions keep theirs so
#: composed plans (q140 runs exact + ann together) stay cached until
#: materialized.
from setu_spark.caching import scoped_cache as _scoped_cache  # noqa: E402

#: Margin + mutual-best selection over a ``pr(x_id, y_id, rcos)`` CTE —
#: shared verbatim between q126 (pr = full |X|·|Y| cross product) and
#: q138 (pr = IVF-bounded candidates) so the two contracts cannot
#: drift: the ONLY difference between the exact and ANN pipelines is
#: how ``pr`` is generated.
_MARGIN_TAIL_SQL = f"""
    cand AS (
      SELECT x_id, y_id, rcos FROM (
        SELECT *, row_number() OVER (PARTITION BY x_id
                    ORDER BY rcos DESC, y_id) AS rx
        FROM pr) WHERE rx <= {MINE_K}
    ),
    ax AS (
      SELECT x_id, CAST(sum(CAST(rcos AS DECIMAL(18,6))) AS DOUBLE)
                     / {MINE_K} AS axv
      FROM cand GROUP BY x_id
    ),
    ay AS (
      SELECT y_id, CAST(sum(CAST(rcos AS DECIMAL(18,6))) AS DOUBLE)
                     / {MINE_K} AS ayv
      FROM (SELECT *, row_number() OVER (PARTITION BY y_id
                        ORDER BY rcos DESC, x_id) AS ry
            FROM pr) WHERE ry <= {MINE_K}
      GROUP BY y_id
    ),
    m AS (
      SELECT c.x_id, c.y_id, c.rcos AS cosine_sim,
             round(c.rcos / ((ax.axv + ay.ayv) / 2), 6) AS margin
      FROM cand c JOIN ax USING (x_id) JOIN ay USING (y_id)
    ),
    rk AS (
      SELECT *,
             row_number() OVER (PARTITION BY x_id
               ORDER BY margin DESC, y_id) AS bx,
             row_number() OVER (PARTITION BY y_id
               ORDER BY margin DESC, x_id) AS byy
      FROM m
    )
    SELECT x_id, y_id, cosine_sim, margin
    FROM rk WHERE bx = 1 AND byy = 1
    """

_Q126_ORACLE = f"""
    WITH x AS (
      SELECT vec_id AS x_id, embedding AS xe FROM embeddings
      WHERE vec_id % {MINE_MOD} <> {MINE_REM}
    ),
    y AS (
      SELECT vec_id AS y_id, embedding AS ye FROM embeddings
      WHERE vec_id % {MINE_MOD} = {MINE_REM}
    ),
    pr AS (
      SELECT x_id, y_id,
             round(sum(xv * yv)
                   / (sqrt(sum(xv * xv)) * sqrt(sum(yv * yv))), 6) AS rcos
      FROM (SELECT x_id, y_id,
                   CAST(unnest(xe) AS DOUBLE) AS xv,
                   CAST(unnest(ye) AS DOUBLE) AS yv
            FROM x CROSS JOIN y)
      GROUP BY x_id, y_id
    ),
    {_MARGIN_TAIL_SQL}"""


def margin_pairs_exact(emb: DataFrame) -> DataFrame:
    """Margin-based mutual-nearest-neighbor pair mining (Artetxe &
    Schwenk 2019, "Margin-based Parallel Corpus Mining with Multilingual
    Sentence Embeddings" — the LASER/CCMatrix bitext-mining score):
    between a big corpus side X and a bounded incoming side Y, score
    every candidate pair by ratio margin
    ``cos(x,y) / ((avg kNN_Y(x) + avg kNN_X(y)) / 2)`` — raw cosine
    normalized by both endpoints' neighborhood density, which kills the
    hub vectors that plain cosine thresholds mis-mine — and keep the
    pairs that are each other's best match. The reference has no
    embedding operators at all; this is the standard corpus-alignment
    step (bitext mining, cross-corpus doc linking) a multilingual
    pretraining pipeline runs between embedding and sampling.

    This is the EXACT twin: it assumes the incoming side Y is small
    enough to collect and broadcast (true for a bitext-mining delta
    batch; NOT true as registered here, where Y is a fixed 10% slice
    that grows with the corpus — so the collect is gated by a hard
    ``MINE_Y_BOUND`` row-count guard that fails loudly past 200k
    vectors instead of scaling a driver collect with the corpus). The
    corpus-scale path is q138, which generates candidates through the
    IVF cells and never collects Y; q140 audits q138's recall against
    this query's exact pairs.

    Scale shape: Y is the bounded side — its matrix rides in the
    ``mapInPandas`` closure (broadcast-variable form, q63's codebook
    shape) and X streams through in Arrow batches, ONE narrow pass, no
    pair shuffle and no corpus-sized collect: each X batch emits only
    its per-x top-{MINE_K} candidates plus batch-local per-y
    top-{MINE_K} partials (exact global per-y kNN after the reduce —
    max-of-maxes, O(batches·|Y|·k) rows total). Downstream joins are
    all on the ≤|X|·k candidate rows with |Y|-row broadcasts. kNN
    averages sum DECIMAL(18,6)-quantized round-6 cosines, so both
    engines average identical exact decimals; the hash-gated scores are
    BLAS-matmul cosines rounded to 6 digits (q85's label-pass stance —
    matmul-vs-sequential ULP divergence is absorbed by round-6, pinned
    hash-green across rounds), and every selection is tie-exact on
    (round-6 value, id): round-6 cosines scale to exact integers, so a
    composite ``cos·2^20 − id_rank`` int64 key makes the vectorized
    argpartition reproduce lexicographic order with no per-row sorts
    (the first kernel's per-column lexsorts + b×m×d elementwise temp
    were 12× slower at 20×). Exposed as a DataFrame-taking helper so
    the planted-fixture recall test can drive it next to
    :func:`margin_pairs_ann` (tests/test_kmeans.py)."""
    import numpy as np

    y_side = emb.filter(F.col("vec_id") % MINE_MOD == MINE_REM).select(
        "vec_id", "embedding"
    )
    # guard BEFORE the collect (count prunes to the vec_id column): the
    # Y slice scales with the corpus, and a silent corpus-fraction
    # collect is the one failure mode this exact twin must not have
    n_y = y_side.count()
    if n_y == 0:  # no incoming side — no pairs (oracle: empty y CTE)
        return emb.sparkSession.createDataFrame([], _MINE_SCHEMA)
    if n_y > MINE_Y_BOUND:
        raise ValueError(
            f"margin_pairs_exact: Y side has {n_y} vectors, past the "
            f"driver-collect bound {MINE_Y_BOUND}. This exact twin is "
            "for bounded delta batches and recall audits only — run "
            "margin_pairs_ann (q138_margin_pair_mining_ann) for "
            "corpus-scale mining; q140 audits its recall."
        )
    y_rows = sorted(y_side.collect())
    y_ids = np.array([r[0] for r in y_rows], dtype=np.int64)
    ym = np.array([r[1] for r in y_rows], dtype=np.float64)  # [m × d]
    k = MINE_K
    # chunk each Arrow batch so the b×m cosine block stays bounded
    # regardless of Arrow batch size
    CHUNK = max(1, (1 << 22) // max(1, len(y_ids)))

    def mine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            allm = np.stack(pdf["embedding"].values).astype(np.float64)
            allx = pdf["vec_id"].values.astype(np.int64)
            for lo in range(0, len(allx), CHUNK):
                # per-y rows are batch-local partials: exact global
                # top-k per y after the window reduce below
                yield _topk_partials(
                    _cos_block(allm[lo : lo + CHUNK], ym),
                    allx[lo : lo + CHUNK],
                    y_ids,
                    k,
                )

    rows = _scoped_cache(
        "exact",
        emb.filter(F.col("vec_id") % MINE_MOD != MINE_REM)
        .select("vec_id", "embedding")
        .mapInPandas(mine, _PARTIALS_SCHEMA),
    )
    wy = Window.partitionBy("y_id").orderBy(F.desc("rcos"), F.asc("x_id"))
    return _margin_select(
        rows.filter(F.col("side") == "x").drop("side"),
        rows.filter(F.col("side") == "y")
        .withColumn("ry", F.row_number().over(wy))
        .filter(F.col("ry") <= k),
        k,
    )


def _topk_partials(rcos, xids, yids, k: int) -> pd.DataFrame:
    """Tie-exact top-k partials of a round-6 cosine block ``rcos``
    [|x| × |y|]: each x row's top-k y (ties by y_id asc) as ``side='x'``
    rows and each y column's top-k x (ties by x_id asc) as ``side='y'``
    rows of one (side, x_id, y_id, rcos) frame. Both selections are one
    vectorized argpartition on the composite ``cos·1e6·2^20 − id_rank``
    int64 key (see :data:`_KEY_SHIFT`), with no per-row sorts."""
    import numpy as np

    n, m = rcos.shape
    assert max(n, m) < _KEY_SHIFT

    def rank(ids):  # 0-based rank of each id among ``ids`` ascending
        r = np.empty(len(ids), dtype=np.int64)
        r[np.argsort(ids, kind="stable")] = np.arange(len(ids))
        return r

    ri = np.rint(rcos * 1e6).astype(np.int64) * _KEY_SHIFT
    kx, ky = min(k, m), min(k, n)
    ci = np.argpartition(-(ri - rank(yids)[None, :]), kx - 1, axis=1)[:, :kx]
    rows_ix = np.repeat(np.arange(n), kx)
    cols_ix = ci.ravel()
    rj = np.argpartition(-(ri - rank(xids)[:, None]), ky - 1, axis=0)[:ky, :]
    yrows_ix = rj.ravel()
    ycols_ix = np.tile(np.arange(m), ky)
    return pd.DataFrame(
        {
            "side": ["x"] * len(rows_ix) + ["y"] * len(yrows_ix),
            "x_id": np.concatenate([xids[rows_ix], xids[yrows_ix]]),
            "y_id": np.concatenate([yids[cols_ix], yids[ycols_ix]]),
            "rcos": np.concatenate(
                [rcos[rows_ix, cols_ix], rcos[yrows_ix, ycols_ix]]
            ),
        }
    )


def _margin_select(cand: DataFrame, ysel: DataFrame, k: int) -> DataFrame:
    """The margin score + mutual-best tail shared by q126 and q138 (the
    Spark side of :data:`_MARGIN_TAIL_SQL`): ``cand`` holds each x's
    top-k (x_id, y_id, rcos) candidates and ``ysel`` each y's top-k
    rows; the kNN averages sum DECIMAL(18,6)-quantized round-6 cosines,
    and a pair survives when it is the best margin of both its x and
    its y."""
    ax = (
        F.sum(F.col("rcos").cast("decimal(18,6)"))
        .over(Window.partitionBy("x_id"))
        .cast("double")
        / k
    )
    ay = ysel.groupBy("y_id").agg(
        (F.sum(F.col("rcos").cast("decimal(18,6)")).cast("double") / k).alias(
            "ayv"
        )
    )
    scored = (
        cand.withColumn("axv", ax)
        .join(ay, "y_id")  # no broadcast hint: ay is one row per Y
        # vector and grows linearly with the corpus — AQE picks the
        # strategy (broadcast locally, shuffle at scale)
        .select(
            "x_id",
            "y_id",
            F.col("rcos").alias("cosine_sim"),
            # try_divide: a zero denominator is NULL, as DuckDB's "/"
            # in _MARGIN_TAIL_SQL, not an ANSI DIVIDE_BY_ZERO
            F.round(
                F.try_divide(
                    F.col("rcos"), (F.col("axv") + F.col("ayv")) / 2
                ),
                6,
            ).alias("margin"),
        )
    )
    bx = Window.partitionBy("x_id").orderBy(F.desc("margin"), F.asc("y_id"))
    byy = Window.partitionBy("y_id").orderBy(F.desc("margin"), F.asc("x_id"))
    return (
        scored.withColumn("bx", F.row_number().over(bx))
        .withColumn("byy", F.row_number().over(byy))
        .filter((F.col("bx") == 1) & (F.col("byy") == 1))
        .drop("bx", "byy")
    )


@register("q126_margin_pair_mining", oracle=_Q126_ORACLE)
def q126_margin_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact margin pair mining over the embeddings table — see
    :func:`margin_pairs_exact` for semantics, exactness discipline and
    the scale stance (the exact twin of q138's ANN form)."""
    return margin_pairs_exact(load_vectors(spark, sf_dir))


# ---------------------------------------------------------------- q131
@register(
    "q131_ann_recall_audit",
    oracle=f"""
    WITH {_codebook_cte(N_CENTROIDS)},
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT vec_id, {_COS_SQL} AS cosine_sim
      FROM (
        SELECT v.vec_id,
               CAST(unnest(v.embedding) AS DOUBLE) AS x,
               CAST(unnest(q.qe) AS DOUBLE) AS y
        FROM embeddings v CROSS JOIN q WHERE v.vec_id > 0
      ) GROUP BY vec_id
    ),
    exact AS (
      SELECT vec_id FROM sims
      ORDER BY cosine_sim DESC, vec_id LIMIT {IVF_TOPK}
    ),
    qc AS (
      SELECT cell, {_COS_SQL} AS c
      FROM (
        SELECT c.cell, unnest(c.cvec) AS x, unnest(q.qe) AS y
        FROM cent c CROSS JOIN q
      ) GROUP BY cell
    ),
    probe AS (SELECT cell FROM qc ORDER BY c DESC, cell LIMIT {N_PROBE}),
    approx AS (
      -- the k-means trajectory's assignment CTE replaces the old
      -- first-N cell scoring: q63 now probes the TRAINED codebook
      SELECT a.vec_id
      FROM assign a
      JOIN probe p ON a.cluster = p.cell
      JOIN sims s ON s.vec_id = a.vec_id
      WHERE a.vec_id >= 1
      ORDER BY s.cosine_sim DESC, a.vec_id
      LIMIT {IVF_TOPK}
    )
    SELECT CAST({IVF_TOPK} AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_found,
           round(count(*) / {IVF_TOPK}.0, 6) AS recall_at_k
    FROM exact JOIN approx USING (vec_id)
    """,
)
def q131_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF ANN path (q63) against brute-force ground
    truth (q60) — the self-evaluation query an ANN index ships with
    ("measure, don't guess": nprobe/cell-count tuning is a recall
    curve, not a feeling). Composes the two registered pipelines
    verbatim and reports |approx ∩ exact| / k.

    Scale shape: both sides are the already-analyzed q60/q63 plans
    (narrow scans, driver-bounded codebook); the audit adds one
    left-semi join over two k-row results and a one-row aggregate —
    free. At production scale the exact side runs on a SAMPLE of
    queries (ground truth is O(corpus) per query by definition), which
    is exactly how recall audits are run on real indexes."""
    assert IVF_TOPK == BRUTE_TOPK, (
        "q131 compares q60's exact top-k against q63's IVF top-k: the "
        "depths must match or recall@k is computed over unequal sets"
    )
    exact = q60_cosine_topk(spark, sf_dir).select("vec_id")
    approx = q63_ann_ivf_topk(spark, sf_dir).select("vec_id")
    return (
        exact.join(approx, "vec_id", "left_semi")
        .agg(F.count("*").alias("n_found"))
        .select(
            F.lit(IVF_TOPK).cast("long").alias("k"),
            F.col("n_found").cast("long"),
            F.round(F.col("n_found") / float(IVF_TOPK), 6).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------- q138
#: How many IVF cells each X-side vector probes for margin-mining
#: candidates (per-query fan-out of the inverted-file search; the Y
#: side is assigned to exactly one cell).
MINE_PROBE = 2

#: IVF codebook size for margin mining — the DuckDB twin of
#: :func:`ivf_cells`.
_MINE_CELLS_SQL = (
    # count(embedding) skips NULL-embedding rows — load_vectors parity
    "(SELECT CAST(ceil(sqrt(count(embedding))) AS BIGINT) FROM embeddings)"
)

_Q138_ORACLE = f"""
    WITH {_codebook_cte(_MINE_CELLS_SQL)},
    xs AS (
      SELECT vec_id AS x_id, embedding AS xe FROM embeddings
      WHERE vec_id % {MINE_MOD} <> {MINE_REM}
    ),
    ys AS (
      SELECT vec_id AS y_id, embedding AS ye FROM embeddings
      WHERE vec_id % {MINE_MOD} = {MINE_REM}
    ),
    xcell AS (
      SELECT x_id, cell, {_COS_SQL} AS c
      FROM (
        SELECT v.x_id, c.cell,
               unnest(v.xe) AS x, unnest(c.cvec) AS y
        FROM xs v CROSS JOIN cent c
      ) GROUP BY x_id, cell
    ),
    xprobe AS (
      SELECT x_id, cell FROM (
        SELECT x_id, cell,
               row_number() OVER (PARTITION BY x_id
                                  ORDER BY c DESC, cell) AS rn
        FROM xcell) WHERE rn <= {MINE_PROBE}
    ),
    ycell AS (
      SELECT y_id, cell, {_COS_SQL} AS c
      FROM (
        SELECT v.y_id, c.cell,
               unnest(v.ye) AS x, unnest(c.cvec) AS y
        FROM ys v CROSS JOIN cent c
      ) GROUP BY y_id, cell
    ),
    yassign AS (
      SELECT y_id, cell FROM (
        SELECT y_id, cell,
               row_number() OVER (PARTITION BY y_id
                                  ORDER BY c DESC, cell) AS rn
        FROM ycell) WHERE rn = 1
    ),
    pr AS (
      SELECT x_id, y_id,
             round(sum(xv * yv)
                   / (sqrt(sum(xv * xv)) * sqrt(sum(yv * yv))), 6) AS rcos
      FROM (
        SELECT p.x_id, a.y_id,
               CAST(unnest(xv.xe) AS DOUBLE) AS xv,
               CAST(unnest(yv.ye) AS DOUBLE) AS yv
        FROM xprobe p
        JOIN yassign a ON p.cell = a.cell
        JOIN xs xv ON xv.x_id = p.x_id
        JOIN ys yv ON yv.y_id = a.y_id
      )
      GROUP BY x_id, y_id
    ),
    {_MARGIN_TAIL_SQL}"""


def margin_pairs_ann(emb: DataFrame, codebook=None) -> DataFrame:
    """ANN-bounded margin pair mining — q126's contract with candidate
    generation routed through IVF cells instead of the exact |X|*|Y|
    kernel. The codebook is :func:`train_codebook` at its ⌈√n⌉ default
    (``codebook`` overrides it for A/B tests: tests/test_kmeans.py pins
    trained ≥ first-k pseudo-codebook recall on a clustered fixture);
    each X vector probes its {MINE_PROBE} nearest cells, each Y vector
    is assigned its single nearest cell, candidates are the (x, y)
    pairs meeting in a probed cell, and the margin score + mutual-best
    selection (Artetxe & Schwenk 2019 ratio margin; the kNN averages
    are candidate-bounded — the standard ANN approximation, exactly
    how CCMatrix runs this score through FAISS) run over candidates
    only. q140 audits this approximation's recall against q126's
    exact mutual-best pairs.

    Scale shape — the answer to q126's two scale problems:

      * **no driver-side Y collect** — only the sqrt(n)-row codebook is
        collected (the IVF codebook is driver-sized by definition;
        q63's broadcast-variable stance), and
      * **no quadratic kernel, no pair-sized shuffle** — assignment is
        one narrow Arrow pass per side (n x C BLAS block); the only
        shuffle is repartitioning the n (id, vector) rows by cell for
        the cogroup; each cell's |X_c|x|Y_c| cosine block is computed
        INSIDE `applyInPandas` and emits only per-x/per-y top-{MINE_K}
        rows, so both shuffle volume and output are LINEAR in n while
        compute is sum-per-cell ~ n^1.5 with sqrt(n) cells — the IVF
        contract. A y's cell is unique, so its cogroup partial IS its
        global candidate kNN; an x probes {MINE_PROBE} cells, so one
        window over its <= {MINE_PROBE}*{MINE_K} partial rows
        finishes the global top-k. Skewed mega-cells are bounded by
        the codebook sizing (and AQE handles residual imbalance).

    Exactness: cell choice and scores use round-6 cosines with
    composite-int64-key argpartition selection (q126's tie-exact
    kernel: key = cos*1e6*2^20 - id_rank reproduces lexicographic
    (cos DESC, id ASC) order with no per-row sorts); BLAS-vs-
    sequential fold divergence is absorbed by round-6 (q85/q126's
    pinned stance). Exposed as a DataFrame-taking helper so the
    planted-fixture recall test can drive it on clustered synthetic
    shapes next to :func:`margin_pairs_exact` (tests/test_kmeans.py)."""
    import numpy as np

    cmat = codebook if codebook is not None else train_codebook(emb)
    if cmat is None:  # empty corpus: no cells, no candidates (oracle: empty)
        return emb.sparkSession.createDataFrame([], _MINE_SCHEMA)
    k = MINE_K
    assign_schema = "vec_id bigint, cell bigint, embedding array<float>"

    def make_assigner(topn):
        def assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack(pdf["embedding"].values).astype(np.float64)
                sel = nearest_cells(_cos_block(mat, cmat), topn)
                rows = np.repeat(np.arange(len(mat)), sel.shape[1])
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].values[rows],
                        "cell": sel.ravel(),
                        "embedding": pdf["embedding"].values[rows],
                    }
                )

        return assign

    xs = (
        emb.filter(F.col("vec_id") % MINE_MOD != MINE_REM)
        .select("vec_id", "embedding")
        .mapInPandas(make_assigner(MINE_PROBE), assign_schema)
    )
    ys = (
        emb.filter(F.col("vec_id") % MINE_MOD == MINE_REM)
        .select("vec_id", "embedding")
        .mapInPandas(make_assigner(1), assign_schema)
    )

    def per_cell(xpdf, ypdf):
        if len(xpdf) == 0 or len(ypdf) == 0:
            return pd.DataFrame(
                {
                    "side": pd.Series([], dtype="object"),
                    "x_id": pd.Series([], dtype="int64"),
                    "y_id": pd.Series([], dtype="int64"),
                    "rcos": pd.Series([], dtype="float64"),
                }
            )
        xm = np.stack(xpdf["embedding"].values).astype(np.float64)
        ym = np.stack(ypdf["embedding"].values).astype(np.float64)
        # per-x top-k within the cell (global finish: one window over
        # the <= MINE_PROBE partials per x); the y side is single-cell,
        # so its per-y top-k IS global
        return _topk_partials(
            _cos_block(xm, ym),
            xpdf["vec_id"].values.astype(np.int64),
            ypdf["vec_id"].values.astype(np.int64),
            k,
        )

    rows = _scoped_cache(
        "ann",
        xs.groupBy("cell")
        .cogroup(ys.groupBy("cell"))
        .applyInPandas(per_cell, _PARTIALS_SCHEMA),
    )
    wx = Window.partitionBy("x_id").orderBy(F.desc("rcos"), F.asc("y_id"))
    cand = (
        rows.filter(F.col("side") == "x")
        .withColumn("rx", F.row_number().over(wx))
        .filter(F.col("rx") <= k)
        .drop("rx", "side")
    )
    return _margin_select(cand, rows.filter(F.col("side") == "y"), k)


@register("q138_margin_pair_mining_ann", oracle=_Q138_ORACLE)
def q138_margin_pair_mining_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN-bounded margin pair mining over the embeddings table — see
    :func:`margin_pairs_ann` for the IVF candidate routing, exactness
    discipline and the linear-shuffle scale argument (the corpus-scale
    twin of q126)."""
    return margin_pairs_ann(load_vectors(spark, sf_dir))


# ---------------------------------------------------------------- q140
_Q140_ORACLE = f"""
    WITH exact AS (
      SELECT x_id, y_id FROM ({_Q126_ORACLE})
    ),
    ann AS (
      SELECT x_id, y_id FROM ({_Q138_ORACLE})
    ),
    hit AS (
      SELECT CAST(count(*) AS BIGINT) AS n_found
      FROM exact JOIN ann USING (x_id, y_id)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
    cfg AS (SELECT CAST(ceil(sqrt(count(embedding))) AS BIGINT) AS n_cells
            FROM embeddings)
    SELECT n_exact, n_found,
           round(n_found / CAST(n_exact AS DOUBLE), 6) AS recall,
           n_found / CAST(n_exact AS DOUBLE)
             >= (0.5 * {MINE_PROBE * MINE_PROBE}) / n_cells AS recall_ok
    FROM tot CROSS JOIN hit CROSS JOIN cfg
    """


@register("q140_margin_ann_recall_audit", oracle=_Q140_ORACLE)
def q140_margin_ann_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall audit of the ANN-bounded margin miner (q138) against the
    exact miner's (q126) mutual-best pairs — q131's pattern applied to
    the pair-mining tier: |ann ∩ exact| / |exact| plus a hash-checked
    ``recall_ok`` boolean, so a silent fidelity regression in the IVF
    routing flips a verified value, not a vibe. Composes the two
    registered pipelines verbatim (same module constants, same margin
    tail) — the audit cannot drift from what it audits.

    The bound is SCALE-AWARE, not a constant: on the synthetic
    near-orthogonal embeddings (no cluster structure — IVF's
    pathological case) the expected capture rate of a best pair is the
    cell-collision probability ~ {MINE_PROBE}²/n_cells, which DECAYS
    as the sqrt(n) codebook grows, so any fixed bound would be wrong
    at some SF. ``recall_ok`` asserts recall >= half that baseline —
    "the routing is not broken" — in both engines from the same
    count-derived n_cells. Fidelity WHEN STRUCTURE EXISTS (the real-
    embedding case IVF is built for) is pinned separately by the
    clustered planted-fixture test (recall ~1.0,
    tests/test_kmeans.py::test_margin_ann_high_recall_on_clustered).

    Scale shape: both sides are the already-analyzed q126/q138 plans;
    the audit adds one broadcast-sized pair join and a one-row
    aggregate. At production scale the exact side runs on a SAMPLE of
    the incoming batch (ground truth is quadratic by definition) —
    same stance as q131."""
    emb_n = load_vectors(spark, sf_dir).count()
    if emb_n == 0:
        # empty corpus: zero exact pairs, zero found — recall is 0/0,
        # NULL in both engines (the oracle's round(0/0) row), and the
        # scale-aware bound has no n_cells to divide by
        return spark.createDataFrame(
            [(0, 0, None, None)],
            "n_exact bigint, n_found bigint, recall double,"
            " recall_ok boolean",
        )
    bound = (0.5 * MINE_PROBE * MINE_PROBE) / ivf_cells(emb_n)
    exact = q126_margin_pair_mining(spark, sf_dir).select("x_id", "y_id")
    ann = q138_margin_pair_mining_ann(spark, sf_dir).select(
        "x_id", "y_id"
    )
    hit = exact.join(ann, ["x_id", "y_id"], "left_semi").agg(
        F.count("*").alias("n_found")
    )
    tot = exact.agg(F.count("*").alias("n_exact"))
    # try_divide: a NON-empty corpus can still have ZERO exact mutual
    # pairs (single-vector corpus; Y slice with no mutual best) — 0/0
    # is NULL in DuckDB and a DIVIDE_BY_ZERO raise under Spark ANSI, so
    # recall and recall_ok go NULL in both engines (the emb_n guard
    # above only covers the fully-empty corpus)
    rec = F.try_divide(F.col("n_found"), F.col("n_exact").cast("double"))
    return tot.crossJoin(hit).select(
        F.col("n_exact").cast("long"),
        F.col("n_found").cast("long"),
        F.round(rec, 6).alias("recall"),
        (rec >= F.lit(bound)).alias("recall_ok"),
    )


# ---------------------------------------------------------------- q142
#: int8 quantization levels (asymmetric per-dimension min/max scale —
#: the faiss ScalarQuantizer / GGML-style Q8 layout).
QUANT_LEVELS = 255


@register(
    "q142_embedding_quant_audit",
    oracle=f"""
    WITH e AS (
      SELECT i AS dim, CAST(x AS DOUBLE) AS x
      FROM (SELECT unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    s AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM e GROUP BY dim),
    q AS (
      SELECT e.dim, s.lo, s.hi,
             CASE WHEN s.hi = s.lo THEN 0.0
                  ELSE abs(e.x - (s.lo
                       + round((e.x - s.lo) / ((s.hi - s.lo) / {QUANT_LEVELS}.0))
                         * ((s.hi - s.lo) / {QUANT_LEVELS}.0)))
             END AS err
      FROM e JOIN s USING (dim)
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           round(any_value(lo), 6) AS lo,
           round(any_value(hi), 6) AS hi,
           round(CAST(sum(CAST(err AS DECIMAL(27,18))) AS DOUBLE)
                 / count(*), 9) AS mean_abs_err,
           round(max(err), 9) AS max_abs_err
    FROM q GROUP BY dim
    """,
)
def q142_embedding_quant_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension int8 scalar-quantization audit — the "can I ship
    these embeddings as int8" readout an ANN index build runs before
    compressing a 100 TB vector corpus 4×: for each dimension, the
    min/max calibration range and the mean/max absolute reconstruction
    error of {QUANT_LEVELS}-level asymmetric quantization
    (q = round((x−lo)/scale), x̂ = lo + q·scale — the faiss
    ScalarQuantizer layout). Read next to q131/q140's recall audits:
    range, error, and recall are the three numbers a quantization
    decision needs. No reference counterpart (it has no embedding
    surface at all).

    Scale shape: posexplode → ONE shuffle on (dim) where the window
    min/max, the per-row reconstruction error, and the final per-dim
    aggregate all share the same partitioning (no second exchange —
    the groupBy reuses the window's hash partitioning). Per-row error
    math is codegen'd double arithmetic with the identical IEEE
    expression in both engines (lo/hi/scale are exact aggregates of
    float32-exact doubles; round-half-up to the level grid in both);
    the order-sensitive error SUM is routed through DECIMAL(27,18)
    (errors are ~1e-3 — 18 fractional digits keep the quantization
    grain far below the 9-digit report rounding)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode("embedding").alias("i0", "xf")
    ).select(
        (F.col("i0") + 1).cast("long").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    w = Window.partitionBy("dim")
    lo, hi = F.min("x").over(w), F.max("x").over(w)
    scale = (hi - lo) / F.lit(float(QUANT_LEVELS))
    err = F.when(hi == lo, F.lit(0.0)).otherwise(
        F.abs(
            F.col("x")
            - (lo + F.round((F.col("x") - lo) / scale, 0) * scale)
        )
    )
    return (
        e.select("dim", lo.alias("lo"), hi.alias("hi"), err.alias("err"))
        .groupBy("dim")
        .agg(
            F.round(F.first("lo"), 6).alias("lo"),
            F.round(F.first("hi"), 6).alias("hi"),
            F.round(
                F.sum(F.col("err").cast("decimal(27,18)")).cast("double")
                / F.count("*"),
                9,
            ).alias("mean_abs_err"),
            F.round(F.max("err"), 9).alias("max_abs_err"),
        )
    )


# ---------------------------------------------------------------- q143
_Q143_ORACLE = f"""
    WITH {_codebook_cte(_MINE_CELLS_SQL)},
    -- the k-means trajectory's own assignment CTE IS the nearest-cell
    -- rule (round-6 cosine, ties to the lowest cell) — no second
    -- scoring pass needed under the trained codebook
    occ AS (SELECT CAST(cluster AS BIGINT) AS cell,
                   CAST(count(*) AS BIGINT) AS n_vecs
            FROM assign GROUP BY cluster),
    tot AS (SELECT CAST(count(embedding) AS BIGINT) AS n,
                   CAST(ceil(sqrt(count(embedding))) AS BIGINT) AS n_cells
            FROM embeddings)
    SELECT cell, n_vecs,
           round(n_vecs / CAST(n AS DOUBLE), 6) AS share,
           round(n_vecs / (CAST(n AS DOUBLE) / n_cells), 6)
             AS load_factor
    FROM occ CROSS JOIN tot
    """


@register("q143_ivf_cell_balance", oracle=_Q143_ORACLE)
def q143_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy balance audit — the index-health table for
    the q138 ANN tier: assign EVERY vector to its nearest of the
    sqrt(n) codebook cells and report per-cell population, corpus
    share, and load factor (population / uniform expectation). A
    load_factor far above 1 is the mega-cell failure mode that turns
    IVF probes quadratic (the same pathology as q123's skewed
    k-means cluster) — this is the query that catches it BEFORE a
    production mining run, and the empirical check on q138's
    "per-cell populations stay bounded" claim. Same audit stance as
    q131/q133/q140: every approximate tier ships its own
    self-measurement.

    Scale shape: one narrow Arrow pass (n × C BLAS assignment through
    :func:`nearest_cells`, no embedding carried in the output) →
    one map-combined groupBy(cell) over C≈sqrt(n) groups → broadcast
    one-row totals. Nothing pair-sized anywhere. The corpus size n is a
    driver-side count because share and load_factor divide by it as a
    literal; the codebook is sized from it with :func:`ivf_cells`."""
    import numpy as np

    emb = load_vectors(spark, sf_dir)
    n = emb.count()
    if n == 0:  # empty corpus: no cells, no occupancy (oracle: empty)
        return spark.createDataFrame(
            [], "cell bigint, n_vecs bigint, share double,"
            " load_factor double"
        )
    n_cells = ivf_cells(n)
    # the SAME trained codebook q138 mines through — the audit must
    # measure the index that production uses, not a stand-in
    cmat = train_codebook(emb, n_cells)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].values).astype(np.float64)
            cs = _cos_block(mat, cmat)
            yield pd.DataFrame({"cell": nearest_cells(cs, 1)[:, 0]})

    occ = (
        emb.select("vec_id", "embedding")
        .mapInPandas(assign, "cell bigint")
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("n_vecs"))
    )
    uniform = float(n) / n_cells
    return occ.select(
        "cell",
        "n_vecs",
        F.round(F.col("n_vecs") / F.lit(float(n)), 6).alias("share"),
        F.round(F.col("n_vecs") / F.lit(uniform), 6).alias(
            "load_factor"
        ),
    )
