"""K-means (similarity.kmeans_clusters): planted-cluster recovery,
determinism, and the q85 registration contract."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from setu_spark.operators.similarity import KM_K, kmeans_clusters
from tests.conftest import SF_ORACLE


def _planted_df(spark, per_cluster=20, dim=8, jitter=0.05):
    """Three tight direction-clusters along distinct axes; vec_ids 0,1,2
    land one per cluster so the lowest-id init starts separated."""
    rows = []
    for g in range(3):
        for j in range(per_cluster):
            vec_id = j * 3 + g  # interleave: ids 0,1,2 hit all 3 groups
            base = [0.0] * dim
            base[g] = 1.0
            # deterministic small perturbation on a non-axis coordinate
            base[(g + 3) % dim] = jitter * ((vec_id % 5) - 2) / 2.0
            rows.append((vec_id, g, base))
    return spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )


def test_kmeans_recovers_planted_clusters(spark):
    out = kmeans_clusters(_planted_df(spark), k=3, iters=2).collect()
    assert len(out) == 60
    by_group: dict[int, set[int]] = {}
    for r in out:
        by_group.setdefault(r.label, set()).add(r.cluster)
    # each planted group maps to exactly one cluster, all distinct
    assert all(len(cs) == 1 for cs in by_group.values()), by_group
    assert len({cs.pop() for cs in by_group.values()}) == 3
    # members sit close to their centroid
    assert all(r.cosine_to_centroid > 0.9 for r in out)


def test_kmeans_deterministic(spark):
    df = _planted_df(spark)
    a = sorted((r.vec_id, r.cluster) for r in kmeans_clusters(df, 3, 2).collect())
    b = sorted((r.vec_id, r.cluster) for r in kmeans_clusters(df, 3, 2).collect())
    assert a == b


def test_q85_registered_with_oracle(spark):
    # upgraded from the rows-only carve-out: the fixed iteration count is
    # unrolled in the DuckDB oracle, so q85 is hash-checked like any other
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert "q85_kmeans_clusters" in qs
    assert "q85_kmeans_clusters" in oracles
    out = qs["q85_kmeans_clusters"](spark, SF_ORACLE)
    rows = out.collect()
    from setu_spark.sources.io import load_table

    assert len(rows) == load_table(spark, SF_ORACLE, "embeddings").count()
    assert {r.cluster for r in rows} <= set(range(KM_K))


@pytest.mark.parametrize("k", [1, 3])
def test_kmeans_k_edge(spark, k):
    out = kmeans_clusters(_planted_df(spark, per_cluster=4), k=k, iters=1)
    rows = out.collect()
    assert len(rows) == 12
    assert {r.cluster for r in rows} <= set(range(k))


def test_semantic_dedup_planted(spark):
    """q123 semantics on planted clusters: within each tight direction
    cluster every vector's cosine to the others is ~1 (>= tau), so the
    greedy keep-first rule must keep exactly the lowest vec_id per
    cluster — and cross-cluster near-orthogonal vectors must never be
    compared, so survivors are never removed by a vector in another
    cluster."""
    from setu_spark.operators.similarity import semantic_dedup

    out = semantic_dedup(
        _planted_df(spark), k=3, iters=2, tau=0.9
    ).collect()
    assert len(out) == 60
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    assert len(by_cluster) == 3
    for rows in by_cluster.values():
        survivors = [r.vec_id for r in rows if not r.sem_removed]
        # keep-first: the single survivor is the cluster's lowest id
        assert survivors == [min(r.vec_id for r in rows)]
        for r in rows:
            if r.sem_removed:
                assert r.max_sim_to_keeper >= 0.9
            else:
                assert r.max_sim_to_keeper == -1.0


def test_semdedup_chain_removes_against_removed(spark):
    """Pins q123's documented divergence from true greedy keep-first:
    the rule is lower-id-wins against ALL lower ids. Chain A(0)-B(1)-
    C(2) with cos(A,B)=cos(B,C)=0.9 >= tau and cos(A,C)=0.62 < tau:
    true greedy would KEEP C (its only >=tau neighbor B was already
    removed); the implemented one-pass rule removes BOTH B and C."""
    import math

    from setu_spark.operators.similarity import semantic_dedup

    s, c = math.sqrt(0.19), 0.9  # cos(theta)=0.9
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [c, s]),  # rotated by theta
        (2, 0, [2 * c * c - 1, 2 * c * s]),  # rotated by 2*theta
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(df, k=1, iters=1, tau=0.85).collect()
    }
    assert not out[0].sem_removed
    assert out[1].sem_removed and out[1].max_sim_to_keeper >= 0.85
    # C is removed via the REMOVED vector B — the divergence under test
    assert out[2].sem_removed
    assert 0.85 <= out[2].max_sim_to_keeper < 0.95  # sim to B, not A


def test_q123_registered_with_oracle(spark):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert "q123_semantic_dedup" in qs
    assert "q123_semantic_dedup" in os_


def test_margin_ann_high_recall_on_clustered(spark):
    """q138's IVF routing must achieve near-perfect recall of q126's
    exact mutual-best pairs WHEN CLUSTER STRUCTURE EXISTS — the real-
    embedding case IVF is built for (the registered q140 runs on the
    structureless synthetic table where capture ~ probes²/cells is the
    honest ceiling; this fixture is the other half of the contract).
    100 vectors in 5 tight direction-clusters; the codebook rows
    (vec_id 1..ceil(sqrt(100))=10) cover every direction twice, so
    each vector's probed cells are its own direction's centroids and
    every within-direction best pair meets in a probed cell."""
    from setu_spark.operators.similarity import (
        margin_pairs_ann,
        margin_pairs_exact,
    )

    dim = 8
    rows = []
    for vid in range(100):
        g = vid % 5
        base = [0.0] * dim
        base[g] = 1.0
        base[(g + 5) % dim] = 0.05 * ((vid % 7) - 3) / 3.0
        rows.append((vid, g, base))
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    exact = {
        (r.x_id, r.y_id) for r in margin_pairs_exact(df).collect()
    }
    ann = {(r.x_id, r.y_id) for r in margin_pairs_ann(df).collect()}
    assert exact, "fixture produced no exact mutual-best pairs"
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.9, (recall, sorted(exact - ann))


def _clustered_fixture():
    dim = 8
    rows = []
    for vid in range(100):
        g = vid % 5
        base = [0.0] * dim
        base[g] = 1.0
        base[(g + 5) % dim] = 0.05 * ((vid % 7) - 3) / 3.0
        rows.append((vid, g, base))
    return rows


def test_trained_codebook_beats_pseudo_on_clustered(spark):
    """Round-6 VERDICT task 4's 'measurably improve' contract: on the
    clustered fixture the q85-trained codebook must (a) flatten cell
    occupancy vs the first-N pseudo codebook — lower max load factor
    AND lower std — and (b) not lose any of the pseudo codebook's
    mutual-best recall.  Measured: max_lf 1.40 → 1.20, lf std 0.265 →
    0.126, recall 1.0 → 1.0."""
    import math

    import numpy as np

    from setu_spark.operators.similarity import (
        margin_pairs_ann,
        margin_pairs_exact,
        round6_away,
        train_codebook,
    )

    rows = _clustered_fixture()
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    k = int(math.ceil(math.sqrt(len(rows))))
    pseudo = np.array(
        [r[2] for r in sorted(rows)[1 : k + 1]], dtype=np.float64
    )
    trained = train_codebook(df, k)

    def load_factors(cmat):
        mat = np.array([r[2] for r in rows], dtype=np.float64)
        cs = round6_away(
            (mat @ cmat.T)
            / (
                np.sqrt((mat * mat).sum(1))[:, None]
                * np.sqrt((cmat * cmat).sum(1))[None, :]
            )
        )
        a = np.argmax(cs, axis=1)
        occ = np.bincount(a, minlength=len(cmat)).astype(float)
        return occ / (len(rows) / len(cmat))

    lf_p, lf_t = load_factors(pseudo), load_factors(trained)
    assert lf_t.max() < lf_p.max(), (lf_t.max(), lf_p.max())
    assert lf_t.std() < lf_p.std(), (lf_t.std(), lf_p.std())

    exact = {(r.x_id, r.y_id) for r in margin_pairs_exact(df).collect()}
    assert exact
    ann_p = {
        (r.x_id, r.y_id)
        for r in margin_pairs_ann(df, codebook=pseudo).collect()
    }
    ann_t = {(r.x_id, r.y_id) for r in margin_pairs_ann(df).collect()}
    recall_p = len(exact & ann_p) / len(exact)
    recall_t = len(exact & ann_t) / len(exact)
    assert recall_t >= recall_p >= 0.0
    assert recall_t >= 0.9


def test_codebook_retrain_is_deterministic(spark):
    """Two train_codebook calls on the same corpus produce identical
    centroids."""
    import numpy as np

    import setu_spark.operators.similarity as sim

    rows = _clustered_fixture()
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    a = sim.train_codebook(df, 5)
    b = sim.train_codebook(df, 5)
    assert np.array_equal(a, b), "retrain is deterministic"


def test_margin_pair_mining_planted_match(spark):
    """q126 on planted vectors: an exact clone across the X/Y split must
    be mined as a mutual-best pair, and the mutual-best filter yields at
    most one pair per endpoint."""
    import setu_spark.operators.similarity as sim

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    rows = [
        # y side: vec_id % 10 == 1
        (1, v, 0),
        (11, w, 1),
        # x side: 2 is a clone of y=1; the rest are off-axis noise
        (2, v, 0),
        (3, [0.6, 0.8, 0.0, 0.0], 1),
        (4, [0.0, 0.0, 1.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    orig = sim.load_table
    sim.load_table = lambda sp, d, n: emb
    try:
        out = sim.q126_margin_pair_mining(spark, "x").collect()
    finally:
        sim.load_table = orig
    pairs = {(r["x_id"], r["y_id"]): r for r in out}
    assert (2, 1) in pairs
    assert pairs[(2, 1)]["cosine_sim"] == 1.0
    xs = [r["x_id"] for r in out]
    ys = [r["y_id"] for r in out]
    assert len(xs) == len(set(xs)) and len(ys) == len(set(ys))


def test_margin_exact_twin_refuses_unbounded_y_collect(spark):
    """Round-9 VERDICT task 3: q126's exact twin collects the Y slice
    to the driver — the one collect in the tree that scales WITH the
    corpus. Past MINE_Y_BOUND it must fail loudly (pointing at q138's
    ANN form) BEFORE collecting, not OOM the driver mid-collect."""
    import pytest
    from pyspark.sql import functions as F

    import setu_spark.operators.similarity as sim

    big = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).cast("array<float>").alias(
            "embedding"
        ),
    )
    old = sim.MINE_Y_BOUND
    sim.MINE_Y_BOUND = 3  # 50 ids → 5 on the Y side (% 10 == 1)
    try:
        with pytest.raises(ValueError, match="q138_margin_pair_mining_ann"):
            sim.margin_pairs_exact(big)
    finally:
        sim.MINE_Y_BOUND = old


def test_q142_quant_audit_planted(spark):
    """int8 quantization audit on a planted 2-vector, 2-dim table:
    dim 1 spans [0, 255] exactly (scale 1.0 → every value on the grid,
    zero error); dim 2 is constant (degenerate range → zero error by
    the hi==lo guard, not NaN)."""
    import __spark_entry__ as e

    df = spark.createDataFrame(
        [(0, [0.0, 7.5], 0), (1, [255.0, 7.5], 0)],
        "vec_id bigint, embedding array<float>, label int",
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    qs = e.queries()
    out = {r.dim: r for r in qs["q142_embedding_quant_audit"](spark, d).collect()}
    assert out[1].lo == 0.0 and out[1].hi == 255.0
    assert out[1].mean_abs_err == 0.0 and out[1].max_abs_err == 0.0
    assert out[2].lo == 7.5 and out[2].hi == 7.5
    assert out[2].mean_abs_err == 0.0 and out[2].max_abs_err == 0.0


def test_q143_cell_balance_accounts_every_vector(spark):
    """Occupancies must sum to n (every vector assigned exactly one
    cell), shares to ~1, and load_factor must equal share * n_cells."""
    import math

    import __spark_entry__ as e
    from setu_spark.sources.io import load_table
    from tests.conftest import SF_ORACLE

    qs = e.queries()
    rows = qs["q143_ivf_cell_balance"](spark, SF_ORACLE).collect()
    n = load_table(spark, SF_ORACLE, "embeddings").count()
    n_cells = int(math.ceil(math.sqrt(float(n))))
    assert sum(r.n_vecs for r in rows) == n
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs(r.load_factor - r.share * n_cells) < 1e-4
        # trained codebook: cell ids are 0-based cluster indices
        assert 0 <= r.cell < n_cells


def _dup_dense_fixture(spark, with_zero=False):
    """40 distinct vectors x 8 copies + 10 singletons (dup_frac ~0.85);
    optionally one zero-norm vector with 8 copies."""
    import random

    rng = random.Random(7)
    rows, vid = [], 0
    for g in range(40):
        v = [round(rng.uniform(-1, 1), 3) for _ in range(8)]
        for _ in range(8):
            rows.append((vid, g % 3, v))
            vid += 1
    for g in range(10):
        v = [round(rng.uniform(-1, 1), 3) for _ in range(8)]
        rows.append((vid, g % 3, v))
        vid += 1
    if with_zero:
        for _ in range(8):
            rows.append((vid, 0, [0.0] * 8))
            vid += 1
    rng.shuffle(rows)
    return spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )


def test_semdedup_collapsed_row_identical_to_raw(spark):
    """q123's round-10 hybrid: the collapsed (distinct-vector) pairwise
    stage must be ROW-IDENTICAL to the raw within-cluster self-join on
    a duplicate-dense corpus — the dual-path discipline every hybrid
    dispatcher in the tree follows (q151, CC local/distributed)."""
    from setu_spark.operators.similarity import (
        _semantic_dedup_collapsed,
        _semantic_dedup_raw,
        semantic_dedup,
    )

    df = _dup_dense_fixture(spark)
    key = lambda r: (r.vec_id, r.cluster, r.max_sim_to_keeper, r.sem_removed)  # noqa: E731
    raw = sorted(map(key, _semantic_dedup_raw(df, 4, 2, 0.35).collect()))
    col = sorted(
        map(key, _semantic_dedup_collapsed(df, 4, 2, 0.35).collect())
    )
    assert raw == col
    # the dispatcher picks the collapsed branch here (dup_frac ~0.85)
    # and must therefore also be row-identical
    disp = sorted(map(key, semantic_dedup(df, 4, 2, 0.35).collect()))
    assert disp == raw


def test_semdedup_zero_norm_corpus_takes_raw_branch(spark):
    """Zero-norm embeddings make the cosine kernel emit NaN, and Spark's
    NaN-greatest semantics leak it into max_sim in ways the collapsed
    copy shortcut cannot replay — the dispatcher must route such
    corpora to the raw branch (output equality with raw proves it: the
    collapsed shortcut would stamp 1.0 where raw propagates NaN)."""
    import math

    from setu_spark.operators.similarity import (
        _semantic_dedup_raw,
        semantic_dedup,
    )

    df = _dup_dense_fixture(spark, with_zero=True)

    def key(r):
        ms = (
            "nan"
            if r.max_sim_to_keeper is not None
            and math.isnan(r.max_sim_to_keeper)
            else r.max_sim_to_keeper
        )
        return (r.vec_id, r.cluster, ms, r.sem_removed)

    raw = sorted(map(key, _semantic_dedup_raw(df, 4, 2, 0.35).collect()))
    disp = sorted(map(key, semantic_dedup(df, 4, 2, 0.35).collect()))
    assert disp == raw


def test_semdedup_tau_above_one_takes_raw_branch(spark):
    """tau > 1.0 breaks the collapsed branch's copy shortcut (it stamps
    non-rep copies removed at cos exactly 1.0, which only replays the
    raw rule when 1.0 >= tau): the public tau parameter must route such
    calls to the raw branch even on a duplicate-dense corpus (round-10
    ADVICE). With tau = 1.5 NOTHING can clear the filter, so the raw
    semantics are 'no row removed' — the collapsed shortcut would have
    removed every copy."""
    from setu_spark.operators.similarity import semantic_dedup

    df = _dup_dense_fixture(spark)  # dup_frac ~0.85: collapse territory
    out = semantic_dedup(df, 4, 2, tau=1.5).collect()
    assert out and all(not r.sem_removed for r in out)
    assert all(r.max_sim_to_keeper == -1.0 for r in out)


@pytest.fixture(scope="module")
def zero_norm_dir():
    """sf0.001's embeddings with every vec_id % 97 = 4 row (4, 101, …,
    489) set to the all-zero vector. vec_id 4 sits in both k-means init
    sets (q85's 8 lowest ids and q143's ⌈√500⌉ = 23), so a zero vector
    is scored as a member AND as a centroid."""
    import os
    import shutil
    import tempfile

    import duckdb

    from tests.conftest import SF_SMALL

    d = tempfile.mkdtemp(prefix="zeronorm_ci_")
    src = os.path.join(SF_SMALL, "embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (CASE WHEN vec_id % 97 = 4
              THEN list_transform(embedding, x -> CAST(0 AS FLOAT))
              ELSE embedding END AS embedding) FROM '{src}')
            TO '{d}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize(
    "name", ["q85_kmeans_clusters", "q143_ivf_cell_balance"]
)
def test_zero_norm_vectors_match_oracle(spark, zero_norm_dir, name):
    """A zero vector has no direction: the cosine block floors both
    norms at 1e-12, so it scores 0 against every cell (and a zero
    centroid scores 0 against every vector) instead of NaN — the
    ``greatest(norm, 1e-12)`` of the k-means oracle CTE, which q85
    and q143 both replay."""
    import duckdb

    from tests.oracle_utils import compare_frames

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{zero_norm_dir}/embeddings.parquet')"
    )
    try:
        got = entrymod.queries()[name](spark, zero_norm_dir).toPandas()
        want = con.execute(entrymod.oracle_sql()[name]).df()
    finally:
        con.close()
    assert not compare_frames(got, want)
