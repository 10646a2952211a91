"""Planted-fixture semantics for the round-5 selection operators:
q127 classifier quality filter (independent Python reimplementation of
the hashed-linear-model score and Pareto keep rule), q128 per-source KL
divergence (zero iff a source matches the corpus distribution), and
q129 fixed-length sequence chunking (exact geometry + fingerprints).
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from setu_spark.functions.hashes import HEX_DIGITS
from setu_spark.operators.curation import (
    CHUNK_LEN,
    q128_source_kl_divergence,
    q129_sequence_chunking,
)
from setu_spark.operators.quality import (
    CQ_BUCKETS,
    CQ_GAIN,
    CQ_PARETO_ALPHA,
    CQ_UMOD,
    q127_classifier_quality_filter,
)
from setu_spark.operators.textstats import (
    BPE_ITERS,
    q139_bpe_merge_iterations,
    q141_bpe_compression_curve,
)
from tests.conftest import SF_SMALL
from tests.oracle_utils import compare_frames


def _write_docs(spark, tmp_path, rows):
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("long")).write.parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


def _h64(s: str, salt: str) -> int:
    return int(hashlib.md5(f"{salt}|{s}".encode()).hexdigest()[:HEX_DIGITS], 16)


def test_q127_matches_python_reimplementation(spark, tmp_path):
    rows = [
        (1, "alpha beta gamma delta epsilon", "en", "a"),
        (2, "zig zag zap", "en", "a"),
        (3, "the of and to in is it a", "en", "b"),
    ]
    d = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in q127_classifier_quality_filter(spark, d).collect()}
    for doc_id, text, _, _ in rows:
        words = text.split(" ")
        s = 0  # exact integer milliweights, the engine's hot-path form
        for w in words:
            b = _h64(w, "cq") % CQ_BUCKETS
            s += (_h64(str(b), "cqw") % 2001) - 1000
        mean = (float(s) / 1000.0) / len(words)
        score = 1.0 / (1.0 + math.exp(-CQ_GAIN * mean))
        u = (_h64(str(doc_id), "cqp") % CQ_UMOD + 1) / float(CQ_UMOD + 1)
        pareto = (1 - u) ** (-1.0 / CQ_PARETO_ALPHA) - 1
        keep = round(pareto, 6) > round(1 - score, 6)
        r = got[doc_id]
        assert r["n_words"] == len(words)
        assert abs(r["quality_score"] - round(score, 6)) < 1e-9
        assert r["keep"] == keep


def test_q128_zero_for_corpus_matching_source_positive_for_skew(
    spark, tmp_path
):
    # sources a and b speak the identical distribution -> the corpus
    # (their pool plus a tiny skewed source) is dominated by it; source
    # c speaks a disjoint vocabulary -> strictly positive divergence,
    # and a==b by symmetry.
    base = "alpha beta gamma delta"
    rows = [
        (1, base, "en", "a"),
        (2, base, "en", "b"),
        (3, "omega omega omega omega", "en", "c"),
    ]
    d = _write_docs(spark, tmp_path, rows)
    kl = {r["source"]: r for r in q128_source_kl_divergence(spark, d).collect()}
    assert kl["a"]["kl_unigram"] == kl["b"]["kl_unigram"]
    assert kl["c"]["kl_unigram"] > kl["a"]["kl_unigram"] > 0
    # exact closed form: every 'a' word has p=1/4, q=2/12 -> ln(3/2);
    # 'c' has p=1, q=4/12 -> ln(3). Quantization is per-term 1e-6.
    assert abs(kl["a"]["kl_unigram"] - math.log(1.5)) < 1e-5
    assert abs(kl["c"]["kl_unigram"] - math.log(3.0)) < 1e-5
    assert kl["a"]["n_tokens"] == 4 and kl["a"]["n_buckets"] == 4


def test_q129_chunk_geometry_and_fingerprints(spark, tmp_path):
    n = CHUNK_LEN * 2 + 2  # 3 chunks: CHUNK_LEN, CHUNK_LEN, 2
    words = [f"w{i}" for i in range(n)]
    rows = [(1, " ".join(words), "en", "a"), (2, "solo", "en", "a")]
    d = _write_docs(spark, tmp_path, rows)
    out = q129_sequence_chunking(spark, d).collect()
    doc1 = sorted(
        (r for r in out if r["doc_id"] == 1), key=lambda r: r["chunk_idx"]
    )
    assert [r["chunk_words"] for r in doc1] == [CHUNK_LEN, CHUNK_LEN, 2]
    assert [r["start_word"] for r in doc1] == [1, CHUNK_LEN + 1, 2 * CHUNK_LEN + 1]
    for r in doc1:
        lo = r["start_word"] - 1
        expect = " ".join(words[lo : lo + r["chunk_words"]])
        assert r["chunk_fp"] == hashlib.md5(expect.encode()).hexdigest()
    doc2 = [r for r in out if r["doc_id"] == 2]
    assert len(doc2) == 1 and doc2[0]["chunk_words"] == 1
    assert doc2[0]["chunk_fp"] == hashlib.md5(b"solo").hexdigest()


def test_q130_bpe_pairs_exact_counts(spark, tmp_path):
    from setu_spark.operators.textstats import q130_bpe_merge_candidates

    # 'abab' yields pairs ab,ba,ab (2 ab + 1 ba) at word-freq 3 ->
    # ab 6, ba 3; 'ab' at freq 2 adds ab 2. Totals: ab 8, ba 3.
    # Single-char 'z' contributes no pair.
    rows = [
        (1, "abab abab abab ab ab z", "en", "a"),
    ]
    d = _write_docs(spark, tmp_path, rows)
    out = {r["pair"]: r for r in q130_bpe_merge_candidates(spark, d).collect()}
    assert out["ab"]["pair_count"] == 8 and out["ab"]["rank"] == 1
    assert out["ba"]["pair_count"] == 3 and out["ba"]["rank"] == 2
    assert "z" not in out and len(out) == 2


def test_no_module_level_constant_rebinding():
    """q129's chunk length briefly shadowed q94's SEQ_LEN=256 packing
    budget by re-assigning the same module-level name further down the
    file — runtime references silently saw the later value. AST-sweep
    every engine module: no public module-level name may be assigned
    twice."""
    import ast
    import pathlib

    # anchor to the repo root: a cwd-relative path finds nothing (and
    # passes vacuously) when pytest runs from outside the repo
    pkg = pathlib.Path(__file__).resolve().parents[1] / "setu_spark"
    files = sorted(pkg.rglob("*.py"))
    assert files, f"no sources under {pkg}"
    offenders = []
    for p in files:
        seen = {}
        for node in ast.parse(p.read_text()).body:
            targets = []
            if isinstance(node, ast.Assign):
                targets = [
                    t.id for t in node.targets if isinstance(t, ast.Name)
                ]
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                targets = [node.target.id]
            for t in targets:
                if t in seen and not t.startswith("_"):
                    offenders.append(f"{p}:{node.lineno}:{t}")
                seen[t] = node.lineno
    assert not offenders, offenders


def test_q132_coverage_exact_curve(spark, tmp_path):
    from setu_spark.operators.textstats import q132_vocab_coverage

    # 8 'a', 4 'b', 2 'c', 1 'd', 1 'e' -> 16 tokens, vocab 5;
    # coverage: top1 8/16, top2 12/16, top4 15/16, full (rank 5) 1.0
    rows = [(1, " ".join(["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d", "e"]),
             "en", "s")]
    d = _write_docs(spark, tmp_path, rows)
    got = {r["vocab_size"]: r["coverage"]
           for r in q132_vocab_coverage(spark, d).collect()}
    assert got == {1: 0.5, 2: 0.75, 4: 0.9375, 5: 1.0}


def test_q133_precision_one_on_exact_duplicates(spark, tmp_path):
    from setu_spark.operators.dedup import q133_lsh_precision_audit

    # two identical docs -> identical signatures -> one candidate pair,
    # exact jaccard 1.0 -> precision 1.0 and zero estimate error; the
    # unrelated third doc must not pair with them
    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, text, "en", "s"),
        (2, text, "en", "s"),
        (3, "one two three four five six seven eight", "en", "s"),
    ]
    d = _write_docs(spark, tmp_path, rows)
    r = q133_lsh_precision_audit(spark, d).collect()[0]
    assert r["n_candidates"] == 1 and r["n_verified"] == 1
    assert r["precision_at_t"] == 1.0 and r["est_mae"] == 0.0


# BPE merge loop (q139 merge table, q141 compression curve): the
# (count DESC, left, right) tie-break both engines share, code-point
# symbols, overlapping (a, a) merges, the no-pair-left edge, the
# kernel's batch reassembly and the queries' construction job count.
def _documents_oracle(d, name):
    con = duckdb.connect()
    # Spark writes documents.parquet as a directory of part files
    path = os.path.join(d, "documents.parquet", "*.parquet")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    try:
        return con.execute(entrymod.oracle_sql()[name]).df()
    finally:
        con.close()


def _assert_bpe_matches_oracle(spark, d, name):
    got = entrymod.queries()[name](spark, d).toPandas()
    assert compare_frames(got, _documents_oracle(d, name)) == [], name


def test_bpe_tie_break_prefers_smaller_pair(spark, tmp_path):
    # round 1: (x,y) and (x,z) tie at 3 -> the smaller right symbol
    # wins; round 2: (x,z) at 3 beats every count-1 pair; rounds 3-4:
    # all count 1 -> the smaller left symbol first, (a,z) before (b,c)
    # although c < z. The long word keeps pairs alive past BPE_ITERS,
    # so no round runs out of pairs.
    d = _write_docs(
        spark, tmp_path, [(1, "xz xy xz xy xy xz bc az qrstuvw", "en", "s")]
    )
    want = [
        (1, "x", "y", 3),
        (2, "x", "z", 3),
        (3, "a", "z", 1),
        (4, "b", "c", 1),
    ][:BPE_ITERS]
    got = sorted(
        tuple(r) for r in q139_bpe_merge_iterations(spark, d).collect()
    )
    assert got == want
    _assert_bpe_matches_oracle(spark, d, "q139_bpe_merge_iterations")
    _assert_bpe_matches_oracle(spark, d, "q141_bpe_compression_curve")


def test_bpe_single_character_vocabulary(spark, tmp_path):
    # no word has two symbols: nothing to merge, so q139 adopts no pair
    # and q141's curve stays at the character count for every round
    d = _write_docs(spark, tmp_path, [(1, "a b c a b a", "en", "s")])
    assert q139_bpe_merge_iterations(spark, d).count() == 0
    curve = sorted(
        tuple(r) for r in q141_bpe_compression_curve(spark, d).collect()
    )
    assert curve == [(it, 6, 1.0) for it in range(BPE_ITERS + 1)]
    _assert_bpe_matches_oracle(spark, d, "q139_bpe_merge_iterations")
    _assert_bpe_matches_oracle(spark, d, "q141_bpe_compression_curve")


def test_bpe_unicode_symbols_match_oracle(spark, tmp_path):
    # symbols are code points: Devanagari combining marks, a Latin
    # diacritic and astral-plane characters each count as one symbol.
    # Ties compare symbols in code-point (= UTF-8 byte) order, so the
    # fullwidth ｚ (U+FF5A) wins the second merge over 𝔸 (U+1D538),
    # which UTF-16 order would put first; the fourth merge breaks a
    # seven-way tie at 2
    d = _write_docs(
        spark,
        tmp_path,
        [
            (1, "नमस्ते नमस्ते éa éa éa éa 😀😀a 😀😀a", "hi", "s"),
            (2, "𝔸𝔸 𝔸𝔸 𝔸𝔸 ｚｚ ｚｚ ｚｚ", "en", "s"),
        ],
    )
    want = [
        (1, "é", "a", 4),
        (2, "ｚ", "ｚ", 3),
        (3, "𝔸", "𝔸", 3),
        (4, "त", "े", 2),
    ][:BPE_ITERS]
    got = sorted(
        tuple(r) for r in q139_bpe_merge_iterations(spark, d).collect()
    )
    assert got == want
    _assert_bpe_matches_oracle(spark, d, "q139_bpe_merge_iterations")
    _assert_bpe_matches_oracle(spark, d, "q141_bpe_compression_curve")


def test_bpe_repeated_symbol_runs_merge_greedily(spark, tmp_path):
    # (a, a) hits overlap: 'aaaaa' -> [aa, aa, a], 'aaa' -> [aa, a];
    # the second merge adopts (aa, a) at 2, the third (aa, aaa) at 1,
    # then no adjacent pair is left and the curve stays flat
    d = _write_docs(spark, tmp_path, [(1, "aaaaa aaa", "en", "s")])
    got = sorted(
        tuple(r) for r in q139_bpe_merge_iterations(spark, d).collect()
    )
    assert got == [(1, "a", "a", 6), (2, "aa", "a", 2), (3, "aa", "aaa", 1)]
    curve = sorted(
        tuple(r) for r in q141_bpe_compression_curve(spark, d).collect()
    )
    assert [total for _, total, _ in curve] == [8, 5, 3, 2, 2][
        : BPE_ITERS + 1
    ]
    _assert_bpe_matches_oracle(spark, d, "q139_bpe_merge_iterations")
    _assert_bpe_matches_oracle(spark, d, "q141_bpe_compression_curve")


def test_bpe_kernel_input_split_over_arrow_batches(spark):
    # the kernel reassembles its word table from however many Arrow
    # batches Spark sends it: two rows a batch gives the same rows
    queries = (q139_bpe_merge_iterations, q141_bpe_compression_curve)
    want = [sorted(q(spark, SF_SMALL).collect()) for q in queries]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = [sorted(q(spark, SF_SMALL).collect()) for q in queries]
    finally:
        spark.conf.set(key, old)
    assert got == want and len(want[0]) == BPE_ITERS
