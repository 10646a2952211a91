#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the compact headline JSON as its own FINAL line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "n_queries": N, "sf": "...", "queries": {"qNN": s.ss, ...}}
(fixed scalar keys ≤200 bytes + a SIZE-BOUNDED compact per-query map,
the whole line ≤ FINAL_LINE_BUDGET) and EVERYTHING bulky — the
full-name full-precision timing map, per-query loadavg, errors — on
the SEPARATE preceding detail line and in bench_partial.json / --out.
Records are read by tail-capturing the last 2000 characters of stdout
and parsing the final line, so an unbounded per-query map gets cut
mid-object and the record parses as null, while no map at all leaves
per-query comparisons empty. The rule enforced by final_line() +
tests/test_bench_output.py: the final line's per-query map is compact
(unique qNN keys, 0.01-rounded seconds, cost-descending) and HARD
size-capped — overflow drops the cheapest entries into a "q_omitted"
count, never the line.

Two modes (``python bench.py --help`` documents every flag):
  sweep         the default: HEADLINE, --full or --only queries,
                timed in this process
  --ab-ref      interleaved A/B against another git rev, one
                subprocess sweep per arm and rep

Noise-qualified comparisons (seeded inputs, oracle-checked outputs,
per-query medians, host CPU/steal records) are perfbench/run.py's job,
not this timer's.

Each query is materialized through the ``noop`` datasource sink — every
column is computed (no count()-style projection pruning) and nothing is
collected to the driver, so timings measure engine work, not transfer.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Warm-up query run once before the sweep: the cheapest stable
#: full-scan aggregate in the registry (~0.3s at sf0.1) — pure lineitem
#: scan + hash agg, no joins, no Python workers — so it warms the JVM
#: scan/agg codegen paths without leaving cached state behind.
WARMUP_QUERY = "q01_pricing_summary"

#: Representative slice of the registered corpus: scan-agg, fact join,
#: dim-hop join, window, distinct agg, text explode, ngram shuffle, LSH
#: dedup, vector top-k, event windows, sessionization.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_nation_revenue",
    "q07_customer_running_spend",
    "q12_supplier_part_breadth",
    "q30_doc_word_stats",
    "q31_word_freq_topk",
    "q36_rolling_fingerprints",
    "q37_fingerprint_containment",
    "q41_char_ngram_repetition",
    "q45_lid_heuristic",
    "q47_multi_n_repetition",
    "q52_minhash_lsh_pairs",
    "q57_simhash_neardup_pairs",
    "q55_embedding_neardup",
    "q59_dedup_removed_docs",
    "q60_cosine_topk",
    "q63_ann_ivf_topk",
    "q64_decontamination",
    "q89_bloom_decontamination",
    "q39_tfidf_top_terms",
    "q29_token_budget_sample",
    "q83_curation_pipeline",
    "q88_unigram_logprob",
    "q93_cross_corpus_neardup",
    "q66_flashtext_keyword_dist",
    "q97_pii_redaction",
    "q98_hash_split",
    "q99_gopher_quality_rules",
    "q70_hourly_event_stats",
    "q71_user_sessions",
    "q75_user_totals",
    "q80_clean_pipeline",
    "q108_editdist_verify",
    "q109_quality_percentile_gate",
    "q115_quality_sketch_gate",
    "q110_source_mixture_weights",
    "q111_shared_span_removal",
    "q112_temperature_mixture",
    "q113_length_histogram",
    "q114_bigram_logprob",
    # sketch family: quantile summary + heavy hitters
    "q84_approx_quantiles",
    "q121_heavy_hitters",
    # semantic tier of the dedup funnel
    "q123_semantic_dedup",
    # DSIR weights, dedup audit, margin mining
    "q124_dsir_importance",
    "q125_dedup_impact_audit",
    "q126_margin_pair_mining",
    # classifier filter, KL mixture diagnostic, sequence chunking
    "q127_classifier_quality_filter",
    "q128_source_kl_divergence",
    "q129_sequence_chunking",
    "q130_bpe_merge_candidates",
    "q131_ann_recall_audit",
    "q132_vocab_coverage",
    "q133_lsh_precision_audit",
    "q134_trailing_range_revenue",
    "q135_unpivot_doc_metrics",
    "q136_order_distribution_stats",
    "q137_props_schema_parse",
    # ANN-bounded margin mining (the q126 scale fix), its
    # recall audit, and the iterative BPE loop
    "q138_margin_pair_mining_ann",
    "q139_bpe_merge_iterations",
    "q140_margin_ann_recall_audit",
    "q141_bpe_compression_curve",
    "q142_embedding_quant_audit",
    "q143_ivf_cell_balance",
    # leak-free split, signal correlation, n-gram
    # novelty, rule-ablation matrix
    "q144_leak_free_split",
    "q145_quality_signal_correlation",
    "q146_ngram_novelty",
    "q147_quality_rule_ablation",
    "q148_winnowed_novelty",
    "q149_component_source_purity",
    "q150_quality_survivor_delta",
    # joint text↔embedding dedup agreement, ANN ingest gate
    "q151_joint_dedup_agreement",
    "q152_ann_admission",
]


def detail_line(payload: dict) -> dict:
    """Everything bulky rides this SECOND-TO-LAST line: the FULL-NAME
    full-precision per-query timing map, loadavg detail, and errors.
    On the final line this unbounded form would be cut mid-object by
    the 2000-char tail capture.  Nothing unbounded may ride the final
    line — its per-query map is the compact size-capped encoding
    (:func:`final_line`)."""
    detail = {
        "queries": payload["queries"],
        "loadavg_detail": payload.get("loadavg", {}),
    }
    if payload.get("extra_samples"):
        detail["extra_samples"] = payload["extra_samples"]
    if payload.get("errors"):
        detail["errors"] = payload["errors"]
    return detail


#: Hard serialized-byte budget for the FINAL line. Every committed
#: BENCH_r01..r13 artifact shows the driver's tail capture is EXACTLY
#: 2000 chars; the final line is the last stdout the sweep prints, so
#: line + its newline must fit the window (≤1999) — 1950 leaves margin
#: for stray buffering. A full 149-query sweep at typical values
#: (~1.8 KB) fits whole; heavily inflated sweeps shed their cheapest
#: entries into "q_omitted" instead of outgrowing the window.
FINAL_LINE_BUDGET = 1950


def final_line(payload: dict) -> dict:
    """The compact FINAL line: fixed scalar keys (≤200 bytes, asserted)
    PLUS a size-bounded per-query map: the record reader parses ONLY
    this line, so without the map there is no per-query comparison.

    The map uses the COMPACT ENCODING the tail window forces: keys
    are the unique ``qNN`` prefix of each registered name (full name
    kept only if a prefix ever collided), values are seconds rounded
    to 0.01, entries ordered by descending cost. 149 entries ≈ 1.8 KB;
    if a pathological registry still overflows
    :data:`FINAL_LINE_BUDGET`, the cheapest entries are dropped and
    counted in ``q_omitted`` — the expensive tail the regression
    comparison cares about always survives. Full names + full precision
    ride the detail line and ``--out`` records, unchanged.
    """
    # `sf` is an env-controlled path of unbounded length; only its basename
    # (e.g. "sf0.1") rides the final line, clamped so a pathological name
    # can never push the line past the driver's tail-capture window. The
    # size guard is a hard invariant over the FIXED keys, so it cannot be
    # tripped by user input — never by the sf path.
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "n_queries": len(payload["queries"]),
        "sf": os.path.basename(str(payload["sf"]).rstrip("/"))[:32],
    }
    # ambient-load context: a tail-captured record keeps only this
    # line, and cross-record wall-clock deltas are dominated by
    # co-tenant load — two bounded scalars make every record
    # self-documenting. Clamped so a pathological loadavg can never
    # outgrow the tail-capture window.
    la = payload.get("loadavg")
    if la and "start" in la and "end" in la:
        compact["load"] = f"{la['start']:.1f}/{la['end']:.1f}"[:16]
    # this size guard covers the FIXED keys only — the bounded
    # per-query map below is additive and carries its own budget; all
    # size math uses the compact separators the line is printed with
    assert len(dump_line(compact)) <= 200, "final bench line must stay tiny"
    from collections import Counter

    numeric = {
        n: v
        for n, v in (payload.get("queries") or {}).items()
        if isinstance(v, (int, float))
    }
    if numeric:
        pref = Counter(n.split("_", 1)[0] for n in numeric)
        qmap = {
            (
                n.split("_", 1)[0]
                if pref[n.split("_", 1)[0]] == 1
                else n
            ): round(float(v), 2)
            for n, v in sorted(numeric.items(), key=lambda kv: -kv[1])
        }
        compact["queries"] = qmap
        while qmap and len(dump_line(compact)) > FINAL_LINE_BUDGET:
            cheapest = min(qmap, key=lambda k: (qmap[k], k))
            del qmap[cheapest]
            compact["q_omitted"] = len(numeric) - len(qmap)
    assert len(dump_line(compact)) <= FINAL_LINE_BUDGET, (
        "final bench line outgrew the driver tail-capture window"
    )
    return compact


def dump_line(obj: dict) -> str:
    """Serialize a stdout line with COMPACT separators — the final
    line's per-query map wins ~2 bytes per entry over json.dumps
    defaults, which is the difference between the whole 149-query map
    fitting the driver's 2000-char tail window and shedding entries."""
    return json.dumps(obj, separators=(",", ":"))


def _query_list(text: str) -> list[str]:
    return [n.strip() for n in text.split(",") if n.strip()]


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse the command line. Every misuse exits through
    ``parser.error``: a flag that was silently ignored would leave the
    operator reading a record in the belief that it timed what they
    asked for. --full, --only and --ab-ref each pick the query set, so
    at most one of them may be given."""
    parser = argparse.ArgumentParser(
        prog="bench.py",
        description="Time registered setu_spark queries through the noop "
        "sink; the final stdout line is the compact headline record.",
        # a prefix such as --ab must never silently select --ab-ref
        allow_abbrev=False,
    )
    mode = parser.add_mutually_exclusive_group()
    mode.add_argument(
        "--full",
        action="store_true",
        help="time EVERY registered query, not just the HEADLINE subset, "
        "so regressions outside the headline families show",
    )
    mode.add_argument(
        "--only",
        type=_query_list,
        metavar="q1,q2,...",
        help="restrict the sweep to these comma-separated query names",
    )
    mode.add_argument(
        "--ab-ref",
        nargs=2,
        metavar=("REF", "qA[,qB...][,reps]"),
        help="A/B the queries against git rev REF: check REF out into a "
        "temp worktree and alternate `bench.py --only` subprocess runs "
        "between the two trees rep by rep (default 3 reps, arm order "
        "reversed every other rep), so a co-tenant burst hits both arms; "
        "prints per-arm per-query minima",
    )
    parser.add_argument(
        "--out",
        metavar="PATH",
        help="also write the full payload to PATH. Records are "
        "append-only: pass a fresh name per run and never overwrite the "
        "file behind a claimed number",
    )
    args = parser.parse_args(argv)
    if args.ab_ref is not None:
        ref, spec = args.ab_ref
        if ref.lower() == "head":
            # the local tree's arm key is literally 'head'; a ref named
            # HEAD would collide in the arms dict and silently drop one arm
            parser.error(
                "--ab-ref: REF must not be 'head' (that IS the local arm); "
                "pass a commit SHA, branch, or tag"
            )
        names = spec.split(",")
        reps = 3
        if names and names[-1].isdigit():
            reps = int(names.pop())
        if not names:
            parser.error("usage: bench.py --ab-ref REF qA[,qB...][,reps]")
        args.ab_ref = (ref, names, reps)
    return args


def _write_out(payload: dict, out_path: str | None) -> None:
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)


def run_ab_ref(args: argparse.Namespace) -> None:
    """Two temp-worktree SUBPROCESS arms, interleaved rep by rep. No
    Spark session in this process; each arm pays its own session
    spin-up, and the measured number is the arm's own within-process
    min."""
    import subprocess
    import tempfile

    ref, parts, reps = args.ab_ref
    repo = os.path.dirname(os.path.abspath(__file__))
    # key the worktree path by the RESOLVED commit SHA, not the ref
    # name: a branch that moved since the worktree was created, or two
    # refs that sanitize identically (feat/x vs feat_x), would silently
    # A/B the wrong tree under a name-keyed path
    sha = subprocess.run(
        ["git", "-C", repo, "rev-parse", "--verify", ref + "^{commit}"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    wt = os.path.join(tempfile.gettempdir(), "setu_ab_" + sha[:16])
    if os.path.isdir(wt):
        wt_head = subprocess.run(
            ["git", "-C", wt, "rev-parse", "HEAD"],
            capture_output=True, text=True,
        ).stdout.strip()
        if wt_head != sha:
            subprocess.run(
                ["git", "-C", wt, "checkout", "--detach", sha],
                check=True,
            )
    else:
        subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--detach", wt, sha],
            check=True,
        )
    # an arm whose bench.py predates --only would IGNORE the flag
    # and sweep its whole headline set — refuse loudly instead
    with open(os.path.join(wt, "bench.py")) as fh:
        if "--only" not in fh.read():
            sys.exit(f"--ab-ref: {ref}'s bench.py has no --only support")
    arms = {"head": repo, ref: wt}
    runs_ref: dict[str, dict[str, list[float]]] = {
        a: {q: [] for q in parts} for a in arms
    }
    # alternate arm order per rep: a fixed head-first order hands the
    # second arm every warm-cache/load-ramp advantage (measured as a
    # phantom regression of +0.6-1.2s on the funnel family, and as a
    # ~5% drift on untouched queries)
    arm_order = list(arms.items())
    sf = None  # the arms' own SPARK_GRAFT_SF_DIR, as their records say
    for rep in range(reps):
        for arm, path in arm_order if rep % 2 == 0 else arm_order[::-1]:
            with tempfile.NamedTemporaryFile(
                suffix=".json", delete=False
            ) as tf:
                tmp = tf.name
            cmd = [
                sys.executable,
                os.path.join(path, "bench.py"),
                "--only",
                ",".join(parts),
                "--out",
                tmp,
            ]
            try:
                proc = subprocess.run(
                    cmd, cwd=path,
                    stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                    text=True,
                )
                if proc.returncode:
                    tail = "\n".join(proc.stderr.splitlines()[-20:])
                    sys.exit(
                        f"--ab-ref: arm {arm} rep {rep + 1}/{reps} exited "
                        f"{proc.returncode}; stderr tail:\n{tail}"
                    )
                with open(tmp) as fh:
                    rec = json.load(fh)
            finally:
                os.unlink(tmp)
            sf = rec["sf"]
            for q in parts:
                if q in rec["queries"]:
                    runs_ref[arm][q].append(rec["queries"][q])
            print(
                f"[bench] ab-ref rep {rep + 1}/{reps} arm {arm}: "
                + ", ".join(f"{q}={rec['queries'].get(q)}" for q in parts),
                file=sys.stderr,
            )
    payload = {
        "metric": "ab_ref_min",
        "value": 0.0,
        "unit": "sec",
        "queries": {
            f"{a}:{q}": round(min(r), 3) if r else None
            for a, qs in runs_ref.items()
            for q, r in qs.items()
        },
        "sf": sf,
        "ab_ref": ref,
        "ab_runs": runs_ref,
    }
    _write_out(payload, args.out)
    print(json.dumps({"ab_ref": ref, "ab_runs": runs_ref}))
    print(
        json.dumps(
            {
                "metric": "ab_ref_min",
                "arms": {
                    a: round(sum(min(r) for r in qs.values() if r), 3)
                    for a, qs in runs_ref.items()
                },
            }
        )
    )


def run_sweep(args: argparse.Namespace) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # resolve the query set before any JVM starts: the registry imports
    # without a session, so a typo'd --only name fails in a second
    import __spark_entry__ as entry

    queries = entry.queries()
    names = list(queries) if args.full else HEADLINE
    if args.only:
        unknown = [n for n in args.only if n not in queries]
        if unknown:
            sys.exit(f"--only: unknown queries {unknown}")
        names = args.only

    from setu_spark.session import get_spark

    spark = get_spark("setu-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    def _run(name: str) -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    # Warm the JVM/codegen paths and the Python (Arrow UDF) workers once so
    # the first measured query doesn't pay session/worker spin-up.
    try:
        _run(WARMUP_QUERY)
        spark.range(64).select(
            F.pandas_udf(lambda s: s, "long")(F.col("id"))
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # warm-up failure must not kill the run
        print(f"[bench] warm-up failed: {exc!r}", file=sys.stderr)

    # min of 2 runs per query: the machine hosting the bench also hosts
    # other work, and single-shot numbers swing ±40% with background load;
    # the min is the engine's actual cost. A co-tenant burst can span
    # BOTH runs (observed: a ~10s stall landing on a different <2s query
    # each full sweep), so when even the min looks stalled (> SLOW_FLOOR,
    # above every honest per-query cost at sf0.1) retry up to 2 more
    # times — a burst long enough to poison four spaced runs hasn't been
    # observed.
    SLOW_FLOOR = 5.0
    # Failure isolation: one throwing query must not abort the sweep.
    # Each query runs under try/except; errors are recorded in a
    # parallel map and the partial result is checkpointed to
    # bench_partial.json after EVERY query so a hard crash mid-sweep still
    # leaves numbers on disk.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # queries where MORE than the baseline 2 samples ran (adaptive
    # third on >1.5× disagreement, or SLOW_FLOOR retries) — recorded so
    # cross-record deltas stay interpretable: min over more samples is
    # biased low, and PERF.md methodology references this key
    extra_samples: dict[str, int] = {}
    # Host load around each query (1-min loadavg): this machine is
    # co-tenant and single-shot numbers swing ±40% under bursts.
    # Recording load makes noisy runs machine-distinguishable from
    # regressions.
    loads: dict[str, float] = {}
    load_start = os.getloadavg()[0]

    def _checkpoint() -> dict:
        payload = {
            "metric": (
                "full_registry_total_wall"
                if args.full
                else "headline_query_total_wall"
            ),
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf_dir,
            "loadavg": {
                "start": round(load_start, 2),
                "end": round(os.getloadavg()[0], 2),
                "per_query": loads,
            },
        }
        if extra_samples:
            payload["extra_samples"] = extra_samples
        if errors:
            payload["errors"] = errors
        try:
            with open("bench_partial.json", "w") as fh:
                json.dump(payload, fh)
        except OSError:
            pass
        return payload

    for name in names:
        loads[name] = round(os.getloadavg()[0], 2)
        try:
            runs = [_run(name), _run(name)]
            # Adaptive third sample: two runs disagreeing by >1.5× means a
            # co-tenant burst hit one of them (a plan doesn't cost 1.5×
            # itself run-to-run); one more sample lets min() shed the
            # poisoned one. Bounded: at most +1 run, only on noisy queries.
            if max(runs) > 1.5 * min(runs):
                runs.append(_run(name))
            retries = 0
            while min(runs) > SLOW_FLOOR and retries < 2:
                retries += 1
                runs.append(_run(name))
            timings[name] = round(min(runs), 3)
            if len(runs) > 2:
                extra_samples[name] = len(runs)
            print(f"[bench] {name}: {timings[name]}s", file=sys.stderr)
        except Exception as exc:
            errors[name] = repr(exc)[:500]
            print(f"[bench] {name}: ERROR {exc!r}", file=sys.stderr)
        finally:
            # queries that cache internal projections (q29/q37/q55/…) must
            # not leak blocks into later timings: measured +2-5s of GC/
            # eviction pressure on the tail queries once a few runs of
            # cached DataFrames accumulate in the block manager
            spark.catalog.clearCache()
            _checkpoint()

    payload = _checkpoint()
    _write_out(payload, args.out)
    # Detail (loadavg, errors) on its OWN line; the compact headline
    # summary is the FINAL line so a tail-capture of any size parses.
    print(json.dumps(detail_line(payload)))
    print(dump_line(final_line(payload)))


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    if args.ab_ref:
        run_ab_ref(args)
    else:
        run_sweep(args)


if __name__ == "__main__":
    main()
