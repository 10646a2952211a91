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

Three modes (``python bench.py --help`` documents every flag):
  sweep         the default: HEADLINE, --full or --only queries,
                timed in this process
  --ab-ref      interleaved A/B against another git rev, one
                subprocess sweep per arm and rep
  --composite   merge of committed sweep records, no Spark session

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

#: Canary-drift qualification: the fixed probe query re-timed before every measured query under
#: --canary-gate, and the flag's default drift threshold. q01 is the
#: canary because it is the cheapest stable full-scan aggregate in the
#: registry (~0.3s at sf0.1): pure lineitem scan + hash agg, no joins,
#: no Python workers — its wall clock moves with machine conditions
#: and nothing else.
CANARY_QUERY = "q01_pricing_summary"
CANARY_GATE_DEFAULT = 1.2


def canary_flags(
    samples: dict[str, float], med: float | None, gate: float
) -> list[str]:
    """Queries whose preceding canary sample reads > gate× the record's
    own canary median — they rode a co-tenant burst.

    The canary query itself is EXEMPT from its own flagging: its
    preceding canary is the record's first in-sweep sample and reads
    high in EVERY record (residual first-sample warmth the discard run
    does not fully absorb), so flagging it is structural, not burst
    detection, and would leave the canary query with zero clean
    composite samples. A real burst on its measurement is still shed by
    min-across-records."""
    return sorted(
        q
        for q, t in samples.items()
        if q != CANARY_QUERY and med and t > gate * med
    )

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
    if payload.get("canary"):
        detail["canary"] = payload["canary"]
    if payload.get("canary_flagged"):
        detail["canary_flagged"] = payload["canary_flagged"]
    for k in ("canary_pre", "canary_post"):
        if payload.get(k) is not None:
            detail[k] = payload[k]
    if payload.get("sources"):
        detail["sources"] = payload["sources"]
    if payload.get("machine_era"):
        detail["machine_era"] = payload["machine_era"]
    if payload.get("era_ref"):
        detail["era_ref"] = payload["era_ref"]
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
    # era self-normalization: cross-record diffs on a co-tenant box are
    # dominated by machine era (a +8.7% headline once read as a
    # regression that the interleaved A/B disproved, code_ratio 0.997).
    # The committed composite's era block already computes
    # machine_era_ratio (the prior HEAD re-benched today vs its
    # committed composite, >1 = today's box slower); surfacing it on
    # the final line makes the record self-normalizing: divide
    # cross-record deltas by it. run_sweep() attaches "era_ref" from the
    # newest committed composite.
    era = payload.get("machine_era") or payload.get("era_ref") or {}
    ratio = era.get("machine_era_ratio")
    if isinstance(ratio, (int, float)):
        compact["era"] = round(float(ratio), 3)
    # bench self-qualification: a PLAIN sweep is neither canary-gated
    # nor min-composited, so its headline is load-of-the-day with
    # nothing in the record to qualify it by. One canary timing
    # immediately before and one immediately after the sweep ride the
    # final line as a bounded "pre/post" string: a reader of the final
    # line alone can reject a co-tenant-polluted record at ~2s cost
    # instead of the full per-query gate. Read the probes POSITIONALLY
    # against other records' probes, not against each other: the canary
    # query keeps warming with repetition across a sweep (measured: pre ≈1.65,
    # in-sweep median ≈1.07, post ≈0.9 on two consecutive clean
    # records), so pre is structurally the higher reading — a clean
    # box gives consistent pre-vs-pre and post-vs-post across records,
    # and a co-tenant burst shows as a multiple of either.
    pre, post = payload.get("canary_pre"), payload.get("canary_post")
    if isinstance(pre, (int, float)) and isinstance(post, (int, float)):
        # bound each probe individually — truncating the JOINED string
        # garbled large values into a misleading prefix ("99999.12/99"
        # reads as post=99). 9999s ≈ 2.8h per probe is
        # far past anything a canary query can honestly read.
        compact["canary"] = "/".join(
            f"{min(float(v), 9999.0):.2f}" for v in (pre, post)
        )
    # the size guard over the FIXED keys is unchanged — the bounded
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


def machine_era(ab_path: str, baseline_path: str) -> dict:
    """Fold a cross-tree ``--ab-ref`` record + the PRIOR committed
    composite into an era-normalization block: cross-record wall-clock
    drifts on a co-tenant box are dominated by machine era, not code,
    and the committed composite alone misleads naive cross-record diffs
    (64.28s → 70.54s once on identical code paths).  Two ratios make
    the record self-normalizing:

      machine_era_ratio   — prior-round HEAD re-benched TODAY (the ab-ref
                            arm) vs the SAME queries in the prior round's
                            committed composite.  >1 = today's box is
                            slower than the era the old number was
                            recorded in; divide cross-round deltas by it.
      code_ratio_vs_ref   — this tree vs prior HEAD, interleaved on the
                            same box (like-for-like code delta; <1 =
                            current code faster).
    """
    with open(ab_path) as fh:
        ab = json.load(fh)
    with open(baseline_path) as fh:
        base = json.load(fh)
    ref = ab["ab_ref"]
    runs = ab["ab_runs"]
    ref_arm = runs[ref]
    head_arm = runs["head"]
    common = [
        q for q in ref_arm
        if ref_arm[q] and head_arm.get(q) and q in base["queries"]
    ]
    if not common:
        sys.exit(
            f"--era-ab: no query appears in both {ab_path} arms and "
            f"{baseline_path} queries"
        )
    ref_today = sum(min(ref_arm[q]) for q in common)
    head_today = sum(min(head_arm[q]) for q in common)
    base_then = sum(base["queries"][q] for q in common)
    return {
        "ref": ref,
        "queries": sorted(common),
        "ref_total_today": round(ref_today, 3),
        "head_total_today": round(head_today, 3),
        "baseline_total": round(base_then, 3),
        "baseline_source": os.path.basename(baseline_path),
        "machine_era_ratio": round(ref_today / base_then, 3),
        "code_ratio_vs_ref": round(head_today / ref_today, 3),
    }


def latest_committed_era(repo: str) -> dict | None:
    """Era block from the NEWEST committed ``bench_composite_r*.json``
    that carries one — the source of the final line's "era" key on
    plain sweeps.  A tail-captured record keeps only the final line, so
    without this a naive cross-record diff reads machine era as a code
    regression.

    Searched in ``bench_records/`` (the committed history) and the repo
    root itself (in-progress records). A composite present in BOTH
    places ties on its ``_rN`` number; the tie breaks to
    ``bench_records/`` so an in-progress root record never shadows the
    committed one."""
    import glob
    import re

    def _key(p: str) -> tuple[int, int]:
        m = re.search(r"_r(\d+)", os.path.basename(p))
        rnd = int(m.group(1)) if m else -1
        committed = 1 if os.path.basename(os.path.dirname(p)) == (
            "bench_records"
        ) else 0
        return (rnd, committed)

    for p in sorted(
        glob.glob(os.path.join(repo, "bench_composite_r*.json"))
        + glob.glob(
            os.path.join(repo, "bench_records", "bench_composite_r*.json")
        ),
        key=_key,
        reverse=True,
    ):
        try:
            with open(p) as fh:
                era = json.load(fh).get("machine_era")
        except (OSError, ValueError):
            continue
        if isinstance(era, dict) and isinstance(
            era.get("machine_era_ratio"), (int, float)
        ):
            return {
                "machine_era_ratio": era["machine_era_ratio"],
                "source": os.path.basename(p),
            }
    return None


def composite(record_paths: list[str]) -> dict:
    """Merge per-query MINS across clean bench records into one payload
    with the same keys as a clean record: the per-query min across
    spaced runs is the engine's actual cost on a co-tenant box,
    burst-free by construction. Only queries present in EVERY record
    ride the composite (a query added between records has no
    cross-record min)."""
    records = []
    kept_paths = []
    skipped = []  # (path, reason) — full paths, not basenames: two
    # different directories can share a basename, and a clean record
    # must never be dropped because a FLAGGED record elsewhere happens
    # to be named the same
    loaded: list[tuple[str, dict]] = []
    for p in record_paths:
        with open(p) as fh:
            loaded.append((p, json.load(fh)))
    # canary-drift record qualification: a record whose canary median reads > gate× the BEST record's canary
    # median was taken under uniform co-tenant inflation — every sample
    # in it is poisoned, so it is skipped whole, like a hand-flagged
    # record. The best record is never skipped (ratio 1.0), so at least
    # one record always survives qualification.
    canary_meds = {
        p: rec["canary"]["median"]
        for p, rec in loaded
        if isinstance(rec.get("canary"), dict)
        and isinstance(rec["canary"].get("median"), (int, float))
        and not rec.get("flagged")
    }
    best_canary = min(canary_meds.values()) if canary_meds else None
    # mixing canary-gated and ungated records bypasses whole-record
    # qualification: an ungated record taken under
    # uniform inflation carries no canary median to skip it by, yet its
    # per-query samples still compete for every min — warn loudly so a
    # committed composite is never silently built on such a mix
    if best_canary is not None:
        ungated = [
            p for p, rec in loaded
            if not rec.get("flagged") and p not in canary_meds
        ]
        if ungated:
            print(
                "composite: WARNING mixing canary-gated and UNGATED "
                f"records — {ungated} carry no canary median, so "
                "whole-record inflation qualification cannot reach "
                "them and their samples still ride per-query mins; "
                "re-record them under --canary-gate",
                file=sys.stderr,
            )
    for p, rec in loaded:
        # a record hand-marked "flagged": true (e.g. uniform co-tenant
        # inflation that no gate caught) never rides a composite, even
        # if passed on the command line
        if rec.get("flagged"):
            skipped.append((p, "hand-flagged"))
            continue
        if best_canary and p in canary_meds:
            gate = rec["canary"].get("gate", CANARY_GATE_DEFAULT)
            if canary_meds[p] > gate * best_canary:
                skipped.append((
                    p,
                    f"canary median {canary_meds[p]} > {gate}x best "
                    f"{best_canary}",
                ))
                continue
        records.append(rec)
        kept_paths.append(p)
    if not records:
        sys.exit("--composite: every given record is flagged; nothing to merge")
    for p, reason in skipped:
        print(f"composite: skipped record {p} ({reason})", file=sys.stderr)
    common = set(records[0]["queries"])
    for r in records[1:]:
        common &= set(r["queries"])
    # self-qualifying records: a record that flagged a query as canary-
    # polluted (--canary-gate), or load-polluted ("load_flagged", set by
    # the retired host-loadavg gate in older committed records), is
    # excluded from that query's min when at least one clean sample
    # exists — one co-tenant burst cannot poison a composite entry
    # "stale_queries": queries whose CODE changed after the record was
    # taken (hand-annotated) — their samples measure a tree
    # that no longer exists and must not ride the min when any
    # fresh-tree record has the query
    def _samples(name: str) -> list[float]:
        clean = [
            r["queries"][name]
            for r in records
            if name not in set(r.get("load_flagged", []))
            and name not in set(r.get("stale_queries", []))
            and name not in set(r.get("canary_flagged", []))
        ]
        if not clean:
            # the min MUST NOT silently ride flagged/stale samples
            # without visibility: every sample for
            # this query was disqualified, so the fallback min below
            # measures a polluted or stale tree — say so.
            print(
                f"composite: WARNING every sample for {name} is "
                "flagged or stale; its min rides polluted/stale data",
                file=sys.stderr,
            )
        return clean or [r["queries"][name] for r in records]

    queries = {
        name: round(min(_samples(name)), 3) for name in sorted(common)
    }
    return {
        "metric": records[0]["metric"].replace("_wall", "_min_composite"),
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": records[0]["sf"],
        "sources": [os.path.basename(p) for p in kept_paths],
    }


def _query_list(text: str) -> list[str]:
    return [n.strip() for n in text.split(",") if n.strip()]


def _canary_threshold(text: str) -> float:
    try:
        gate = float(text)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"unparsable threshold {text!r} (expected a float, e.g. 1.2)"
        ) from None
    if not gate > 1.0:
        raise argparse.ArgumentTypeError("threshold must be > 1.0")
    return gate


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Parse the command line. Every misuse exits through
    ``parser.error``: a flag that was silently ignored would leave the
    operator committing a record in the belief that its gate, audit or
    era block ran."""
    parser = argparse.ArgumentParser(
        prog="bench.py",
        description="Time registered setu_spark queries through the noop "
        "sink; the final stdout line is the compact headline record.",
        # a prefix such as --ab must never silently select --ab-ref
        allow_abbrev=False,
    )
    parser.add_argument(
        "--full",
        action="store_true",
        help="time EVERY registered query, not just the HEADLINE subset, "
        "so regressions outside the headline families show",
    )
    parser.add_argument(
        "--only",
        type=_query_list,
        metavar="q1,q2,...",
        help="restrict the sweep to these comma-separated query names",
    )
    parser.add_argument(
        "--out",
        metavar="PATH",
        help="also write the full payload to PATH. Records are "
        "append-only: pass a fresh name per run and never overwrite the "
        "file behind a claimed number",
    )
    parser.add_argument(
        "--canary-gate",
        nargs="?",
        const=CANARY_GATE_DEFAULT,
        type=_canary_threshold,
        metavar="T",
        help="run the fixed canary query (q01_pricing_summary) right "
        "before each measured query. A query whose canary reads > T x the "
        "record's canary median (default %(const)s) rode a co-tenant "
        "burst and is listed in canary_flagged; --composite prefers clean "
        "samples and skips whole records whose canary median is > T x the "
        "best record's (uniform inflation that host loadavg does not "
        "show, e.g. cgroup-capped neighbours)",
    )
    mode = parser.add_mutually_exclusive_group()
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
    mode.add_argument(
        "--composite",
        nargs="+",
        metavar="REC",
        help="merge per-query mins across clean sweep records, skipping "
        "hand-flagged and canary-inflated records and flagged or stale "
        "samples; no Spark session",
    )
    parser.add_argument(
        "--era-ab",
        metavar="AB.json",
        help="with --composite and --era-baseline: attach the "
        "machine_era block from an --ab-ref record",
    )
    parser.add_argument(
        "--era-baseline",
        metavar="PRIOR.json",
        help="with --composite and --era-ab: the prior committed "
        "composite the ab-ref arm is compared against",
    )
    parser.add_argument(
        "--audit-against",
        nargs="+",
        metavar=("PRIOR.json", "T"),
        help="with --composite: embed a regression audit listing every "
        "query slower than T x (default 1.2) its value in PRIOR.json",
    )
    args = parser.parse_args(argv)
    if args.composite is None:
        for flag in ("--audit-against", "--era-ab", "--era-baseline"):
            if getattr(args, flag[2:].replace("-", "_")) is not None:
                parser.error(f"{flag} requires --composite")
    if (args.era_ab is None) != (args.era_baseline is None):
        # a ratio without its baseline is meaningless
        parser.error("--era-ab and --era-baseline must be given together")
    if args.audit_against is not None:
        if len(args.audit_against) > 2:
            parser.error("usage: --audit-against PRIOR.json [T]")
        prior, *rest = args.audit_against
        try:
            thr = float(rest[0]) if rest else 1.2
        except ValueError:
            parser.error(
                f"--audit-against: bad threshold {rest[0]!r} "
                "(expected a float)"
            )
        args.audit_against = (prior, thr)
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


def run_composite(args: argparse.Namespace) -> None:
    payload = composite(args.composite)
    if args.era_ab:
        payload["machine_era"] = machine_era(args.era_ab, args.era_baseline)
    if args.audit_against:
        # compare this composite's per-query values against a prior
        # committed composite and EMBED the result, so the committed
        # artifact carries its own audit instead of a prose claim
        prior_path, thr = args.audit_against
        with open(prior_path) as fh:
            prior_q = json.load(fh)["queries"]
        shared = sorted(set(payload["queries"]) & set(prior_q))
        regressed = {
            q: {
                "prior": prior_q[q],
                "now": payload["queries"][q],
                "ratio": round(payload["queries"][q] / prior_q[q], 3),
            }
            for q in shared
            if prior_q[q] > 0
            and payload["queries"][q] / prior_q[q] > thr
        }
        payload["regression_audit"] = {
            "against": os.path.basename(prior_path),
            "threshold": thr,
            "n_shared": len(shared),
            "n_only_now": len(set(payload["queries"]) - set(prior_q)),
            "n_only_prior": len(set(prior_q) - set(payload["queries"])),
            "regressed": regressed,
        }
        for q, row in sorted(regressed.items()):
            print(
                f"audit: {q} {row['prior']}s -> {row['now']}s "
                f"({row['ratio']}x)",
                file=sys.stderr,
            )
        print(
            f"audit: {len(regressed)}/{len(shared)} shared queries "
            f"> {thr}x vs {os.path.basename(prior_path)}",
            file=sys.stderr,
        )
    _write_out(payload, args.out)
    print(json.dumps(detail_line(payload)))
    print(dump_line(final_line(payload)))


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
            subprocess.run(
                cmd, cwd=path, check=True,
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            )
            with open(tmp) as fh:
                rec = json.load(fh)
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
    from setu_spark.session import get_spark

    spark = get_spark("setu-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    queries = entry.queries()
    names = list(queries) if args.full else HEADLINE
    if args.only:
        unknown = [n for n in args.only if n not in queries]
        if unknown:
            sys.exit(f"--only: unknown queries {unknown}")
        names = args.only
    canary_gate = args.canary_gate

    def _run(name: str) -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    # Warm the JVM/codegen paths and the Python (Arrow UDF) workers once so
    # the first measured query doesn't pay session/worker spin-up.
    try:
        _run(CANARY_QUERY)
        spark.range(64).select(
            F.pandas_udf(lambda s: s, "long")(F.col("id"))
        ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # warm-up failure must not kill the run
        print(f"[bench] warm-up failed: {exc!r}", file=sys.stderr)
    if canary_gate is not None:
        # one DISCARD canary: the first in-sweep canary otherwise reads
        # ~1.5x the session median (paths the generic warm-up above
        # does not touch) and systematically flags the first measured
        # query in EVERY record, leaving q01 with no clean composite
        # sample
        try:
            _run(CANARY_QUERY)
        except Exception as exc:
            print(f"[bench] canary warm-up failed: {exc!r}", file=sys.stderr)

    def _time_canary(tag: str) -> float | None:
        """One timed canary run — the pre/post sweep self-qualification
        probes. Warm by construction: the generic warm-up above already
        ran the canary query once."""
        try:
            t = round(_run(CANARY_QUERY), 3)
            print(f"[bench] canary_{tag}: {t}s", file=sys.stderr)
            return t
        except Exception as exc:  # probe failure ≠ sweep failure
            print(f"[bench] canary_{tag} failed: {exc!r}", file=sys.stderr)
            return None

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
    # --canary-gate: one canary run immediately before each measured
    # query; flags computed against the record's own canary median at
    # every checkpoint (host-metric-free burst detection)
    canary_samples: dict[str, float] = {}
    # pre/post sweep probes: ALWAYS taken (gated or plain) so every
    # record — most importantly a plain ungated sweep — is
    # self-qualifying from its final line alone; ~2s total
    canary_probes: dict[str, float] = {}
    t_pre = _time_canary("pre")
    if t_pre is not None:
        canary_probes["canary_pre"] = t_pre

    def _canary_block() -> tuple[dict, list[str]]:
        vals = sorted(canary_samples.values())
        n = len(vals)
        med = (
            round((vals[n // 2] + vals[(n - 1) // 2]) / 2, 3) if n else None
        )
        flagged = canary_flags(canary_samples, med, canary_gate)
        block = {
            "name": CANARY_QUERY,
            "gate": canary_gate,
            "median": med,
            "samples": canary_samples,
        }
        return block, flagged

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
        if canary_gate is not None:
            block, flagged = _canary_block()
            payload["canary"] = block
            payload["canary_flagged"] = flagged
        payload.update(canary_probes)
        if errors:
            payload["errors"] = errors
        try:
            with open("bench_partial.json", "w") as fh:
                json.dump(payload, fh)
        except OSError:
            pass
        return payload

    for name in names:
        if canary_gate is not None:
            try:
                canary_samples[name] = round(_run(CANARY_QUERY), 3)
            except Exception as exc:  # canary failure ≠ sweep failure
                print(f"[bench] canary failed: {exc!r}", file=sys.stderr)
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

    t_post = _time_canary("post")
    if t_post is not None:
        canary_probes["canary_post"] = t_post
    payload = _checkpoint()
    era_ref = latest_committed_era(os.path.dirname(os.path.abspath(__file__)))
    if era_ref:
        payload["era_ref"] = era_ref
    _write_out(payload, args.out)
    # Detail (loadavg, errors) on its OWN line; the compact headline
    # summary is the FINAL line so a tail-capture of any size parses.
    print(json.dumps(detail_line(payload)))
    print(dump_line(final_line(payload)))


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    if args.composite:
        run_composite(args)
    elif args.ab_ref:
        run_ab_ref(args)
    else:
        run_sweep(args)


if __name__ == "__main__":
    main()
