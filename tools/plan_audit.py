#!/usr/bin/env python
"""Mechanical plan-shape audit over the whole registry.

The q28 lesson: a scale-killer can cost 3s at sf0.1 and 195s at 60M
rows, so wall-clock at test scale does not catch it — plan shape does.
For every registered query this prints (shuffles, widest exchange
input arity, Expand present) and flags outliers, so the q28 class
(a wide aggregation buffer riding a per-row exchange) is a one-command
sweep instead of a lucky explain.

Usage: python tools/plan_audit.py [sf_dir] [--wide N]   (flag width > N,
default 24 — wide enough that honest multi-metric aggregates pass and
a 200-column sketch buffer cannot)

  --snapshot    write the per-query plan-fingerprint ledger (round-11
                VERDICT task 4) to PLAN_FINGERPRINTS.json at the repo
                root: {query: {shuffles, broadcast_joins,
                corpus_widths, expand, unpart_windows, dup_udfs,
                cartesian}}. The four gates assert absence of
                anti-patterns; the committed ledger pins the POSITIVE
                shape so a refactor or Spark upgrade that drops a
                broadcast to SMJ or adds a shuffle fails
                tests/test_plan_fingerprints.py instead of surfacing
                as a bench mystery. The sf0.001 section also pins
                each query's construct_jobs: the Spark jobs that
                building its frame starts (setJobGroup +
                statusTracker), so a new eager probe fails CI too.
                Update path after a REVIEWED plan change: re-run
                --snapshot and commit the diff.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: committed ledger path (repo root) — the baseline
#: tests/test_plan_fingerprints.py diffs against
SNAPSHOT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLAN_FINGERPRINTS.json",
)


#: the scale factors every committed snapshot pins (round-12 VERDICT
#: task 4): fingerprints are taken from the STATIC physical plan, but
#: stats-dependent decisions (a size-estimated broadcast) could in
#: principle flip between scale factors — pinning two SFs turns such a
#: flip into a CI diff instead of an invisible demotion. Measured at
#: introduction (round 13): the two sections are IDENTICAL for all
#: 149 queries — every broadcast in the registry is hint-driven, not
#: size-estimated — so the sf0.1 section is an invariance witness, and
#: its live recompute rides the SETU_SLOW suite only.
SNAPSHOT_SF_DIRS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.1",
)

#: the section that also pins each query's construction-job count (a
#: count can move with data size, e.g. the CC loop's rounds, so only one
#: scale factor carries it)
JOBS_SF_DIR = SNAPSHOT_SF_DIRS[0]


def snapshot(
    sf_dirs, out_path: str = SNAPSHOT_PATH
) -> dict:
    """Compute and write the per-query fingerprint ledger, one section
    per scale factor. Queries whose plan construction throws are
    recorded as {"error": type} so the ledger still covers the whole
    registry (and the CI diff fails loudly on them)."""
    import json

    import __spark_entry__ as entrymod
    from setu_spark.plans.inspect import construct_jobs, plan_fingerprint
    from setu_spark.session import get_spark

    if isinstance(sf_dirs, str):
        sf_dirs = [sf_dirs]
    spark = get_spark("plan-fingerprint-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    sections: dict[str, dict[str, dict]] = {}
    for sf_dir in sf_dirs:
        ledger: dict[str, dict] = {}
        for name, fn in sorted(entrymod.queries().items()):
            try:
                df, jobs = construct_jobs(spark, lambda: fn(spark, sf_dir))
                ledger[name] = plan_fingerprint(df)
                if sf_dir == JOBS_SF_DIR:
                    ledger[name]["construct_jobs"] = jobs
            except Exception as exc:  # noqa: BLE001
                ledger[name] = {"error": type(exc).__name__}
            finally:
                spark.catalog.clearCache()
            print(f"[snapshot {sf_dir}] {name}: {ledger[name]}",
                  file=sys.stderr)
        sections[sf_dir] = ledger
    with open(out_path, "w") as fh:
        json.dump({"sections": sections}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        f"wrote {sum(len(v) for v in sections.values())} fingerprints "
        f"({len(sections)} sections) to {out_path}"
    )
    return sections


def main() -> int:
    argv = sys.argv[1:]
    wide = 24
    if "--wide" in argv:
        i = argv.index("--wide")
        wide = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    snap = "--snapshot" in argv
    if snap:
        argv.remove("--snapshot")
    unknown = [a for a in argv if a.startswith("--")]
    if unknown:
        sys.exit(
            f"unknown flags {unknown}; usage: plan_audit.py [sf_dir] "
            "[--wide N] [--snapshot]"
        )
    if snap:
        snapshot(list(argv) or list(SNAPSHOT_SF_DIRS))
        return 0
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod
    from setu_spark.plans.inspect import (
        corpus_exchange_widths,
        duplicated_python_udf_calls,
        exchange_widths,
        has_expand,
        shuffle_count,
        unbounded_cartesian_joins,
        unpartitioned_corpus_windows,
    )
    from setu_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    flagged = []
    rows = []
    for name, fn in sorted(entrymod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            widths = exchange_widths(df)
            # Flag on the widest CORPUS-VOLUME exchange (any shuffle
            # descending from a raw scan with no row-bounding node in
            # between, in ANY branch — round-7 ADVICE upgraded this
            # from widths[0]). Exchanges over already-aggregated rows
            # may be legitimately wide (q28's final 5-group HLL merge
            # is 1642 columns over ~160 rows — fine; the same width
            # over raw rows was the 50x scale-killer).
            cw = corpus_exchange_widths(df)
            w = max(cw) if cw else 0
            n = shuffle_count(df)
            ex = has_expand(df)
            # the other three registry gates, surfaced in the same
            # one-command audit (each is also a CI test in
            # tests/test_plan_widths.py)
            gates = []
            if unpartitioned_corpus_windows(df):
                gates.append("UNPART-WINDOW")
            if duplicated_python_udf_calls(df):
                gates.append("DUP-UDF")
            if unbounded_cartesian_joins(df):
                gates.append("CARTESIAN")
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {type(exc).__name__}: {exc}", flush=True)
            flagged.append(name)
            continue
        finally:
            spark.catalog.clearCache()
        mark = " <-- WIDE CORPUS EXCHANGE" if w > wide else ""
        if gates:
            mark += " <-- " + ",".join(gates)
        if w > wide or gates:
            flagged.append(name)
        rows.append((w, n, ex, name, mark, widths))
    for w, n, ex, name, mark, widths in sorted(rows, reverse=True):
        print(
            f"corpus_width={w:3d} all={widths} shuffles={n:2d} "
            f"expand={'Y' if ex else 'n'}  {name}{mark}"
        )
    print(f"\nAUDIT {len(rows)} queries, {len(flagged)} flagged (width > {wide} or gate hit)")
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
