#!/usr/bin/env python
"""Window-rotation helper: per-query last-green round from the
CORRECTNESS_r*.json history vs the registered catalog.

The driver checks roughly the first 50 entries of ``queries()`` each
round (__spark_entry__._FRONT pins the order), so stale families must be
rotated back in deliberately. This prints the staleness table the
rotation decision needs:

  never    — registered but no green driver row in any round (highest
             priority: new queries, or ones that always missed the window)
  r<N>     — last green (hash_match, or rows-only with a row count) in
             round N; older rounds sort first

Usage: python tools/staleness.py          (staleness table)
       python tools/staleness.py --plan   (two-round rotation schedule,
                                           committed as ROTATION.md)
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

WINDOW = 50  # entries of queries() the driver checks per round

#: the round whose window _FRONT currently pins (bump at each rotation)
THIS_ROUND = 15

#: queries materially CHANGED in the current round that are NOT in the
#: current window — they take the next round's first free slots so a
#: behavior change never waits a full cycle for its driver hash row.
#: Round 15: every query whose plan the LSH bucket grouping moved (one
#: grouped shuffle of band rows replaces the bucket self-join), whether
#: in its final plan (q52, q58, q108, q133, q151) or in the funnel that
#: connected components checkpoints while the query is built (q56, q125,
#: q144, q149, q150), plus q93, whose band explode now carries the NULL
#: guard.
CHANGED: tuple[str, ...] = (
    "q52_minhash_lsh_pairs",
    "q56_dedup_components",
    "q58_lsh_then_exact_jaccard",
    "q93_cross_corpus_neardup",
    "q108_editdist_verify",
    "q125_dedup_impact_audit",
    "q133_lsh_precision_audit",
    "q144_leak_free_split",
    "q149_component_source_purity",
    "q150_quality_survivor_delta",
    "q151_joint_dedup_agreement",
)


def last_green(root: str = ".") -> dict[str, int]:
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(path.split("_r")[1].split(".")[0])
        for name, row in json.load(open(path)).items():
            green = row.get("hash_match") or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


def registry_and_front() -> tuple[list[str], list[str]]:
    # registry via ONE subprocess so this tool never holds a
    # SparkSession; a failed import must abort loudly — an empty name
    # list would silently hide the 'never' bucket, the one output the
    # rotation decision depends on.
    proc = subprocess.run(
        [sys.executable, "-c",
         "import __spark_entry__ as e;"
         "[print('Q', n) for n in e.queries()];"
         "[print('F', n) for n in e._FRONT]"],
        capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": "."},
    )
    if proc.returncode != 0 or not proc.stdout.strip():
        sys.exit(f"registry import failed (run from the repo root):\n"
                 f"{proc.stderr}")
    names = [l[2:] for l in proc.stdout.splitlines() if l.startswith("Q ")]
    front = [l[2:] for l in proc.stdout.splitlines() if l.startswith("F ")]
    return names, front


def rotation_plan(
    names: list[str], front: list[str], last: dict[str, int],
    this_round: int = THIS_ROUND,
) -> dict[int, list[str]]:
    """Deterministic 3-phase rotation: with ~147 registered queries and
    a 50-slot driver window, a strict 3-round cycle is the only shape
    that keeps max staleness ≤3 rounds.  Phase boundaries for rounds
    this_round+1 and +2, assuming the CURRENT window (_FRONT) goes
    green this round:

      next round  = every query not in the current window whose last
                    green is ≤ this_round-2 (they hit the 3-round
                    staleness ceiling next round — they go FIRST: a
                    ceiling-bound query bumped by a fronted one would
                    bust the ≤3 invariant), then the CHANGED queries
                    (fresher — they have slack until round+2), topped
                    up to 50 in registration order from the remainder.
      round after = everything else plus any changed overflow, ≤50 —
                    the spare slots are the changed-query budget for
                    new work.
    """
    in_front = set(front)
    changed = [
        q for q in CHANGED if q in names and q not in in_front
    ]
    overdue = sorted(
        q for q in names
        if q not in in_front and last.get(q, 0) <= this_round - 2
    )
    assert len(overdue) <= WINDOW, (
        f"{len(overdue)} ceiling-bound queries exceed the {WINDOW}-slot "
        "window — the 3-round cycle itself is busted"
    )
    room = WINDOW - len(overdue)
    fronted = [q for q in changed if q not in overdue][:room]
    nxt = overdue + fronted
    rest = [q for q in names if q not in in_front and q not in set(nxt)]
    # registration order = family order; keep it for the tail block
    while len(nxt) < WINDOW and rest:
        nxt.append(rest.pop(0))
    later = rest
    assert len(nxt) <= WINDOW and len(later) <= WINDOW, (
        len(nxt), len(later),
    )
    return {this_round + 1: nxt, this_round + 2: later}


def simulate_staleness(
    names: list[str], front: list[str], last: dict[str, int],
    plan: dict[int, list[str]], this_round: int = THIS_ROUND,
) -> int:
    """Max rounds-without-a-green-row any query reaches under the plan
    (window goes green each round; cycle repeats after the plan)."""
    # never-driver-checked queries carry no meaningful "last green"
    # round — they entered the registry late; the schedule checks them
    # in its first window, so seed them as fresh-minus-one rather than
    # letting the 0 sentinel inflate the steady-state metric
    green = {q: last.get(q) or this_round - 1 for q in names}
    schedule = {this_round: list(front)[:WINDOW], **plan}
    horizon = this_round + 2 + 3  # one full extra cycle
    worst = 0
    order = [schedule[r] for r in sorted(schedule)]
    for rnd in range(this_round, horizon + 1):
        # staleness ENTERING the round (before its window goes green):
        # an r04-green query checked in r7 counts as 3 rounds stale —
        # the ceiling the rotation exists to enforce
        for q in names:
            worst = max(worst, rnd - green.get(q, 0))
        win = order[(rnd - this_round) % len(order)]
        for q in win:
            green[q] = rnd
    return worst


def main() -> None:
    last = last_green()
    names, front_list = registry_and_front()
    front = set(front_list)
    if "--plan" in sys.argv:
        plan = rotation_plan(names, front_list, last)
        print("# ROTATION — committed driver-window schedule")
        print(f"#\n# {len(names)} registered queries, {WINDOW}-slot driver")
        print("# window, 3-round cycle → max staleness ≤3 rounds")
        print("# (asserted by tests/test_rotation_plan.py).\n")
        print(f"round {THIS_ROUND} (current _FRONT, {len(front_list)}):")
        for q in front_list:
            print(f"  {q}")
        for rnd in sorted(plan):
            print(f"\nround {rnd} ({len(plan[rnd])}):")
            for q in plan[rnd]:
                print(f"  {q}")
        worst = simulate_staleness(names, front_list, last, plan)
        print(f"\nsimulated max staleness under schedule: {worst} rounds")
        return
    if "--front" in sys.argv:
        # Print the planned round's window as a paste-ready Python tuple
        # for __spark_entry__._FRONT — the swap at each round boundary is
        # mechanical, so it should be a copy, not a retyping.
        i = sys.argv.index("--front")
        if i + 1 >= len(sys.argv):
            sys.exit("usage: staleness.py --front ROUND")
        rnd = int(sys.argv[i + 1])
        plan = rotation_plan(names, front_list, last)
        if rnd not in plan:
            sys.exit(f"no planned window for round {rnd}; have {sorted(plan)}")
        print(f"# _FRONT for round {rnd} ({len(plan[rnd])} queries):")
        print("_FRONT = (")
        for q in plan[rnd]:
            print(f'    "{q}",')
        print(")")
        return
    by_round: dict[int, list[str]] = {}
    for n in names:
        by_round.setdefault(last.get(n, 0), []).append(n)
    for rnd in sorted(by_round):
        label = "never" if rnd == 0 else f"r{rnd:02d}"
        qs = sorted(by_round[rnd])
        inw = sum(1 for q in qs if q in front)
        print(f"last-green {label} ({len(qs)} queries, {inw} in current"
              f" window): {' '.join(qs)}")


if __name__ == "__main__":
    main()
