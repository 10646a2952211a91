"""Physical-plan inspection helpers.

The engine's scale properties are plan properties: filters pushed into
scans, dim joins broadcast, aggregation partially applied map-side, no
shuffle where none is needed. These helpers read `explain` output so tests
(and operators during development) can ASSERT those properties instead of
hoping — the `.explain`-and-iterate loop from SURVEY §4, made executable.
"""

from __future__ import annotations

import io
import itertools
import re
from contextlib import redirect_stdout
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (AQE may later
    coalesce partitions but not remove an exchange)."""
    return len(re.findall(r"\bExchange\b(?! SinglePartition)", plan_string(df, "simple")))


def broadcast_join_count(df: DataFrame) -> int:
    return plan_string(df, "simple").count("BroadcastHashJoin")


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists of every scan, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        out.extend(
            s.strip() for s in m.group(1).split(",") if s.strip()
        )
    return out


def scan_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan — what actually gets read off disk
    (column pruning check)."""
    return re.findall(r"ReadSchema: (\S+)", plan_string(df))


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when the plan contains a map-side partial aggregation."""
    return "partial_" in plan_string(df)


def exchange_widths(df: DataFrame) -> list[int]:
    """Column arity of every shuffle exchange's input — the width audit.

    A plan can look cheap at test scale while shipping a pathologically
    WIDE exchange that grows linearly with rows (the q28 lesson: mixing
    countDistinct with approx_count_distinct carried the HLL++ buffer
    as ~200 long columns per row through the first shuffle — 3s at
    sf0.1, ~195s at 60M rows). Formatted explain lists each node's
    ``Input [N]``; this returns N for every Exchange node so audits can
    flag outliers mechanically."""
    plan = plan_string(df, "formatted")
    widths: list[int] = []
    # formatted sections: "(k) Exchange[ ...]\nInput [N]: [...]"
    for m in re.finditer(
        r"\(\d+\) Exchange[^\n]*\nInput \[(\d+)\]", plan
    ):
        widths.append(int(m.group(1)))
    return widths


#: node names that BOUND the row volume flowing up through them — below
#: one of these, corpus-size rows have already been reduced to
#: group-count / top-k rows, so a wide exchange above is not the q28
#: class. Partial (map-side) aggregates count: they emit one row per
#: (group × partition).
_ROW_BOUNDING = re.compile(
    r"HashAggregate|ObjectHashAggregate|SortAggregate|"
    r"TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit"
)

_TREE_NODE = re.compile(r"^([ :+\-*]*)\*?\s*([A-Za-z][\w .]*?)\s*\((\d+)\)\s*$")


def corpus_exchange_widths(df: DataFrame) -> list[int]:
    """Widths of every shuffle exchange whose input DESCENDS FROM A RAW
    SCAN with no row-bounding node (aggregate / limit) in between — the
    exchanges whose row count scales with the corpus, in ANY branch of
    the plan (round-7 ADVICE: gating only the first detail-section
    exchange missed a q28-class buffer riding the SECOND branch of a
    join).

    Parses the formatted-explain tree: indentation gives parent/child,
    detail sections give each exchange's ``Input [N]`` arity.
    ``BroadcastExchange`` / ``ReusedExchange`` are not shuffle volume
    and are skipped."""
    plan = plan_string(df, "formatted")
    # node id → Input arity, from the detail sections
    widths = {
        int(m.group(1)): int(m.group(2))
        for m in re.finditer(
            r"\((\d+)\) Exchange[^\n]*\nInput \[(\d+)\]", plan
        )
    }
    # parse the tree section: (depth, name, id) per line
    nodes: list[tuple[int, str, int]] = []
    for line in plan.splitlines():
        if line.startswith("=="):
            if nodes:  # tree section ended (subqueries repeat trees)
                break
            continue
        m = _TREE_NODE.match(line)
        if not m:
            if nodes and not line.strip():
                break
            continue
        prefix, name, nid = m.groups()
        nodes.append((len(prefix) // 3, name.strip(), int(nid)))
    out: list[int] = []
    for i, (depth, name, nid) in enumerate(nodes):
        if nid not in widths or not re.match(r"Exchange\b", name):
            continue
        # walk the subtree (strictly deeper lines until depth returns);
        # corpus-fed ⇔ some scan reachable without a row-bounding node.
        # A bounding node shields its OWN subtree: fast-forward past
        # every line deeper than it.
        corpus_fed = False
        j = i + 1
        while j < len(nodes):
            d2, n2, _ = nodes[j]
            if d2 <= depth:
                break
            if _ROW_BOUNDING.search(n2):
                j += 1
                while j < len(nodes) and nodes[j][0] > d2:
                    j += 1
                continue
            if n2.startswith("Scan") or "FileScan" in n2:
                corpus_fed = True
            j += 1
        if corpus_fed:
            out.append(widths[nid])
    return out


#: node names that bound rows HARD — a constant number of rows flows up
#: through them regardless of corpus size, so anything above is safe.
_LIMIT_BOUNDING = re.compile(
    r"TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit"
)

#: aggregates reduce corpus rows to group rows — that shields a raw
#: scan (per-doc metrics grouped into buckets are bounded-domain), but
#: NOT a Generate/explode below: a vocabulary/shingle aggregate still
#: scales with the corpus (Heaps' law), which is exactly the q121/q132
#: class this gate exists to catch.
_AGG_BOUNDING = re.compile(
    r"HashAggregate|ObjectHashAggregate|SortAggregate"
)


def _parse_tree(plan: str) -> list[tuple[int, str, int]]:
    """(depth, name, id) per node of the formatted-explain tree section
    (first tree only — subqueries repeat trees)."""
    nodes: list[tuple[int, str, int]] = []
    for line in plan.splitlines():
        if line.startswith("=="):
            if nodes:
                break
            continue
        m = _TREE_NODE.match(line)
        if not m:
            if nodes and not line.strip():
                break
            continue
        prefix, name, nid = m.groups()
        nodes.append((len(prefix) // 3, name.strip(), int(nid)))
    return nodes


def _window_is_unpartitioned(plan: str, nid: int) -> bool:
    """True when node ``nid`` is a Window whose partition spec is empty.

    The detail section prints ``Arguments: [exprs], [partitionSpec],
    [orderSpec]`` with EMPTY groups omitted — an unpartitioned ordered
    window shows exactly two top-level groups with sort directions in
    the last; a partitioned one shows a direction-free partition group
    before the order spec."""
    m = re.search(
        rf"\({nid}\) Window[^\n]*\n(?:[^\n]+\n)*?Arguments: (.*)", plan
    )
    if not m:
        return False
    args = m.group(1)
    # split the Arguments line into top-level [...] groups
    groups, depth, start = [], 0, None
    for i, ch in enumerate(args):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(args[start:i])
                start = None
    if len(groups) < 2:
        return True  # exprs only — no partition, no order
    if len(groups) == 2:
        # [exprs], [orderSpec] = unpartitioned; [exprs], [partSpec]
        # (unordered) = partitioned. Order specs carry directions.
        return bool(re.search(r"\b(ASC|DESC)\b", groups[1]))
    return False


def unpartitioned_corpus_windows(df: DataFrame) -> list[int]:
    """Node ids of every Window with an EMPTY partition spec whose
    input row count scales with the corpus — the one plan shape that
    cannot survive 100 TB (``WindowExec`` moves ALL input rows to a
    single partition; an unpartitioned window is not a cluster sort,
    it is one task).

    A window is corpus-fed unless every path to a scan is shielded:
    limit-class nodes (``GlobalLimit``/``TakeOrderedAndProject``/…)
    shield their whole subtree (post-``limit(k)`` rank windows — the
    q130 shape — are constant-row); aggregates shield RAW SCANS only
    (a per-doc-metric bucket aggregate — the q113 shape — has a
    bounded group domain) but NOT a ``Generate``/explode beneath them
    (token/shingle vocabularies grow with the corpus — the q121/q132
    class this gate was built from, round-9)."""
    plan = plan_string(df, "formatted")
    nodes = _parse_tree(plan)
    out: list[int] = []
    for i, (depth, name, nid) in enumerate(nodes):
        if not re.fullmatch(r"Window", name):
            continue
        if not _window_is_unpartitioned(plan, nid):
            continue
        if _subtree_corpus_fed(nodes, i + 1, depth, plan):
            out.append(nid)
    return out


def _agg_is_scalar(plan: str, nid: int) -> bool:
    """True when aggregate node ``nid`` has an EMPTY grouping key list
    (``Keys [0]: []`` in its detail section) — a global aggregate emits
    exactly one row (one per partition for the partial), so it bounds
    rows as hard as a limit and shields everything beneath it,
    including a Generate/explode (the q114 vocab-size pattern:
    ``explode → countDistinct`` is one row no matter how large the
    vocabulary grows)."""
    # the Keys scan is anchored to node nid's OWN detail section: each
    # non-header non-blank line may be consumed, but a blank line or the
    # next "(N) " header ends the section. An unanchored non-greedy scan
    # could latch onto a LATER node's Keys line if this aggregate's
    # section ever lacked one (format drift across Spark versions) and
    # misclassify a keyed aggregate as scalar — silently shielding a
    # corpus-fed subtree from the window/cartesian gates (round-10
    # ADVICE).
    m = re.search(
        rf"\({nid}\) (?:ObjectHashAggregate|HashAggregate|SortAggregate)"
        rf"[^\n]*\n(?:(?!\(\d+\) )[^\n]+\n)*?Keys(?: \[(\d+)\])?: \[", plan
    )
    # empty key lists print as "Keys: []" (no arity); keyed ones as
    # "Keys [N]: [...]"
    return bool(m) and m.group(1) in (None, "0")


def _subtree_corpus_fed(
    nodes: list[tuple[int, str, int]], start: int, depth: int,
    plan: str = "",
) -> bool:
    """True when the subtree of nodes[start:] (every line strictly
    deeper than ``depth``) reaches a raw scan or Generate/explode with
    no shielding node on the path: limit-class nodes shield their whole
    subtree (constant rows flow up); aggregates shield raw scans (a
    bounded-domain group-by — the q113 shape) but NOT a Generate below
    them (token/shingle vocabularies grow with the corpus — the
    q121/q132 class)."""
    corpus_fed = False
    j = start
    while j < len(nodes) and nodes[j][0] > depth:
        d2, n2, nid2 = nodes[j]
        if _LIMIT_BOUNDING.search(n2) or (
            _AGG_BOUNDING.search(n2) and _agg_is_scalar(plan, nid2)
        ):
            j += 1
            while j < len(nodes) and nodes[j][0] > d2:
                j += 1
            continue
        if _AGG_BOUNDING.search(n2):
            # walk the aggregate's subtree: scans are shielded,
            # Generates (and nothing else) still poison — unless a
            # nested limit shields them
            k = j + 1
            while k < len(nodes) and nodes[k][0] > d2:
                d3, n3, _ = nodes[k]
                if _LIMIT_BOUNDING.search(n3):
                    k += 1
                    while k < len(nodes) and nodes[k][0] > d3:
                        k += 1
                    continue
                if n3.startswith("Generate"):
                    corpus_fed = True
                k += 1
            j = k
            continue
        if n2.startswith("Generate"):
            corpus_fed = True
        elif n2.startswith("Scan") or "FileScan" in n2:
            # a driver-local relation (createDataFrame band/dim table)
            # is bounded by construction — only file-backed scans grow
            # with the corpus
            if "ExistingRDD" not in n2 and "OneRowRelation" not in n2:
                corpus_fed = True
        j += 1
    return corpus_fed


def unbounded_cartesian_joins(df: DataFrame) -> list[int]:
    """Node ids of every ``CartesianProduct`` / ``BroadcastNestedLoopJoin``
    whose inputs BOTH scale with the corpus — the quadratic-blowup shape
    that no cluster size survives (|corpus|² candidate rows).

    One corpus-fed side is fine and common: a range join against a
    broadcast band table, or a ``crossJoin(broadcast(scalar-aggregate))``
    attaching a corpus total, is linear in the corpus. Sides are judged
    with the same shielding walk as the window gate: limits shield their
    subtree; aggregates shield raw scans but not a Generate below them.

    Until round 10 this class was audited by hand (round-9 VERDICT's
    plan audit: "no cartesian products" on the top-five); this makes it
    mechanical and registry-wide like the width / window / dup-UDF
    gates."""
    plan = plan_string(df, "formatted")
    nodes = _parse_tree(plan)
    out: list[int] = []
    for i, (depth, name, nid) in enumerate(nodes):
        if not re.match(
            r"CartesianProduct\b|BroadcastNestedLoopJoin\b", name
        ):
            continue
        # direct children = subtree nodes exactly one level deeper;
        # each child's walk is confined to ITS OWN subtree slice so a
        # corpus-fed sibling can't leak into a bounded side's verdict
        fed_sides = 0
        j = i + 1
        while j < len(nodes) and nodes[j][0] > depth:
            if nodes[j][0] == depth + 1:
                end = j + 1
                while end < len(nodes) and nodes[end][0] > depth + 1:
                    end += 1
                if _subtree_corpus_fed(nodes[j:end], 0, depth, plan):
                    fed_sides += 1
                j = end
                continue
            j += 1
        if fed_sides >= 2:
            out.append(nid)
    return out


_UDF_CALL = re.compile(
    r"(?:ArrowEvalPython|BatchEvalPython) \[(.*?)\], \["
)

_TREE_INDENT = re.compile(r"^[ :+\-]*")


def _strip_inmemory_subtrees(plan: str) -> tuple[str, list[str]]:
    """Split a simple-mode plan into (text with every InMemoryRelation
    subtree removed, list of those subtree texts).  A cached stage's
    subtree prints once PER CONSUMER but executes once, so duplicate
    counting must see each distinct cached subtree exactly once.

    Recursive (round-14): a cached stage built ON TOP of other cached
    stages (q151's pair-union cache over the signature and band caches)
    prints the INNER InMemoryRelation subtrees inside the outer one —
    and within a single cached-subtree print Spark does NOT re-alias
    attribute ids, so an inner cache consumed twice (a band self-join's
    two sides) would read as a same-ids duplicate to the per-fragment
    counter. Each nested cached subtree is therefore split out into its
    own fragment, exactly like the top level."""
    lines = plan.splitlines()
    kept: list[str] = []
    cached: list[str] = []
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            depth = len(_TREE_INDENT.match(line).group(0))
            sub = [line]
            i += 1
            while (
                i < len(lines)
                and lines[i].strip()
                and len(_TREE_INDENT.match(lines[i]).group(0)) > depth
            ):
                sub.append(lines[i])
                i += 1
            body = "\n".join(sub[1:])
            if "InMemoryRelation" in body:
                inner_kept, inner_cached = _strip_inmemory_subtrees(body)
                cached.append(
                    sub[0] + ("\n" + inner_kept if inner_kept else "")
                )
                cached.extend(inner_cached)
            else:
                cached.append("\n".join(sub))
        else:
            kept.append(line)
            i += 1
    return "\n".join(kept), cached


def duplicated_python_udf_calls(df: DataFrame) -> list[str]:
    """Exact-duplicate Python UDF calls (same function, same argument
    expression ids) evaluated in MULTIPLE ArrowEvalPython /
    BatchEvalPython nodes — the round-9 q42/q48 find: filtering on a
    pandas-UDF output field makes Catalyst push the filter below the
    projection and re-evaluate the whole kernel (2× the Arrow cost,
    silently).

    Cached plans are NOT skipped wholesale (the round-9 gate's blind
    spot — a genuinely duplicated kernel in a query that also uses
    scoped_cache passed undetected): duplicates are counted WITHIN each
    plan fragment separately — the outer plan, and each InMemoryRelation
    subtree print. A cached stage's subtree prints once per consumer
    but executes once, and the reprints are NOT text-identical (Spark
    re-aliases attribute ids per consumer), so cross-fragment repeats
    are benign by construction; a kernel evaluated twice inside ONE
    fragment (two ArrowEvalPython nodes around a pushed filter — the
    q42 shape) is a genuine 2× Arrow cost and flags, cache or not."""
    outer, cached = _strip_inmemory_subtrees(plan_string(df, "simple"))
    out: set[str] = set()
    for fragment in [outer, *cached]:
        calls = _UDF_CALL.findall(fragment)
        out.update(c for c in calls if calls.count(c) > 1)
    return sorted(out)


_JOB_GROUPS = itertools.count()


def construct_jobs(
    spark: SparkSession, build: Callable[[], DataFrame]
) -> tuple[DataFrame, int]:
    """``build()`` run under a job group of its own: returns the frame it
    builds and the number of Spark jobs that building started (schema
    inference, eager probes, checkpoints). The listener bus drains
    before the count, so a job whose start event is still queued
    counts."""
    sc = spark.sparkContext
    group = f"construct-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "construct")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def plan_fingerprint(df: DataFrame) -> dict:
    """Positive plan-shape snapshot for the committed fingerprint
    ledger (round-11 VERDICT task 4).

    The four registry gates assert the ABSENCE of anti-patterns; a
    refactor or Spark upgrade that silently drops a broadcast hint to
    a sort-merge join, or adds a shuffle, passes every gate and shows
    up only as a bench mystery. This pins the positive shape as a
    small dict of stable scalars — node counts and sorted widths, no
    expression ids or node ids (those re-alias per session) — so
    ``tools/plan_audit.py --snapshot`` can commit a per-query baseline
    and CI can diff it (tests/test_plan_fingerprints.py). A diff is
    not necessarily a bug: re-snapshot after REVIEWING the new plan.
    """
    return {
        "shuffles": shuffle_count(df),
        "broadcast_joins": broadcast_join_count(df),
        "corpus_widths": sorted(corpus_exchange_widths(df)),
        "expand": has_expand(df),
        "unpart_windows": len(unpartitioned_corpus_windows(df)),
        "dup_udfs": len(duplicated_python_udf_calls(df)),
        "cartesian": len(unbounded_cartesian_joins(df)),
    }


def has_expand(df: DataFrame) -> bool:
    """True when the plan contains an Expand node (multi-distinct
    aggregates, rollup/cube/grouping-sets) — each Expand multiplies the
    pre-shuffle row count by its projection count, so its presence on a
    hot path deserves a width/row-volume look."""
    return bool(re.search(r"\(\d+\) Expand\b|\bExpand\b", plan_string(df, "simple")))
