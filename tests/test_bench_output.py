"""The driver records BENCH_r{N}.json by tail-capturing bench.py's
stdout (the capture is EXACTLY 2000 chars in every committed BENCH_r*
artifact) and parsing the FINAL line.  Rounds 5 and 6 both produced
``parsed: null`` because the final line carried an unbounded per-query
map that outgrew the capture window; rounds 7-13 carried no map at
all, which left the driver's per_query/scaling comparison empty.
These tests pin the round-14 contract: fixed scalar keys stay ≤200
bytes, the per-query map rides the final line in the COMPACT encoding
(unique qNN keys, 0.01-rounded, cost-descending, cheapest entries
dropped into "q_omitted" on overflow), and the whole line survives a
2 KB tail truncation no matter how many queries the registry grows to.
"""

from __future__ import annotations

import json

import bench


def _payload(n_queries: int) -> dict:
    # Worst realistic shape: every registered query present with a
    # long name and a loadavg entry, plus a couple of errors.
    qnames = [f"q{i:03d}_some_rather_long_query_name_{i}" for i in range(n_queries)]
    return {
        "metric": "full_registry_total_wall",
        "value": 12345.678,
        "unit": "sec",
        "queries": {q: 1.234 for q in qnames},
        "sf": "/root/testdata/sf0.1",
        "loadavg": {
            "start": 1.23,
            "end": 4.56,
            "per_query": {q: 2.34 for q in qnames},
        },
        "errors": {qnames[0]: "RuntimeError('boom')" * 10},
    }


def _stdout_for(payload: dict) -> str:
    # Mirror exactly what main() prints at the end of a run.
    return (
        json.dumps(bench.detail_line(payload))
        + "\n"
        + bench.dump_line(bench.final_line(payload))
        + "\n"
    )


def test_final_line_is_bounded_for_any_registry_size():
    for n in (1, 50, 150, 500, 2000):
        line = bench.dump_line(bench.final_line(_payload(n)))
        assert len(line) <= bench.FINAL_LINE_BUDGET, (n, len(line))


def test_final_line_fixed_keys_stay_tiny_without_queries():
    p = _payload(300)
    p["queries"] = {}
    compact = bench.final_line(p)
    assert set(compact) == {
        "metric", "value", "unit", "n_queries", "sf", "load",
    }
    assert len(json.dumps(compact)) <= 200


def test_final_line_carries_compact_per_query_map():
    # round-13 VERDICT task 2: the driver parses ONLY the final line —
    # per-query seconds must ride it again, in the compact encoding.
    p = _payload(3)
    p["queries"] = {
        "q001_some_rather_long_query_name_1": 1.234,
        "q002_some_rather_long_query_name_2": 0.456,
        "q003_some_rather_long_query_name_3": 7.891,
    }
    compact = bench.final_line(p)
    # unique qNN prefixes become the keys, 0.01-rounded, cost-descending
    assert compact["queries"] == {"q003": 7.89, "q001": 1.23, "q002": 0.46}
    assert list(compact["queries"]) == ["q003", "q001", "q002"]
    assert "q_omitted" not in compact


def test_final_line_full_registry_size_map_fits_2kb_window():
    # the REAL shape the driver sees: every registered query on the
    # line at once. Build it from the live registry names so a registry
    # growth that breaks the window fails here first. At typical
    # per-query costs (the full sf0.1 registry sums ~100-150s, median
    # well under 1s) the whole map must ride with nothing dropped.
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    p = _payload(1)
    p["queries"] = {n: 0.61 + (i % 9) for i, n in enumerate(names)}
    compact = bench.final_line(p)
    assert len(compact["queries"]) == len(names), "nothing may be dropped"
    assert "q_omitted" not in compact
    line = bench.dump_line(compact)
    assert len(line) <= bench.FINAL_LINE_BUDGET
    # qNN prefixes are unique across the registry -> all keys compact
    assert all("_" not in k for k in compact["queries"])
    # a uniformly INFLATED sweep (every query at 3-digit seconds) may
    # shed cheap entries but must keep the expensive head and the line
    p["queries"] = {n: 123.45 for n in names}
    compact = bench.final_line(p)
    assert len(bench.dump_line(compact)) <= bench.FINAL_LINE_BUDGET
    assert compact.get("q_omitted", 0) + len(compact["queries"]) == len(
        names
    )


def test_final_line_prefix_collisions_keep_full_names():
    p = _payload(1)
    p["queries"] = {"q7_alpha": 1.0, "q7_beta": 2.0, "q8_gamma": 3.0}
    compact = bench.final_line(p)
    assert compact["queries"] == {
        "q8": 3.0, "q7_beta": 2.0, "q7_alpha": 1.0,
    }


def test_final_line_overflow_drops_cheapest_into_q_omitted():
    p = _payload(1)
    p["queries"] = {
        f"q{i:04d}_some_rather_long_query_name_{i}": 2000.0 - i
        for i in range(2000)
    }
    compact = bench.final_line(p)
    line = bench.dump_line(compact)
    assert len(line) <= bench.FINAL_LINE_BUDGET
    assert compact["q_omitted"] == 2000 - len(compact["queries"])
    assert compact["q_omitted"] > 0
    # the EXPENSIVE head survives; the dropped tail is the cheap end
    kept_vals = list(compact["queries"].values())
    assert kept_vals[0] == 2000.0
    assert min(kept_vals) > 2000.0 - len(p["queries"])


def test_final_line_skips_non_numeric_query_values():
    # --ab-ref arms can record None for a query that errored in one arm
    p = _payload(1)
    p["queries"] = {"q001_a": 1.0, "q002_b": None}
    compact = bench.final_line(p)
    assert compact["queries"] == {"q001": 1.0}


def test_final_line_era_ratio_is_a_bounded_scalar():
    # round-10 VERDICT task 3: the driver keeps ONLY the final line, so
    # the committed era ratio must ride it as one small scalar — from a
    # composite's own machine_era block or a plain sweep's era_ref.
    p = _payload(150)
    p["era_ref"] = {"machine_era_ratio": 0.987, "source": "bench_composite_r10.json"}
    compact = bench.final_line(p)
    assert compact["era"] == 0.987
    assert len(bench.dump_line(compact)) <= bench.FINAL_LINE_BUDGET
    del p["era_ref"]
    p["machine_era"] = {"machine_era_ratio": 1.041234, "ref": "abc"}
    assert bench.final_line(p)["era"] == 1.041
    del p["machine_era"]
    assert "era" not in bench.final_line(p)
    # a malformed block must not crash the final line at sweep end
    p["era_ref"] = {"machine_era_ratio": "not-a-number"}
    assert "era" not in bench.final_line(p)


def test_final_line_canary_probes_are_bounded():
    # round-11 VERDICT task 2: the plain driver sweep self-qualifies via
    # one canary timing before and one after the sweep, riding the final
    # line as a bounded "pre/post" string — a reader of BENCH_rN alone
    # can reject a co-tenant-polluted record.
    p = _payload(150)
    p["canary_pre"], p["canary_post"] = 0.312, 0.297
    compact = bench.final_line(p)
    assert compact["canary"] == "0.31/0.30"
    assert len(bench.dump_line(compact)) <= bench.FINAL_LINE_BUDGET
    # worst realistic shape: every optional scalar present at once, with
    # absurd probe values — the size invariant must hold over FIXED keys
    p["loadavg"] = {"start": 99999.9, "end": 12345.5, "per_query": {}}
    p["era_ref"] = {"machine_era_ratio": 1.041}
    p["canary_pre"], p["canary_post"] = 99999.123, 99999.456
    line = bench.final_line(p)
    # round-12 ADVICE: each probe is bounded INDIVIDUALLY (min 9999) —
    # truncating the joined string garbled large values into a
    # misleading prefix ("99999.12/99" read as post=99)
    assert line["canary"] == "9999.00/9999.00"
    assert len(bench.dump_line(line)) <= bench.FINAL_LINE_BUDGET
    # an honest large-but-not-absurd pair renders exactly
    p["canary_pre"], p["canary_post"] = 123.456, 7.891
    assert bench.final_line(p)["canary"] == "123.46/7.89"
    # absent probes → no key; a half-present pair must not stamp either
    del p["canary_pre"], p["canary_post"]
    assert "canary" not in bench.final_line(p)
    p["canary_pre"] = 0.3
    assert "canary" not in bench.final_line(p)
    # detail line carries the raw scalars when present
    p["canary_post"] = 0.4
    detail = bench.detail_line(p)
    assert detail["canary_pre"] == 0.3 and detail["canary_post"] == 0.4


def test_canary_query_exempt_from_its_own_flagging():
    # round-11 ADVICE: the canary's own preceding sample is the record's
    # first and reads structurally high — flagging it starved the
    # canary query of clean composite samples all round. Other queries
    # past the gate still flag.
    samples = {"q01_pricing_summary": 0.9, "q30": 0.9, "q31": 0.3}
    assert bench.canary_flags(samples, med=0.3, gate=1.2) == ["q30"]
    # no median (empty record) → nothing flags, no crash
    assert bench.canary_flags(samples, med=None, gate=1.2) == []


def test_composite_warns_on_mixed_gated_and_ungated_records(
    tmp_path, capsys
):
    """Round-11 ADVICE: an ungated record carries no canary median, so
    whole-record inflation qualification cannot skip it — mixing it
    with gated records must WARN (its samples still ride the mins)."""
    import json as _json

    gated = {
        "metric": "headline_query_total_wall",
        "value": 3.0,
        "unit": "sec",
        "queries": {"q1": 1.0},
        "sf": "/root/testdata/sf0.1",
        "canary": {"name": "q01", "gate": 1.2, "median": 0.30,
                   "samples": {"q1": 0.3}},
        "canary_flagged": [],
    }
    ungated = {
        "metric": "headline_query_total_wall",
        "value": 2.0,
        "unit": "sec",
        "queries": {"q1": 0.9},
        "sf": "/root/testdata/sf0.1",
    }
    p1, p2 = tmp_path / "gated.json", tmp_path / "ungated.json"
    p1.write_text(_json.dumps(gated))
    p2.write_text(_json.dumps(ungated))
    comp = bench.composite([str(p1), str(p2)])
    err = capsys.readouterr().err
    assert "WARNING" in err and "ungated.json" in err
    assert comp["queries"] == {"q1": 0.9}  # warned, not dropped
    # uniform gated-only and ungated-only mixes stay silent
    bench.composite([str(p1)])
    bench.composite([str(p2)])
    assert "WARNING" not in capsys.readouterr().err


def test_latest_committed_era_picks_newest_composite(tmp_path):
    import json as _json

    (tmp_path / "bench_composite_r09.json").write_text(
        _json.dumps({"machine_era": {"machine_era_ratio": 0.91}})
    )
    (tmp_path / "bench_composite_r10.json").write_text(
        _json.dumps({"machine_era": {"machine_era_ratio": 0.99}})
    )
    # newest without an era block is skipped, not an error
    (tmp_path / "bench_composite_r11.json").write_text(
        _json.dumps({"queries": {}})
    )
    era = bench.latest_committed_era(str(tmp_path))
    assert era == {
        "machine_era_ratio": 0.99,
        "source": "bench_composite_r10.json",
    }
    assert bench.latest_committed_era(str(tmp_path / "nowhere")) is None
    # round 12: superseded records moved under bench_records/ — a newer
    # composite there must win over an older root-level one
    sub = tmp_path / "bench_records"
    sub.mkdir()
    (sub / "bench_composite_r12.json").write_text(
        _json.dumps({"machine_era": {"machine_era_ratio": 1.05}})
    )
    assert bench.latest_committed_era(str(tmp_path)) == {
        "machine_era_ratio": 1.05,
        "source": "bench_composite_r12.json",
    }


def test_final_line_load_context_is_bounded():
    # round-9 VERDICT task 7: the final line self-documents ambient load
    # as a "start/end" scalar string — bounded even for absurd loadavgs,
    # and absent (not crashing) when the payload carries no loadavg block.
    p = _payload(10)
    assert bench.final_line(p)["load"] == "1.2/4.6"
    p["loadavg"] = {"start": 99999.987, "end": 12345.5, "per_query": {}}
    line = bench.final_line(p)
    assert len(line["load"]) <= 16
    assert len(bench.dump_line(line)) <= bench.FINAL_LINE_BUDGET
    del p["loadavg"]
    assert "load" not in bench.final_line(p)


def test_final_line_parses_after_2kb_tail_truncation():
    # The driver's capture keeps only the LAST 2000 chars of stdout
    # (every committed BENCH_r* artifact) — that window must still
    # yield a parseable final line with a non-null headline value.
    import __spark_entry__ as entrymod

    for n_queries in (150, 500):
        p = _payload(n_queries)
        out = _stdout_for(p)
        tail = out[-2000:]
        last = tail.rstrip("\n").splitlines()[-1]
        parsed = json.loads(last)
        assert parsed["value"] == 12345.678
        assert parsed["metric"] == "full_registry_total_wall"
        assert parsed["n_queries"] == n_queries
        assert parsed["queries"]
    # and with the LIVE registry's names — the driver's actual shape
    p = _payload(1)
    p["queries"] = {n: 1.23 for n in entrymod.queries()}
    tail = _stdout_for(p)[-2000:]
    parsed = json.loads(tail.rstrip("\n").splitlines()[-1])
    assert len(parsed["queries"]) == len(entrymod.queries())


def test_final_line_survives_pathological_sf_path():
    # SPARK_GRAFT_SF_DIR is env-controlled and unbounded; a long path must
    # not trip the size invariant at the END of an hour-long sweep (the
    # exact parsed-null failure mode the final-line contract exists to
    # prevent). Only the basename rides the line, clamped to 32 chars.
    p = _payload(150)
    p["sf"] = (
        "/mnt/shared-data/benchmarks/spark-graft/testdata/regenerated/"
        "2026-08-15/stress-100x/sf0.1-with-rowgroups-and-a-very-long-name/"
    )
    compact = bench.final_line(p)
    assert len(bench.dump_line(compact)) <= bench.FINAL_LINE_BUDGET
    assert compact["sf"] == "sf0.1-with-rowgroups-and-a-very-"
    # the common case stays human-readable
    assert bench.final_line(_payload(3))["sf"] == "sf0.1"


def test_detail_line_carries_the_bulk():
    detail = bench.detail_line(_payload(120))
    assert len(detail["queries"]) == 120
    assert "per_query" in detail["loadavg_detail"]
    assert "errors" in detail


def test_composite_merges_per_query_mins(tmp_path):
    """--composite: per-query min across records, only queries present
    in EVERY record, same payload keys as a clean record (so final_line
    and detail_line both accept it)."""
    import json as _json

    r1 = {
        "metric": "headline_query_total_wall",
        "value": 3.0,
        "unit": "sec",
        "queries": {"q1": 1.0, "q2": 2.0, "q_only_in_r1": 9.0},
        "sf": "/root/testdata/sf0.1",
    }
    r2 = {
        "metric": "headline_query_total_wall",
        "value": 2.0,
        "unit": "sec",
        "queries": {"q1": 0.5, "q2": 2.5},
        "sf": "/root/testdata/sf0.1",
    }
    p1, p2 = tmp_path / "a.json", tmp_path / "b.json"
    p1.write_text(_json.dumps(r1))
    p2.write_text(_json.dumps(r2))
    comp = bench.composite([str(p1), str(p2)])
    assert comp["queries"] == {"q1": 0.5, "q2": 2.0}
    assert comp["value"] == 2.5
    assert comp["metric"] == "headline_query_total_min_composite"
    assert bench.final_line(comp)["n_queries"] == 2
    assert bench.detail_line(comp)["sources"] == ["a.json", "b.json"]


def test_composite_prefers_load_unflagged_samples(tmp_path):
    """load_flagged self-qualification (committed records from the
    retired host-loadavg gate carry it): a record that flagged a query
    as load-polluted is excluded from that query's min when a clean
    sample exists elsewhere; when EVERY record flags it, the min over
    all samples is kept (flag, not data loss)."""
    import json as _json

    r1 = {
        "metric": "headline_query_total_wall",
        "value": 3.0,
        "unit": "sec",
        "queries": {"q1": 0.4, "q2": 2.0, "q3": 5.0},
        "sf": "/root/testdata/sf0.1",
        "load_flagged": ["q1", "q3"],
    }
    r2 = {
        "metric": "headline_query_total_wall",
        "value": 2.0,
        "unit": "sec",
        "queries": {"q1": 0.9, "q2": 2.5, "q3": 6.0},
        "sf": "/root/testdata/sf0.1",
        "load_flagged": ["q3"],
    }
    p1, p2 = tmp_path / "a.json", tmp_path / "b.json"
    p1.write_text(_json.dumps(r1))
    p2.write_text(_json.dumps(r2))
    comp = bench.composite([str(p1), str(p2)])
    # q1: r1's 0.4 was flagged -> r2's clean 0.9 wins despite being
    # slower; q2: normal min; q3: flagged everywhere -> min kept
    assert comp["queries"] == {"q1": 0.9, "q2": 2.0, "q3": 5.0}


def test_composite_skips_hand_flagged_records(tmp_path):
    """A record carrying a top-level "flagged": true (hand-marked, e.g.
    uniform co-tenant inflation that stayed under the loadavg gate like
    bench_clean_r09_2.json) never rides a composite even when passed on
    the command line; its basename is absent from "sources"."""
    import json as _json

    good = {
        "metric": "headline_query_total_wall",
        "value": 3.0,
        "unit": "sec",
        "queries": {"q1": 1.0, "q2": 2.0},
        "sf": "/root/testdata/sf0.1",
    }
    bad = {
        "metric": "headline_query_total_wall",
        "flagged": True,
        "flag_reason": "uniform co-tenant inflation",
        "value": 0.2,
        "unit": "sec",
        "queries": {"q1": 0.1, "q2": 0.1},
        "sf": "/root/testdata/sf0.1",
    }
    p1, p2 = tmp_path / "good.json", tmp_path / "bad.json"
    p1.write_text(_json.dumps(good))
    p2.write_text(_json.dumps(bad))
    comp = bench.composite([str(p1), str(p2)])
    # the flagged record's (artificially fast) samples must NOT win
    assert comp["queries"] == {"q1": 1.0, "q2": 2.0}
    assert bench.detail_line(comp)["sources"] == ["good.json"]


def test_composite_all_records_flagged_is_an_error(tmp_path):
    import json as _json

    bad = {
        "metric": "headline_query_total_wall",
        "flagged": True,
        "value": 0.2,
        "unit": "sec",
        "queries": {"q1": 0.1},
        "sf": "/root/testdata/sf0.1",
    }
    p = tmp_path / "bad.json"
    p.write_text(_json.dumps(bad))
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        bench.composite([str(p)])


def test_composite_skips_canary_inflated_records(tmp_path):
    """Canary-drift qualification (round-10 VERDICT task 2): a record
    whose canary median reads > gate× the best record's canary median
    was taken under uniform co-tenant inflation — the failure mode the
    loadavg gate provably misses — and is skipped whole. The best
    record itself can never be skipped."""
    import json as _json

    fast = {
        "metric": "headline_query_total_wall",
        "value": 3.0,
        "unit": "sec",
        "queries": {"q1": 1.0, "q2": 2.0},
        "sf": "/root/testdata/sf0.1",
        "canary": {"name": "q01", "gate": 1.2, "median": 0.30,
                   "samples": {"q1": 0.3, "q2": 0.3}},
        "canary_flagged": [],
    }
    slow = {  # uniformly inflated: canary median 0.55 > 1.2 * 0.30
        "metric": "headline_query_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1": 0.4, "q2": 0.5},
        "sf": "/root/testdata/sf0.1",
        "canary": {"name": "q01", "gate": 1.2, "median": 0.55,
                   "samples": {"q1": 0.55, "q2": 0.55}},
        "canary_flagged": [],
    }
    p1, p2 = tmp_path / "fast.json", tmp_path / "slow.json"
    p1.write_text(_json.dumps(fast))
    p2.write_text(_json.dumps(slow))
    comp = bench.composite([str(p1), str(p2)])
    # the inflated record's samples must NOT ride the min even though
    # they happen to be numerically smaller here
    assert comp["queries"] == {"q1": 1.0, "q2": 2.0}
    assert bench.detail_line(comp)["sources"] == ["fast.json"]
    # a single canary-carrying record is its own best — never skipped
    comp_solo = bench.composite([str(p2)])
    assert comp_solo["queries"] == {"q1": 0.4, "q2": 0.5}


def test_composite_prefers_canary_unflagged_samples(tmp_path):
    """Per-query canary flags behave exactly like load_flagged: a
    burst-polluted sample loses to a clean one from another record."""
    import json as _json

    r1 = {
        "metric": "headline_query_total_wall",
        "value": 3.0,
        "unit": "sec",
        "queries": {"q1": 0.4, "q2": 2.0},
        "sf": "/root/testdata/sf0.1",
        "canary": {"name": "q01", "gate": 1.2, "median": 0.30,
                   "samples": {"q1": 0.9, "q2": 0.3}},
        "canary_flagged": ["q1"],
    }
    r2 = {
        "metric": "headline_query_total_wall",
        "value": 2.0,
        "unit": "sec",
        "queries": {"q1": 0.9, "q2": 2.5},
        "sf": "/root/testdata/sf0.1",
        "canary": {"name": "q01", "gate": 1.2, "median": 0.31,
                   "samples": {"q1": 0.31, "q2": 0.31}},
        "canary_flagged": [],
    }
    p1, p2 = tmp_path / "a.json", tmp_path / "b.json"
    p1.write_text(_json.dumps(r1))
    p2.write_text(_json.dumps(r2))
    comp = bench.composite([str(p1), str(p2)])
    assert comp["queries"] == {"q1": 0.9, "q2": 2.0}


def test_composite_tracks_skips_by_full_path(tmp_path):
    """Two records in DIFFERENT directories sharing a basename: flagging
    one must not drop the clean one from "sources" (round-10 ADVICE —
    skip tracking was basename-keyed)."""
    import json as _json

    d1, d2 = tmp_path / "d1", tmp_path / "d2"
    d1.mkdir(); d2.mkdir()
    clean = {
        "metric": "headline_query_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1": 1.0},
        "sf": "/root/testdata/sf0.1",
    }
    flagged = dict(clean, flagged=True, queries={"q1": 0.1})
    (d1 / "rec.json").write_text(_json.dumps(clean))
    (d2 / "rec.json").write_text(_json.dumps(flagged))
    comp = bench.composite([str(d1 / "rec.json"), str(d2 / "rec.json")])
    assert comp["queries"] == {"q1": 1.0}
    assert bench.detail_line(comp)["sources"] == ["rec.json"]


def test_composite_warns_when_every_sample_is_disqualified(tmp_path, capsys):
    """Round-10 ADVICE: the all-samples-stale fallback must be VISIBLE —
    the comment's own rule ('must not ride the min') is otherwise
    violated silently."""
    import json as _json

    rec = {
        "metric": "headline_query_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q_stale_everywhere": 1.0, "q_ok": 0.5},
        "sf": "/root/testdata/sf0.1",
        "stale_queries": ["q_stale_everywhere"],
    }
    p = tmp_path / "only.json"
    p.write_text(_json.dumps(rec))
    comp = bench.composite([str(p)])
    assert comp["queries"]["q_stale_everywhere"] == 1.0  # kept, not lost
    err = capsys.readouterr().err
    assert "q_stale_everywhere" in err and "WARNING" in err
    assert "q_ok" not in err


def test_composite_excludes_stale_query_samples(tmp_path):
    """"stale_queries": samples taken before a mid-round code change to
    that query measure a tree that no longer exists — excluded from the
    min when any fresh record carries the query; kept (min over all)
    when NO fresh sample exists."""
    import json as _json

    old = {
        "metric": "headline_query_total_wall",
        "value": 3.0,
        "unit": "sec",
        "queries": {"q_changed": 0.5, "q_same": 1.0, "q_only_old": 2.0},
        "sf": "/root/testdata/sf0.1",
        "stale_queries": ["q_changed", "q_only_old"],
    }
    new = {
        "metric": "headline_query_total_wall",
        "value": 2.0,
        "unit": "sec",
        "queries": {"q_changed": 0.9, "q_same": 1.2, "q_only_old": 2.5},
        "sf": "/root/testdata/sf0.1",
    }
    p1, p2 = tmp_path / "old.json", tmp_path / "new.json"
    p1.write_text(_json.dumps(old))
    p2.write_text(_json.dumps(new))
    comp = bench.composite([str(p1), str(p2)])
    # q_changed: old 0.5 is stale -> fresh 0.9 wins despite being
    # slower; q_same: normal min; q_only_old: fresh sample exists in
    # new.json -> 2.5
    assert comp["queries"] == {
        "q_changed": 0.9,
        "q_same": 1.0,
        "q_only_old": 2.5,
    }


def test_parse_args_fails_loudly_on_misuse():
    """Every misuse exits through argparse instead of being silently
    ignored: an operator who typed a gate, audit or era flag believes it
    ran. The retired same-tree A/B, host-loadavg gate and shared-funnel
    modes are unknown flags now, and no prefix of --ab-ref selects it."""
    import pytest as _pytest

    bad = [
        ["--audit-against", "prior.json"],
        ["--era-ab", "ab.json", "--era-baseline", "prior.json"],
        ["--era-baseline", "prior.json"],
        ["--composite", "a.json", "--era-ab", "ab.json"],
        ["--composite", "a.json", "--audit-against", "p.json", "x"],
        ["--composite", "a.json", "--audit-against", "p.json", "1.3", "2"],
        ["--canary-gate", "abc"],
        ["--canary-gate", "1.0"],
        ["--canary-gate", "0.5"],
        ["--ab-ref", "head", "q01_pricing_summary"],
        ["--ab-ref", "HEAD", "q01_pricing_summary,3"],
        ["--ab-ref", "main", "3"],
        ["--ab-ref", "main", "q01", "--composite", "a.json"],
        ["--ab", "q01_pricing_summary,q03_shipping_priority"],
        ["--loadavg-gate"],
        ["--loadavg-gate", "8"],
        # split so the retired mode's name survives only in history
        ["--funnel-" "shared"],
    ]
    for argv in bad:
        with _pytest.raises(SystemExit) as exc:
            bench.parse_args(argv)
        assert exc.value.code == 2, argv


def test_parse_args_accepts_the_supported_modes():
    a = bench.parse_args([])
    assert not a.full and a.only is None and a.canary_gate is None
    assert a.composite is None and a.ab_ref is None
    a = bench.parse_args(
        ["--full", "--only", "q01_x, q03_y,", "--out", "r.json"]
    )
    assert a.full and a.only == ["q01_x", "q03_y"] and a.out == "r.json"
    assert bench.parse_args(["--canary-gate"]).canary_gate == (
        bench.CANARY_GATE_DEFAULT
    )
    assert bench.parse_args(["--canary-gate", "1.5"]).canary_gate == 1.5
    assert bench.parse_args(["--ab-ref", "abc123", "q01,q03,6"]).ab_ref == (
        "abc123", ["q01", "q03"], 6
    )
    assert bench.parse_args(["--ab-ref", "abc123", "q01"]).ab_ref == (
        "abc123", ["q01"], 3
    )
    a = bench.parse_args(
        ["--composite", "a.json", "b.json", "--audit-against", "p.json",
         "--era-ab", "ab.json", "--era-baseline", "prior.json"]
    )
    assert a.composite == ["a.json", "b.json"]
    assert a.audit_against == ("p.json", 1.2)
    assert (a.era_ab, a.era_baseline) == ("ab.json", "prior.json")
    a = bench.parse_args(
        ["--composite", "a.json", "--audit-against", "p.json", "1.5"]
    )
    assert a.audit_against == ("p.json", 1.5)
