"""Records of a bench.py run are read by tail-capturing its stdout
(the capture is EXACTLY 2000 chars) and parsing the FINAL line. An
unbounded per-query map on that line outgrows the capture window and
the record parses as null; no map at all leaves per-query comparisons
empty. These tests pin the contract: fixed scalar keys stay ≤200
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
    # the record reader parses ONLY the final line — per-query seconds
    # must ride it, in the compact encoding.
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


def test_final_line_load_context_is_bounded():
    # the final line self-documents ambient load
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


def test_parse_args_fails_loudly_on_misuse():
    """Every misuse exits through argparse instead of being silently
    ignored. --full, --only and --ab-ref each pick the query set, so
    they exclude each other. Retired modes are unknown flags now, and
    no prefix of --ab-ref selects it."""
    import pytest as _pytest

    bad = [
        ["--full", "--only", "q01_pricing_summary"],
        ["--full", "--ab-ref", "main", "q01_pricing_summary"],
        ["--only", "q01_pricing_summary", "--ab-ref", "main", "q01"],
        ["--ab-ref", "head", "q01_pricing_summary"],
        ["--ab-ref", "HEAD", "q01_pricing_summary,3"],
        ["--ab-ref", "main", "3"],
        ["--canary-gate"],
        ["--composite", "a.json"],
        ["--era-ab", "ab.json"],
        ["--era-baseline", "prior.json"],
        ["--audit-against", "prior.json"],
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
    assert not a.full and a.only is None and a.ab_ref is None
    assert a.out is None
    a = bench.parse_args(["--full", "--out", "r.json"])
    assert a.full and a.only is None and a.out == "r.json"
    a = bench.parse_args(["--only", "q01_x, q03_y,", "--out", "r.json"])
    assert not a.full and a.only == ["q01_x", "q03_y"] and a.out == "r.json"
    assert bench.parse_args(["--ab-ref", "abc123", "q01,q03,6"]).ab_ref == (
        "abc123", ["q01", "q03"], 6
    )
    assert bench.parse_args(["--ab-ref", "abc123", "q01"]).ab_ref == (
        "abc123", ["q01"], 3
    )


def test_unknown_only_name_fails_before_the_session_starts(monkeypatch):
    import pytest as _pytest

    import setu_spark.session

    def _no_session(*args, **kwargs):
        raise AssertionError("--only names must be checked before a session")

    monkeypatch.setattr(setu_spark.session, "get_spark", _no_session)
    with _pytest.raises(SystemExit) as exc:
        bench.main(["--only", "q_nope"])
    assert "q_nope" in str(exc.value.code)


def test_sweep_runs_warmup_once_and_prints_contract_keys(
    spark, monkeypatch, tmp_path, capsys
):
    """One in-process sweep on the test session: the warm-up query runs
    exactly once, the detail line precedes the final line, and the final
    line carries only the contract keys."""
    import setu_spark.session
    from setu_spark.registry import QUERIES
    from tests.conftest import SF_SMALL

    calls = []
    warmup = QUERIES["q01_pricing_summary"]

    def _counting(spark_, sf_dir):
        calls.append(sf_dir)
        return warmup(spark_, sf_dir)

    monkeypatch.setitem(QUERIES, "q01_pricing_summary", _counting)
    monkeypatch.setattr(setu_spark.session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMALL)
    monkeypatch.chdir(tmp_path)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")

    bench.main(["--only", "q30_doc_word_stats"])

    assert len(calls) == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    detail, final = [
        json.loads(line) for line in capsys.readouterr().out.splitlines()[-2:]
    ]
    assert set(detail["queries"]) == {"q30_doc_word_stats"}
    assert set(final) <= {
        "metric", "value", "unit", "n_queries", "sf", "load", "queries",
        "q_omitted",
    }
    assert final["metric"] == "headline_query_total_wall"
    assert final["n_queries"] == 1 and final["sf"] == "sf0.001"
    assert (tmp_path / "bench_partial.json").exists()
