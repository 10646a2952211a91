#!/usr/bin/env python3
"""Seeded benchmark for setu_spark, one workload per invocation.

    python3 perfbench/run.py --workload registry-small --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` (see gen.py), computes the DuckDB oracle answers once per seed
(cached under ``perfbench/.work``), builds the Spark session several
times to measure set-up, then runs the workload's mix in a fixed order,
one query at a time: the workload's untimed warm-up passes, then timed
passes until ``--seconds`` have elapsed and the workload's least number
of them is done. ``wall_s`` is the sum over the mix of each query's
median time across the timed passes. Every output, warm-up included, is
compared with its oracle outside the timed region.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
Spark's event log, job groups and timing wrappers and reports the
per-layer metrics. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A run record with box sizing, per-query times and the span dump is
written to ``perfbench/.work/records``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: session builds per run; setup_s is their median
SETUPS = 3
#: pipeline-write output root; emptied at the start of every run, so the
#: first pass writes fresh directories and later passes overwrite them
PIPELINE_OUT = os.path.join(WORK, "pipeline-out")

END_TO_END_UNITS = {
    "wall_s": "s",
    "input_rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _check_layout() -> None:
    for rel in ("__spark_entry__.py", "setu_spark/run.py",
                "tests/oracle_utils.py", "tools/oracle_sweep.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            _fail(f"{rel} not found under {ROOT}: run from a setu_spark "
                  "checkout")


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def _configure_env() -> dict:
    """Box sizing: all cores, a JVM heap well below physical memory,
    and every temp file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem = _mem_total_bytes()
    heap_gb = max(1, min(4, mem // (4 << 30)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return {"nproc": cpus, "mem_total_bytes": mem,
            "heap": f"{heap_gb}g", "tmp": tmp}


# ------------------------------------------------------------------ inputs
def _input_tag(wl, seed: int) -> str:
    """Names one generated input: workload, seed and a digest of the
    scale and the generator source, so a changed generator regenerates
    and never reuses stale data or oracle answers."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        digest = hashlib.sha256(fh.read() + repr(wl.scale).encode())
    return f"{wl.name}-{seed}-{digest.hexdigest()[:12]}"


def _inputs(wl, seed: int) -> tuple[str, dict[str, int], int]:
    """Generate (or reuse) the seed's tables; drop other seeds' data."""
    from gen import generate

    base = os.path.join(WORK, "data")
    path = os.path.join(base, _input_tag(wl, seed))
    done = os.path.join(path, "_ROWS.json")
    for old in glob.glob(os.path.join(base, f"{wl.name}-*")):
        if old != path:
            shutil.rmtree(old, ignore_errors=True)
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        rows = generate(path, seed, wl.scale)
        with open(done, "w") as fh:
            json.dump(rows, fh)
    with open(done) as fh:
        rows = json.load(fh)
    nbytes = sum(
        os.path.getsize(os.path.join(path, f"{t}.parquet")) for t in rows
    )
    return path, rows, nbytes


def _duck(sf_dir: str, tables):
    """DuckDB views over the generated tables that exist (the stock
    ``register_views`` expects all ten)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO %d" % len(os.sched_getaffinity(0)))
    for t in tables:
        src = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
        )
    return con


def _oracles(wl, seed: int, sf_dir: str, tables) -> dict:
    """DuckDB oracle answers for the mix, cached per (workload, seed,
    oracle SQL) so a rerun of a seed reads them back."""
    import pandas as pd

    from tools.oracle_sweep import memoized_oracles

    import __spark_entry__

    sqls = __spark_entry__.oracle_sql()
    cache = os.path.join(WORK, "oracles", _input_tag(wl, seed))
    os.makedirs(cache, exist_ok=True)
    out, todo = {}, []
    for name in wl.mix:
        digest = hashlib.sha256(sqls[name].encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{digest}.pkl")
        if os.path.exists(path):
            out[name] = pd.read_pickle(path)
        else:
            todo.append((name, path))
    if todo:
        con = _duck(sf_dir, tables)
        # offered every registered oracle, the sweep tool materializes a
        # shared fragment (MinHash signatures, CC closure) once even when
        # the mix holds one member of its family; without it a lone CC
        # oracle rebuilds the closure inline, several times slower
        memo = memoized_oracles(con, list(sqls), sqls)
        for name, path in todo:
            out[name] = con.execute(memo.get(name, sqls[name])).df()
            out[name].to_pickle(path)
        con.close()
    return out


# ----------------------------------------------------------------- session
def _session_conf(trace_dir: str | None, tmp: str) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # the heap starts at its maximum size, so peak RSS does not hang
        # on when the collector chose to grow it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace_dir:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + trace_dir
        # one plain JSON-lines file per application
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def _build_session(conf: dict[str, str]):
    """One set-up: get_spark, then one Arrow UDF and one parquet scan so
    the JVM paths and a Python worker are up before timing."""
    from pyspark.sql import functions as F

    from setu_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    ident = F.pandas_udf(lambda s: s, "long")
    spark.range(64).select(ident(F.col("id")).alias("id")).write.format(
        "noop").mode("overwrite").save()
    probe = os.path.join(WORK, "tmp", "warm.parquet")
    spark.range(16).write.mode("overwrite").parquet(probe)
    spark.read.parquet(probe).count()
    return spark, t1 - t0, time.perf_counter() - t1


def _setup(conf: dict[str, str]):
    starts, warms = [], []
    for i in range(SETUPS):
        spark, start, warm = _build_session(conf)
        starts.append(start)
        warms.append(warm)
        if i < SETUPS - 1:
            spark.stop()
    totals = [a + b for a, b in zip(starts, warms)]
    return spark, {
        "setup_s": statistics.median(totals),
        "session.start_s": statistics.median(starts),
        "session.warmup_s": statistics.median(warms),
        "setups": totals,
    }


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(st.split("/")[2]))
    out, todo = [], list(children.get(pid, []))
    while todo:
        out.append(todo.pop())
        todo.extend(children.get(out[-1], []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _shutdown(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    until it and every process under it (the Python workers) is gone."""
    import signal
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    procs = _descendants(os.getpid())
    gateway.shutdown()
    proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = SparkContext._jvm = None


def _sample_rss(rec: dict, jvm_pid: int | None) -> None:
    """Sample the JVM's peak RSS plus the current RSS of its descendants
    (the Python worker daemon and its workers) and keep the largest
    total in ``rec["peak_rss_mb"]``, with its parts."""
    if jvm_pid is None:
        return
    def status(pid: int, key: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    jvm = status(jvm_pid, "VmHWM:") / 1024.0
    workers = [status(pid, "VmRSS:") / 1024.0
               for pid in _descendants(jvm_pid)]
    total = jvm + sum(workers)
    if total > rec.get("peak_rss_mb", 0.0):
        rec["peak_rss_mb"] = total
        rec["peak_rss_parts"] = {"jvm_hwm_mb": jvm, "workers_mb": workers}


def _cpu_snapshot(jvm_pid: int | None) -> dict[str, float]:
    """Host CPU seconds by state (``/proc/stat``) and the CPU seconds of
    this process and the JVM, so a record shows whether a slow run
    worked more or waited more (e.g. on ``steal``: time a hypervisor
    ran other guests while this guest's vCPUs were ready to run)."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as fh:
        host = [int(x) / tick for x in fh.readline().split()[1:9]]
    out = dict(zip(("user", "nice", "system", "idle", "iowait", "irq",
                    "softirq", "steal"), host))
    me = os.times()
    out["driver_cpu"] = me.user + me.system
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            out["jvm_cpu"] = (int(f[11]) + int(f[12])) / tick
        except (OSError, IndexError, ValueError):
            pass
    return out


# ------------------------------------------------------------------- mixes
def _memo_entries() -> int:
    from setu_spark import caching
    from setu_spark.operators import dedup, similarity

    return sum(
        len(getattr(mod, attr, ()))
        for mod, attr in ((similarity, "_CODEBOOK_MEMO"),
                          (dedup, "_FUNNEL_MEMO"), (caching, "_LIVE"))
    )


def _reset_state(spark) -> None:
    """Release session state between queries so timings do not depend on
    what ran before; the memo clears are looked up, not assumed."""
    from setu_spark.operators import dedup, similarity

    spark.catalog.clearCache()
    for mod, fn in ((similarity, "clear_codebook_memo"),
                    (dedup, "clear_funnel_memo")):
        clear = getattr(mod, fn, None)
        if clear is not None:
            clear()


class _Phase:
    """Job group + span around one phase of one query (traced only)."""

    def __init__(self, spark, tracer, query: str, phase: str):
        self.sc, self.tracer = spark.sparkContext, tracer
        self.query, self.phase = query, phase

    def __enter__(self):
        if self.tracer is not None:
            self.sc.setJobGroup(self.query, self.phase)
            self.idx = self.tracer.open(self.phase)
        return self

    def __exit__(self, *exc):
        if self.tracer is not None:
            self.tracer.close(self.idx)
            self.sc.setJobGroup("untraced", "none")
        return False


def _query_pass(spark, wl, sf_dir, oracles, tracer, rec, jvm_pid):
    """One pass over the mix; returns ({query: timed seconds}, failures)
    with the queries that failed left out of the times."""
    from oracle_utils import compare_frames

    import __spark_entry__

    queries = __spark_entry__.queries()
    timed, failed, memo = {}, 0, 0
    for name in wl.mix:
        memo += _memo_entries()
        _reset_state(spark)
        row = {"query": name}
        try:
            t0 = time.perf_counter()
            with _Phase(spark, tracer, name, "construct"):
                df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            with _Phase(spark, tracer, name, "exec"):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as exc:  # a failing query is a failed execution
            row["error"] = repr(exc)[:500]
            failed += 1
            rec["queries"].append(row)
            continue
        timed[name] = t2 - t0
        row.update(construct_s=t1 - t0, exec_s=t2 - t1, rows=len(pdf))
        try:
            problems = compare_frames(pdf, oracles[name])
        except Exception as exc:  # an uncomparable frame is a mismatch
            problems = [f"compare failed: {exc!r}"]
        if problems:
            row["mismatch"] = problems[:3]
            failed += 1
        _sample_rss(rec, jvm_pid)
        rec["queries"].append(row)
    rec["memo_entries"] = rec.get("memo_entries", 0) + memo
    return timed, failed


def _dir_size(path: str) -> tuple[int, int]:
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(dirpath, f))
                nfiles += 1
    return nbytes, nfiles


def _check_pipeline(sf_dir: str, out: str) -> list[str]:
    """Replay q80 on the input and q81/q82 on the written ``cleaned``
    output, and compare with the pipeline's cleaned/survivors/lid."""
    from oracle_utils import compare_frames

    import __spark_entry__

    sqls = __spark_entry__.oracle_sql()
    con = _duck(sf_dir, ("documents",))
    part = os.path.join(out, "{}", "**", "*.parquet")
    got = {
        "q80_clean_pipeline": con.execute(
            "SELECT doc_id, kept_chunks, length(text) AS cleaned_chars "
            f"FROM read_parquet('{part.format('cleaned')}')").df(),
        "q81_flag_filter_survivors": con.execute(
            "SELECT doc_id, lines_count, char_count, "
            "round(mean_line_length, 6) AS mean_line_length, "
            "round(mean_line_chars, 6) AS mean_line_chars, "
            "flagged_words_count "
            f"FROM read_parquet('{part.format('survivors')}')").df(),
        "q82_lid_predictions": con.execute(
            "SELECT doc_id, lang, pred_lang, round(lid_prob, 6) AS lid_prob,"
            " doc_lang FROM read_parquet("
            f"'{part.format('lid')}', hive_partitioning = true)").df(),
    }
    want = {"q80_clean_pipeline": con.execute(
        sqls["q80_clean_pipeline"]).df()}
    con.close()
    cleaned = _duck(sf_dir, ())
    cleaned.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{part.format('cleaned')}')")
    for q in ("q81_flag_filter_survivors", "q82_lid_predictions"):
        want[q] = cleaned.execute(sqls[q]).df()
    cleaned.close()
    problems = []
    for q in got:
        problems += [f"{q}: {p}" for p in compare_frames(got[q], want[q])]
    return problems


def _pipeline_pass(spark, sf_dir, tracer, rec, jvm_pid):
    from setu_spark import run
    from workloads import PIPELINE_CONFIG

    out = PIPELINE_OUT
    cfg = os.path.join(WORK, "pipeline-config.json")

    with open(cfg, "w") as fh:
        json.dump(PIPELINE_CONFIG, fh)
    _reset_state(spark)
    row = {"query": "pipeline:all"}
    argv = ["all", "--input", os.path.join(sf_dir, "documents.parquet"),
            "--output", out, "--config", cfg]
    t0 = time.perf_counter()
    try:
        with _Phase(spark, tracer, "pipeline", "exec"):
            run.main(argv)
    except Exception as exc:
        row["error"] = repr(exc)[:500]
        rec["queries"].append(row)
        return {}, 1
    timed = time.perf_counter() - t0
    row["exec_s"] = timed
    nbytes, nfiles = _dir_size(out)
    rec["bytes_written"], rec["files_written"] = nbytes, nfiles
    try:
        problems = _check_pipeline(sf_dir, out)
    except Exception as exc:  # e.g. an output the stage did not write
        problems = [f"check failed: {exc!r}"]
    if problems:
        row["mismatch"] = problems[:3]
    _sample_rss(rec, jvm_pid)
    rec["queries"].append(row)
    return {row["query"]: timed}, int(bool(problems))


def _passes(spark, wl, sf_dir, oracles, seconds, least, tracer, rec,
            jvm_pid):
    """Run whole passes until ``seconds`` have elapsed and at least
    ``least`` passes are done; returns the per-pass {query: seconds}
    times and the failure and attempt counts."""
    walls, failed, attempted = [], 0, 0
    start = time.perf_counter()
    while len(walls) < least or time.perf_counter() - start < seconds:
        if wl.mix:
            wall, bad = _query_pass(spark, wl, sf_dir, oracles, tracer, rec,
                                    jvm_pid)
            attempted += len(wl.mix)
        else:
            wall, bad = _pipeline_pass(spark, sf_dir, tracer, rec, jvm_pid)
            attempted += 1
        walls.append(wall)
        failed += bad
    return walls, failed, attempted


def _median_wall(passes: list[dict[str, float]]) -> float:
    """Sum over the queries of each one's median time across passes."""
    names = {q for p in passes for q in p}
    return sum(
        statistics.median(p[q] for p in passes if q in p) for q in names
    )


# ------------------------------------------------------------------- main
def _box(env: dict, spark) -> dict:
    import pyspark

    return {
        **env,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg": os.getloadavg(),
    }


def _input_rows(wl, rows: dict[str, int]) -> int:
    if not wl.mix:
        return rows["documents"]
    return sum(sum(rows[t] for t in reads) for reads in wl.reads)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _check_layout()
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    from workloads import EXCLUDED, WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    env = _configure_env()
    os.chdir(WORK)  # Spark's derby/warehouse leftovers land here

    shutil.rmtree(PIPELINE_OUT, ignore_errors=True)
    sf_dir, rows, in_bytes = _inputs(wl, args.seed)
    tables = list(rows)
    oracles = _oracles(wl, args.seed, sf_dir, tables) if wl.mix else {}

    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(WORK, "eventlog", f"{wl.name}-{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    spark, setup = _setup(_session_conf(trace_dir, env["tmp"]))
    jvm_pid = _jvm_pid(spark)
    rec = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
           "box": _box(env, spark), "input_rows": rows,
           "input_bytes": in_bytes, "setup": setup, "queries": [],
           "excluded_queries": EXCLUDED if wl.mix else {}}

    try:
        if args.trace:
            metrics, failed, attempted = _traced(
                spark, wl, sf_dir, oracles, rec, jvm_pid, trace_dir, setup)
        else:
            warm, failed, attempted = _passes(
                spark, wl, sf_dir, oracles, 0, wl.warmup, None, rec,
                jvm_pid)
            cpu0 = _cpu_snapshot(jvm_pid)
            walls, bad, tried = _passes(
                spark, wl, sf_dir, oracles, args.seconds, wl.passes, None,
                rec, jvm_pid)
            cpu1 = _cpu_snapshot(jvm_pid)
            rec["timed_cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
            failed, attempted = failed + bad, attempted + tried
            wall = _median_wall(walls)
            rec["pass_walls"] = {
                "warmup": [sum(p.values()) for p in warm],
                "timed": [sum(p.values()) for p in walls],
            }
            metrics = {
                "wall_s": wall,
                "input_rows_per_s": (_input_rows(wl, rows) / wall
                                     if wall else 0.0),
                "setup_s": setup["setup_s"],
                "peak_rss_mb": rec.get("peak_rss_mb", 0.0),
            }
    finally:
        _shutdown(spark)

    rec["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records",
                           f"{wl.name}-{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    for q in rec["queries"]:
        if "error" in q or "mismatch" in q:
            print(f"FAILED {q}", file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "overhead", "write_amp")):
        return "ratio"
    return "count"


PER_LAYER = (
    "construct.s", "construct.jobs", "construct.actions",
    "construct.action_s",
    "sources.load_table.calls", "sources.load_table.s",
    "sources.load_table.jobs",
    "sources.write_parquet.calls", "sources.write_parquet.s",
    "sources.write_partitioned.calls", "sources.write_partitioned.s",
    "planning.s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.sched_delay_s",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
    "python.boot_s", "python.run_s", "python.bytes_sent",
    "python.bytes_returned", "python.stage_task_s",
    "dedup.cc.calls", "dedup.cc.s",
    "similarity.codebook.calls", "similarity.codebook.s",
    "caching.scoped_cache.calls", "caching.memo_entries",
    "stages.clean.s", "stages.analyse.s", "stages.lid.s",
    "stages.flag_filter.s", "stages.dedup.s", "stages.govern.s",
    "stages.bytes_written", "stages.files_written", "stages.write_amp",
    "session.start_s", "session.warmup_s",
    "trace.overhead", "failed_frac",
)


def _traced(spark, wl, sf_dir, oracles, rec, jvm_pid, trace_dir, setup):
    """Warm-up passes, then untraced pass, traced pass, untraced pass:
    the per-layer numbers come from the traced pass; the overhead is its
    wall over the mean of the two untraced ones around it."""
    from setu_spark import run
    from tracer import Tracer, layer_metrics, parse_event_log

    sc = spark.sparkContext
    app_id = sc.applicationId
    sc.setJobGroup("untraced", "none")
    _, f0, a0 = _passes(spark, wl, sf_dir, oracles, 0, wl.warmup, None, rec,
                        jvm_pid)
    plain1, f1, a1 = _passes(spark, wl, sf_dir, oracles, 0, 1, None, rec,
                             jvm_pid)
    tracer = Tracer(sc, run_id=f"{wl.name}-{rec['seed']}")
    tracer.install()
    stages = dict(run.STAGES)
    run.STAGES.update({k: tracer.wrap(v, f"stages.{k}")
                       for k, v in stages.items()})
    rec_memo = rec.get("memo_entries", 0)
    try:
        traced, f2, a2 = _passes(spark, wl, sf_dir, oracles, 0, 1, tracer,
                                 rec, jvm_pid)
    finally:
        tracer.uninstall()
        run.STAGES.update(stages)
    memo = rec.get("memo_entries", 0) - rec_memo
    plain2, f3, a3 = _passes(spark, wl, sf_dir, oracles, 0, 1, None, rec,
                             jvm_pid)
    spark.stop()  # flushes and closes the event log
    tracer.dump(os.path.join(trace_dir, "spans.json"))
    (log,) = glob.glob(os.path.join(trace_dir, f"{app_id}*"))
    with open(log) as fh:
        layers = layer_metrics(parse_event_log(fh))
    metrics = {k: 0.0 for k in PER_LAYER}
    metrics.update(layers)
    metrics.update(tracer.totals())
    metrics["caching.memo_entries"] = memo
    metrics["session.start_s"] = setup["session.start_s"]
    metrics["session.warmup_s"] = setup["session.warmup_s"]
    if not wl.mix:
        written = rec.get("bytes_written", 0)
        metrics["stages.bytes_written"] = written
        metrics["stages.files_written"] = rec.get("files_written", 0)
        metrics["stages.write_amp"] = written / rec["input_bytes"]
    plain = [sum(p.values()) for p in plain1 + plain2]
    traced_wall = sum(traced[0].values())
    metrics["trace.overhead"] = traced_wall / statistics.mean(plain)
    failed, attempted = f0 + f1 + f2 + f3, a0 + a1 + a2 + a3
    metrics["failed_frac"] = failed / attempted
    rec["pass_walls"] = {"untraced": plain, "traced": [traced_wall]}
    return {k: metrics[k] for k in PER_LAYER}, failed, attempted


if __name__ == "__main__":
    sys.exit(main())
