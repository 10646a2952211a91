"""Tracing for the benchmark's traced run.

Everything here observes the program from outside: timing wrappers are
installed around public functions in every ``setu_spark`` module
namespace that holds them (a ``from ...io import load_table`` binds a
second name that a wrapper on ``setu_spark.sources.io`` alone would
miss), Spark jobs are tagged through job groups and local properties,
and Spark's own event log is parsed after the session stops.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: (module, function, span name) wrapped in the traced run.
WRAPPED = (
    ("setu_spark.sources.io", "load_table", "sources.load_table"),
    ("setu_spark.sources.io", "write_parquet", "sources.write_parquet"),
    ("setu_spark.sources.io", "write_partitioned",
     "sources.write_partitioned"),
    ("setu_spark.operators.dedup", "connected_components", "dedup.cc"),
    ("setu_spark.operators.similarity", "train_codebook",
     "similarity.codebook"),
    ("setu_spark.caching", "scoped_cache", "caching.scoped_cache"),
)

#: DataFrame methods that run a Spark action.
ACTIONS = ("count", "collect", "first", "head", "take", "toPandas")

#: Local property naming the innermost open span; Spark copies local
#: properties into every job's start event, so jobs attribute to spans.
SPAN_PROP = "perfbench.span"

#: Spark 4.1 SQL metric names on ArrowEvalPython / MapInPandas nodes.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_RUN = "time to run Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""


@dataclass
class Tracer:
    """In-memory spans plus the wrappers that record them."""

    sc: object
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)

    # ------------------------------------------------------------ spans
    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               run_id=self.run_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.sc.setLocalProperty(SPAN_PROP, f"{idx}:{name}")
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()
        top = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty(
            SPAN_PROP, f"{top}:{self.spans[top].name}" if top is not None
            else None
        )

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            idx = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        traced.__wrapped__ = fn
        return traced

    # ---------------------------------------------------------- install
    def install(self) -> None:
        """Wrap every WRAPPED function under each name it is bound to in
        a loaded ``setu_spark`` module, and the DataFrame action methods
        (their spans only count inside a construct span)."""
        import importlib

        try:  # Spark 4 sessions hand out the classic subclass
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        for mod_name, fn_name, span in WRAPPED:
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self.wrap(original, span)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("setu_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is original:
                        self._undo.append((mod, attr, val))
                        setattr(mod, attr, wrapper)
        for action in ACTIONS:
            original = getattr(DataFrame, action)
            self._undo.append((DataFrame, action, original))
            setattr(DataFrame, action, self.wrap(original, f"action.{action}"))

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._undo):
            setattr(owner, attr, val)
        self._undo.clear()

    # ----------------------------------------------------------- output
    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover
        (children of one parent never overlap: one calling thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        rows = [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, "self_s": st}
            for s, st in zip(self.spans, self.self_times())
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)

    def totals(self) -> dict[str, float]:
        """Per-layer call counts and inclusive seconds. DataFrame actions
        count only inside a construct span."""
        phase_of = self.phase_of
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s.name.startswith("action."):
                # nested actions (first calls head calls take) count once
                nested = s.parent is not None and self.spans[
                    s.parent].name.startswith("action.")
                if phase_of(i) == "construct" and not nested:
                    out["construct.actions"] += 1
                    out["construct.action_s"] += s.end - s.start
                continue
            if s.name in ("construct", "exec"):
                out[f"{s.name}.s"] += s.end - s.start
                continue
            out[f"{s.name}.calls"] += 1
            out[f"{s.name}.s"] += s.end - s.start
        return out

    def phase_of(self, i: int | None) -> str | None:
        while i is not None:
            if self.spans[i].name in ("construct", "exec"):
                return self.spans[i].name
            i = self.spans[i].parent
        return None


# ------------------------------------------------------------ event log
def parse_event_log(lines) -> dict:
    """Fold Spark event-log JSON lines into per-job records.

    Returns ``{"jobs": {job_id: {...}}, "sql_start": {exec_id: ms}}``
    where each job carries its group, description (phase), span
    property, SQL execution id, submit time and the task totals
    of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_python: set[int] = set()
    sql_start: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "phase": props.get("spark.job.description"),
                "span": props.get(SPAN_PROP),
                "sql_id": props.get("spark.sql.execution.id"),
                "submit_ms": ev.get("Submission Time", 0),
                "stages": list(ev.get("Stage IDs", [])),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            t = stage_tasks[sid]
            t["tasks"] += 1
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            run_ms = m.get("Executor Run Time", 0)
            # the Spark UI's per-task scheduler delay
            t["sched_delay_s"] += max(0, dur - run_ms
                                      - m.get("Executor Deserialize Time", 0)
                                      - m.get("Result Serialization Time", 0)
                                      - info.get("Getting Result Time", 0)) / 1e3
            t["run_s"] += run_ms / 1e3
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            t["spill"] += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if name in (PY_SENT, PY_RETURNED, PY_BOOT, PY_RUN):
                    stage_python.add(sid)
                    t[name] += float(upd or 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_start[ev["executionId"]] = ev["time"]
    for jid, job in jobs.items():
        tot: dict[str, float] = defaultdict(float)
        for sid in job["stages"]:
            if stage_job.get(sid) != jid or sid not in stage_tasks:
                continue  # skipped stage, or counted under an earlier job
            tot["stages"] += 1
            for k, v in stage_tasks[sid].items():
                tot[k] += v
            if sid in stage_python:
                tot["python_stage_task_s"] += stage_tasks[sid]["run_s"]
        job["totals"] = dict(tot)
    return {"jobs": jobs, "sql_start": sql_start}


def layer_metrics(parsed: dict) -> dict[str, float]:
    """Per-layer job, task, shuffle and Python-worker totals."""
    out: dict[str, float] = defaultdict(float)
    first_job: dict[str, int] = {}
    for job in parsed["jobs"].values():
        phase = job["phase"]
        span = (job["span"] or ":").split(":", 1)[1]
        if phase == "construct":
            out["construct.jobs"] += 1
            if span == "sources.load_table":
                out["sources.load_table.jobs"] += 1
        if job["sql_id"] is not None:
            sid = job["sql_id"]
            first_job[sid] = min(first_job.get(sid, job["submit_ms"]),
                                 job["submit_ms"])
        if phase != "exec":
            continue
        tot = job["totals"]
        out["exec.jobs"] += 1
        out["exec.stages"] += tot.get("stages", 0)
        out["exec.tasks"] += tot.get("tasks", 0)
        out["exec.task_run_s"] += tot.get("run_s", 0)
        out["exec.task_cpu_s"] += tot.get("cpu_s", 0)
        out["exec.gc_s"] += tot.get("gc_s", 0)
        out["exec.sched_delay_s"] += tot.get("sched_delay_s", 0)
        out["shuffle.read_bytes"] += tot.get("shuffle_read", 0)
        out["shuffle.write_bytes"] += tot.get("shuffle_write", 0)
        out["spill.bytes"] += tot.get("spill", 0)
        # Python timing metrics are millisecond timers
        out["python.boot_s"] += tot.get(PY_BOOT, 0) / 1e3
        out["python.run_s"] += tot.get(PY_RUN, 0) / 1e3
        out["python.bytes_sent"] += tot.get(PY_SENT, 0)
        out["python.bytes_returned"] += tot.get(PY_RETURNED, 0)
        out["python.stage_task_s"] += tot.get("python_stage_task_s", 0)
    for sid, first in first_job.items():
        start = parsed["sql_start"].get(int(sid))
        if start is not None:
            out["planning.s"] += max(0, first - start) / 1e3
    return out
