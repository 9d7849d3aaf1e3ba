"""Span recorder and Spark event-log reader (standard library only).

Spans are kept in memory around each call the benchmark makes into the
engine's public functions and written out once, at the end of a run.
The event log is the one Spark writes with ``spark.eventLog.enabled``
(uncompressed, not rolled): one JSON object per line. Each job is
attributed to a span by the job group the recorder sets while the span
is open (``<op>:<span id>:<name>``); jobs with no group (a thread the engine
starts does not inherit the caller's group) fall back to the span whose
interval holds the job's submission time. Phases inside
``plans.materialize`` come from the ``callSite.short`` job property,
which names the module line that ran the action.
"""

from __future__ import annotations

import ast
import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def group_of(span: dict) -> str:
    """The Spark job group the recorder sets while ``span`` is open."""
    return f"{span['op']}:{span['id']}:{span['name']}"


def span_id_of(group: str | None) -> int | None:
    parts = (group or "").split(":", 2)
    return int(parts[1]) if len(parts) == 3 and parts[1].isdigit() else None


class Spans:
    """In-memory span recorder. A span is (id, name, op, start, end,
    parent); ``overhead_s`` is the wall the recorder itself added."""

    def __init__(self, set_group=None):
        # set_group(group_id | None) labels the Spark jobs started by
        # the calling thread
        self._set_group = set_group
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: int):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self._set_group:
            self._set_group(group_of(rec))
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if self._set_group:
                self._set_group(group_of(self.spans[self._stack[-1]]) if self._stack else None)
            self.overhead_s += time.perf_counter() - t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    sid: int
    n_tasks: int = 0
    run_ms: list = field(default_factory=list)
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    peak_exec_mem: int = 0
    #: task-side SQL metrics summed by metric name
    sql: dict = field(default_factory=dict)


@dataclass
class Job:
    jid: int
    submit: float  # seconds since the epoch
    end: float | None
    group: str | None
    call_site: str | None
    stage_name: str
    stage_ids: list
    sql_exec: int | None


@dataclass
class EventLog:
    jobs: list
    stages: dict
    #: driver-side SQL metrics, summed by (execution id, plan node name,
    #: metric name)
    driver_sql: dict


_SQL_PREFIX = "org.apache.spark.sql.execution.ui."


def _plan_metric_ids(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for c in plan.get("children", []):
        _plan_metric_ids(c, out)


def read_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    metric_ids: dict[int, tuple] = {}
    driver_sql: dict[tuple, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                infos = e["Stage Infos"]
                sql_exec = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = Job(
                    jid=e["Job ID"],
                    submit=e["Submission Time"] / 1000.0,
                    end=None,
                    group=props.get("spark.jobGroup.id"),
                    call_site=props.get("callSite.short"),
                    stage_name=max(infos, key=lambda s: s["Stage ID"])["Stage Name"] if infos else "",
                    stage_ids=[s["Stage ID"] for s in infos],
                    sql_exec=int(sql_exec) if sql_exec is not None else None,
                )
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                m = e.get("Task Metrics") or {}
                st.n_tasks += 1
                st.run_ms.append(m.get("Executor Run Time", 0))
                st.gc_ms += m.get("JVM GC Time", 0)
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st.peak_exec_mem = max(st.peak_exec_mem, m.get("Peak Execution Memory", 0))
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Metadata") == "sql":
                        name = acc["Name"]
                        st.sql[name] = st.sql.get(name, 0) + int(acc.get("Update") or 0)
            elif kind in (_SQL_PREFIX + "SparkListenerSQLExecutionStart",
                          _SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(e["sparkPlanInfo"], metric_ids)
            elif kind == _SQL_PREFIX + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    node = metric_ids.get(acc_id)
                    if node is not None:
                        key = (e["executionId"],) + node
                        driver_sql[key] = driver_sql.get(key, 0) + int(value)
    return EventLog(
        jobs=sorted(jobs.values(), key=lambda j: j.jid), stages=stages, driver_sql=driver_sql
    )


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def jobs_of_span(log: EventLog, span: dict, spans: list[dict]) -> list[Job]:
    """Jobs whose group names this span or one of its descendants, plus
    ungrouped jobs submitted inside the span's interval."""
    ids = {span["id"]}
    for s in spans:  # spans are recorded parent-first
        if s["parent"] in ids:
            ids.add(s["id"])
    out = []
    for j in log.jobs:
        if j.group is not None:
            if span_id_of(j.group) in ids:
                out.append(j)
        elif span["start"] <= j.submit <= span["end"]:
            out.append(j)
    return out


def job_intervals(jobs: list[Job], start: float, end: float) -> list[tuple[Job, float, float]]:
    """Split ``[start, end]`` up to the last job's end into one
    ``(job, gap, run)`` per job, in submission order: ``gap`` is the
    driver time since the previous job ended (planning, listing, building
    this job), ``run`` the part of the job's interval no earlier job
    covers. Concurrent jobs are counted once."""
    out = []
    cursor = start
    for j in sorted(jobs, key=lambda j: j.submit):
        sub = min(max(j.submit, cursor), end)
        stop = min(max(j.end if j.end is not None else end, sub), end)
        out.append((j, sub - cursor, stop - sub))
        cursor = stop
    return out


def job_gap(jobs: list[Job], start: float, end: float) -> float:
    """Wall of ``[start, end]`` not covered by any job (driver time)."""
    return (end - start) - sum(run for _, _, run in job_intervals(jobs, start, end))


@dataclass
class EngineStats:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    task_skew: float = 0.0
    sql: dict = field(default_factory=dict)


def engine_stats(log: EventLog, jobs: list[Job]) -> EngineStats:
    """Task metrics summed over the stages of ``jobs``. ``task_skew`` is
    max / median task run time in the stage with the most run time."""
    es = EngineStats(jobs=len(jobs))
    seen: set[int] = set()
    largest = None
    for j in jobs:
        for sid in j.stage_ids:
            st = log.stages.get(sid)
            if st is None or sid in seen:  # skipped stages have no tasks
                continue
            seen.add(sid)
            es.tasks += st.n_tasks
            es.executor_run_s += sum(st.run_ms) / 1000.0
            es.gc_s += st.gc_ms / 1000.0
            es.input_bytes += st.input_bytes
            es.shuffle_read_bytes += st.shuffle_read_bytes
            es.shuffle_write_bytes += st.shuffle_write_bytes
            es.peak_exec_mem_bytes = max(es.peak_exec_mem_bytes, st.peak_exec_mem)
            for k, v in st.sql.items():
                es.sql[k] = es.sql.get(k, 0) + v
            if largest is None or sum(st.run_ms) > sum(largest.run_ms):
                largest = st
    if largest is not None and largest.run_ms:
        med = statistics.median(largest.run_ms)
        es.task_skew = max(largest.run_ms) / med if med > 0 else 1.0
    return es


def python_boundary(es: EngineStats) -> dict[str, float]:
    """Arrow Python-worker metrics of MapInPandas / ArrowEvalPython
    nodes (SQL timing metrics are in milliseconds)."""
    sql = es.sql
    return {
        "python.run_s": sql.get("time to run Python workers", 0) / 1000.0,
        "python.init_s": (sql.get("time to start Python workers", 0)
                          + sql.get("time to initialize Python workers", 0)) / 1000.0,
        "python.bytes_sent": float(sql.get("data sent to Python workers", 0)),
        "python.bytes_returned": float(sql.get("data returned from Python workers", 0)),
    }


def broadcast_bytes(log: EventLog, jobs: list[Job]) -> int:
    """Bytes broadcast by the SQL executions that ran ``jobs``."""
    execs = {j.sql_exec for j in jobs}
    return sum(v for (ex, node, name), v in log.driver_sql.items()
               if ex in execs and node == "BroadcastExchange" and name == "data size")


# ---------------------------------------------------------------------------
# call sites
# ---------------------------------------------------------------------------

_CALL_SITE_RE = re.compile(r"^(\w+) at (.+?):(\d+)$")


def parse_call_site(call_site: str | None) -> tuple[str, str, int] | None:
    """``"collect at /x/plans/materialize.py:932"`` -> ("collect", path, 932)."""
    if not call_site:
        return None
    m = _CALL_SITE_RE.match(call_site.strip())
    if m is None:
        return None
    return m.group(1), m.group(2), int(m.group(3))


class FunctionIndex:
    """Maps ``(source file, line)`` to the innermost enclosing function
    name, by parsing the file once."""

    def __init__(self):
        self._cache: dict[str, list[tuple[int, int, str]]] = {}

    def function_at(self, path: str, line: int) -> str | None:
        if path not in self._cache:
            try:
                with open(path) as f:
                    tree = ast.parse(f.read())
            except (OSError, SyntaxError):
                self._cache[path] = []
            else:
                self._cache[path] = [
                    (n.lineno, n.end_lineno, n.name)
                    for n in ast.walk(tree)
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
        best = None
        for lo, hi, name in self._cache[path]:
            if lo <= line <= hi and (best is None or lo >= best[0]):
                best = (lo, hi, name)
        return best[2] if best else None


def materialize_phase(job: Job, funcs: FunctionIndex) -> str:
    """Phase of a job run by ``GeocubeAccessor.load``. A Python call site
    in ``plans/materialize.py`` names the fill's count (the one driver
    action inside ``materialize``) or the read inside ``load``; a call
    site elsewhere is the caller's collect of the ROI slice. Jobs PySpark
    starts with no Python call site are eager checkpoints and broadcasts
    (planning the fill) or parquet writes: block writes from the
    engine's writer threads carry no job group, the lineage commit runs
    on the caller's thread and does."""
    cs = parse_call_site(job.call_site)
    if cs is not None:
        _, path, line = cs
        if path.endswith("plans/materialize.py"):
            fn = funcs.function_at(path, line)
            return {"materialize": "materialize.count", "load": "load.collect"}.get(
                fn, "materialize.plan")
        return "load.collect"
    if job.stage_name.startswith("parquet"):
        return "materialize.write" if job.group is None else "materialize.commit"
    return "materialize.plan"
