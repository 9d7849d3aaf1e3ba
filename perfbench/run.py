"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload webtext_join --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload cube_cache --seed 1 --seconds 30 --trace 1
    python3 perfbench/run.py --sweep /path/to/sf0.01        # all registry queries

Spark runs at ``local[nproc]`` with a driver heap sized from physical
RAM. Inputs come from ``--seed`` and are written under ``perfbench/work``
with everything else the run leaves (Spark scratch, cube stores, event
logs), which is removed at the end except for ``perfbench/work/results``.
The last stdout line is the result object; the line before it holds
the details (host block, op counts, percentiles).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads  # noqa: E402

#: share of physical RAM given to the driver heap (executors run inside it)
HEAP_SHARE = 0.35
#: sessions set up in an untraced run; ``setup_s`` takes their median
SETUPS = 2


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(key)


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _proc_table() -> tuple[dict[int, list[int]], dict[int, str], dict[int, float]]:
    """(children by parent pid, name by pid, CPU ticks by pid) from /proc.
    A process's ticks are its user and system time plus that of its
    children it has reaped."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    ticks: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            fields = tail.split()
            ppid = int(fields[1])
            cpu = sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
        names[int(d)] = head.split("(", 1)[-1]
        ticks[int(d)] = cpu
    return children, names, ticks


def _thread_ticks(tid: int) -> int:
    with open(f"/proc/self/task/{tid}/stat") as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])


def tree_cpu_s(skip_tid: int | None = None) -> float:
    """CPU seconds used so far by this process and all its descendants
    (the driver, the JVM and the Python workers), less the thread
    ``skip_tid`` of this process (the RSS sampler's own polling).

    Unlike wall time, it leaves out the time the CPUs spent on other
    guests of the host (steal) or on other processes of the machine,
    which on a shared host changes request walls by half and more
    between runs a few minutes apart."""
    children, _, ticks = _proc_table()
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        total += ticks.get(pid, 0)
    if skip_tid is not None:
        total -= _thread_ticks(skip_tid)
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc in a background thread. The
    JVM counts with its high-water mark (``VmHWM``), which the kernel
    keeps exactly: its heap peaks are shorter than the sampling period.
    A child the JVM has forked but not yet exec'd (on its way to become
    a Python worker) shares the JVM's pages and is not counted."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        #: at the peak: MB per process name, and the process count
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def tid(self) -> int | None:
        return self._thread.native_id

    def _sample(self) -> dict:
        children, names, _ = _proc_table()
        parts: dict = {"procs": 0}
        todo = [(pid, None) for pid in children.get(os.getpid(), [])]
        page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
        while todo:
            pid, parent = todo.pop()
            todo.extend((c, pid) for c in children.get(pid, []))
            try:
                if parent is not None and names[parent] == "java" and (
                        os.readlink(f"/proc/{pid}/exe") == os.readlink(f"/proc/{parent}/exe")):
                    continue
                if names[pid] == "java":
                    mb = _status_kb(pid, "VmHWM") / 1024.0
                else:
                    with open(f"/proc/{pid}/statm") as f:
                        mb = int(f.read().split()[1]) * page_mb
            except (OSError, ValueError, IndexError, KeyError):
                continue
            parts[names[pid]] = parts.get(names[pid], 0.0) + mb
            parts["procs"] += 1
        return parts

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            parts = self._sample()
            total = sum(v for k, v in parts.items() if k != "procs")
            if total > self.peak_mb:
                self.peak_mb, self.peak_parts = total, parts

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# spark
# ---------------------------------------------------------------------------


def _warm_python(batches):
    # imports the engine's worker-side modules once per Python worker
    import smart_geocubes_spark.operators.prep  # noqa: F401
    import smart_geocubes_spark.plans.materialize  # noqa: F401

    yield from batches


class Bench:
    """One benchmark run: host sizing, sessions, spans and timings."""

    def __init__(self, work: str, cores: int, heap_gb: int, traced: bool, seed: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.heap_gb = heap_gb
        self.traced = traced
        self.data_dir = os.path.join(work, "data")
        self.event_dir = os.path.join(work, "events")
        self.spark = None
        self.spans = tracing.Spans(set_group=self.set_group)
        self.op_id = -1
        #: the workload this run measures, and its probes that succeeded
        self.workload = None
        self.probed = 0
        self.setup_parts: list[dict] = []
        #: the RSS sampler's thread, whose CPU the requests do not count
        self.skip_tid: int | None = None

    # -- sessions ----------------------------------------------------------

    def conf(self, cores: int, event_log: bool):
        from pyspark import SparkConf

        tmp = os.path.join(self.work, "tmp")
        # C1 only: the JVM reaches its steady speed within a session's
        # first request or two instead of over ten or more, at about the
        # same CPU per request once there (most of the engine's work is
        # in the Python workers); without it a run's figures depend on
        # how far along JIT warm-up its timed requests were. With the
        # serial collector a request's JVM CPU was lowest and steadiest
        # in trials against G1 and the parallel collector.
        jvm = f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
        c = (SparkConf().setMaster(f"local[{cores}]").setAppName("perfbench")
             .set("spark.driver.memory", f"{self.heap_gb}g")
             .set("spark.driver.extraJavaOptions", jvm)
             .set("spark.local.dir", os.path.join(self.work, "local"))
             .set("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
             .set("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
             .set("spark.sql.session.timeZone", "UTC")
             .set("spark.ui.enabled", "false")
             .set("spark.ui.showConsoleProgress", "false"))
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            c = (c.set("spark.eventLog.enabled", "true").set("spark.eventLog.dir", self.event_dir)
                 .set("spark.eventLog.compress", "false")
                 .set("spark.eventLog.rolling.enabled", "false"))
        return c

    def launch_jvm(self) -> dict:
        """Start the JVM gateway once; returns its start-up wall and CPU
        seconds."""
        from pyspark import SparkContext

        cpu0, t0 = tree_cpu_s(self.skip_tid), time.perf_counter()
        SparkContext._ensure_initialized(conf=self.conf(self.cores, False))
        return {"wall": time.perf_counter() - t0, "cpu": tree_cpu_s(self.skip_tid) - cpu0}

    def start_session(self, w, cores: int, event_log: bool = False) -> dict:
        """Session start, view registration, Python-worker warm-up and the
        workload's own per-session state; returns their wall and CPU
        seconds."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        from smart_geocubes_spark.sources.synth import ensure_base_views

        self.stop_session()
        cpu0 = tree_cpu_s(self.skip_tid)
        t = [time.perf_counter()]
        sc = SparkContext(conf=self.conf(cores, event_log))
        sc.setLogLevel("ERROR")
        self.spark = SparkSession(sc)
        t.append(time.perf_counter())
        if w.views:
            with self.span("synth.views"):
                ensure_base_views(self.spark, self.data_dir)
        t.append(time.perf_counter())
        with self.span("python.warmup"):
            (self.spark.range(4 * cores, numPartitions=cores)
             .mapInPandas(_warm_python, "id long").collect())
        t.append(time.perf_counter())
        w.session_setup(self)
        t.append(time.perf_counter())
        out = {"wall": t[-1] - t[0], "cpu": tree_cpu_s(self.skip_tid) - cpu0}
        self.setup_parts.append(dict(zip(("context", "views", "python", "workload"),
                                         (b - a for a, b in zip(t, t[1:]))), **out))
        return out

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit
        (it exits when its stdin closes; Python workers go with it)."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- spans -------------------------------------------------------------

    def span(self, name: str):
        return self.spans.span(name, self.op_id) if self.traced else nullcontext()

    def set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    # -- the closed loop ---------------------------------------------------

    def request(self, w, i: int, name: str = "op") -> dict | None:
        """Request ``i`` of ``w``, timed, then checked; None if it failed."""
        self.op_id += 1
        try:
            cpu0, steal0 = tree_cpu_s(self.skip_tid), _cpu_ticks()
            t0 = time.perf_counter()
            with self.span(name):
                result = w.request(self, i)
            wall = time.perf_counter() - t0
            cpu, steal = tree_cpu_s(self.skip_tid) - cpu0, _cpu_ticks()
            return {"op": self.op_id, "wall": wall, "cpu": cpu,
                    "steal_pct": 100.0 * (steal[0] - steal0[0]) / max(steal[1] - steal0[1], 1),
                    "units": w.check(result)}
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            return None

    def loop(self, w, seconds: float) -> tuple[list[dict], list[dict], int]:
        """``w.warmup`` requests, checked but not timed, then requests one
        after another for ``seconds`` (and at least one round of
        ``w.round`` requests, finishing the last round); returns (warm-up
        ops, timed ops, failed)."""
        warm, ops, failed = [], [], 0
        i = 0
        while i < w.warmup:
            op = self.request(w, i)
            failed += op is None
            warm += [op] if op else []
            i += 1
        deadline, n = time.perf_counter() + seconds, 0
        while n < w.round or n % w.round or time.perf_counter() < deadline:
            op = self.request(w, i + n)
            failed += op is None
            ops += [op] if op else []
            n += 1
        return warm, ops, failed


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def _quantiles(xs: list[float]) -> dict:
    """Median and max with the sample count: fewer than 20 samples
    support no percentile above the median with ten samples beyond it."""
    if not xs:
        return {"n": 0}
    out = {"n": len(xs), "median": statistics.median(xs), "max": max(xs)}
    if len(xs) >= 100:
        out["p90"] = statistics.quantiles(xs, n=10)[-1]
    return out


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def engine_layers(log: tracing.EventLog, spans: list[dict]) -> dict:
    """Spark-engine figures per request, as medians over requests."""
    rows = []
    for op in (s for s in spans if s["parent"] is None and s["name"] == "op"):
        jobs = tracing.jobs_of_span(log, op, spans)
        es = tracing.engine_stats(log, jobs)
        rows.append({
            "spark.jobs": es.jobs, "spark.tasks": es.tasks,
            "spark.driver_gap_s": tracing.job_gap(jobs, op["start"], op["end"]),
            "spark.executor_run_s": es.executor_run_s, "spark.gc_s": es.gc_s,
            "spark.input_bytes": es.input_bytes,
            "spark.shuffle_read_bytes": es.shuffle_read_bytes,
            "spark.shuffle_write_bytes": es.shuffle_write_bytes,
            "spark.task_skew": es.task_skew,
        })
    return {k: float(statistics.median(r[k] for r in rows)) for k in rows[0]} if rows else {}


def attribution(log: tracing.EventLog, spans: list[dict]) -> dict:
    """Where a traced run's requests spent executor time, by the span
    under each request, and which engine modules launched their jobs."""
    by_span: dict[str, float] = {}
    modules: dict[str, int] = {}
    for op in (s for s in spans if s["parent"] is None and s["name"] == "op"):
        for child in (s for s in spans if s["parent"] == op["id"]):
            es = tracing.engine_stats(log, tracing.jobs_of_span(log, child, spans))
            by_span[child["name"]] = by_span.get(child["name"], 0.0) + es.executor_run_s
        for j in tracing.jobs_of_span(log, op, spans):
            cs = tracing.parse_call_site(j.call_site)
            key = os.path.relpath(cs[1], ROOT) if cs else j.stage_name.split(" at ")[0]
            modules[key] = modules.get(key, 0) + 1
    return {"executor_s_by_span": by_span, "jobs_by_call_site": modules}


def run(args) -> tuple[dict, dict]:
    spec = _spec()
    cores = len(os.sched_getaffinity(0))
    ram_mb = _meminfo_mb("MemTotal")
    heap_gb = max(1, int(ram_mb / 1024 * HEAP_SHARE))
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything Spark, PySpark and the engine write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    t_run = time.perf_counter()
    w = workloads.WORKLOADS[args.workload](args.seed, cores)
    b = Bench(work, cores, heap_gb, traced=bool(args.trace), seed=args.seed)
    b.workload = w
    steal0, total0 = _cpu_ticks()
    try:
        with RssSampler() as rss:
            b.skip_tid = rss.tid
            w.make_data(b.data_dir)
            launch = b.launch_jvm()
            if not args.trace:
                setups = [b.start_session(w, cores)]
                warm, ops, failed = b.loop(w, args.seconds)
                # set up again in fresh sessions, for the median
                for _ in range(SETUPS - 1):
                    setups.append(b.start_session(w, cores))
                metrics = {"setup_s": launch["cpu"] + statistics.median(s["cpu"] for s in setups),
                           **w.end_to_end(ops)}
            else:
                metrics, warm, ops, failed = traced_run(b, w, args.seconds)
            b.stop_session()
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak_mb
    finally:
        b.close()
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = _cpu_ticks()
    import pyarrow
    import pyspark

    attempted = len(warm) + len(ops) + b.probed + failed
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {
            "nproc": cores, "ram_mb": round(ram_mb), "driver_heap_gb": heap_gb,
            "master": f"local[{cores}]", "spark": pyspark.__version__,
            "pyspark": pyspark.__version__, "python": sys.version.split()[0],
            "pyarrow": pyarrow.__version__,
            "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
        },
        "peak_rss_parts_mb": rss.peak_parts,
        "jvm_launch": launch, "setup_parts_s": b.setup_parts,
        "latency_s": w.latency(ops),
        "op_wall_s": _quantiles([o["wall"] for o in ops]),
        "op_cpu_s": _quantiles([o["cpu"] for o in ops]),
        "warmup_ops": [{k: o[k] for k in ("wall", "cpu", "units")} for o in warm],
        "ops": [{k: o[k] for k in ("wall", "cpu", "steal_pct", "units")} for o in ops],
        "unit": w.unit, "attempted": attempted, "failed": failed,
        "ops_failed_frac": failed / max(attempted, 1),
        "run_wall_s": time.perf_counter() - t_run,
    }
    if args.trace:
        details.update(b.attribution)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": units[n]} for n in names},
    }
    return details, result


def traced_run(b: Bench, w, seconds: float):
    """One traced session with the event log on. ``trace.overhead_frac``
    is the wall the span recorder and its job-group calls added to the
    requests; the event log is written from Spark's listener thread,
    off the request path."""
    b.start_session(w, b.cores, event_log=True)
    warm, ops, failed = b.loop(w, seconds)
    probed = [b.request(probe, 0, name=probe.name) for probe in w.probes(b)]
    failed += probed.count(None)
    b.probed = len(probed) - probed.count(None)
    m = w.live_layers(b)
    b.stop_session()  # closes the event log
    logs = [os.path.join(b.event_dir, f) for f in os.listdir(b.event_dir)]
    log_path = max(logs, key=os.path.getmtime)
    log = tracing.read_event_log(log_path)
    spans = b.spans.spans
    keep = os.path.join(HERE, "work", "results", f"{w.name}-{b.seed}-trace")
    os.makedirs(keep, exist_ok=True)
    shutil.copy(log_path, os.path.join(keep, "eventlog.jsonl"))
    b.spans.write(os.path.join(keep, "spans.jsonl"))
    b.attribution = attribution(log, spans)
    m.update(engine_layers(log, spans))
    m.update(w.layers(b, log))
    views = [s["end"] - s["start"] for s in spans if s["name"] == "synth.views"]
    m["synth.views_s"] = statistics.median(views) if views else 0.0
    m["trace.overhead_frac"] = b.spans.overhead_s / sum(o["wall"] for o in ops)
    b.traced = False
    m.update(w.scale_layers(b, ops))
    return m, warm, ops, failed


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sweep", metavar="SF_DIR",
                   help="run every registry query once, traced, on this input directory")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "smart_geocubes_spark", "__init__.py")):
        print(f"no smart_geocubes_spark package under {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.sweep:
        import sweep

        return sweep.main(args.sweep)
    if args.workload is None:
        p.error("--workload is required")
    details, result = run(args)
    out = os.path.join(HERE, "work", "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"details": details, "result": result}, f, indent=1)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
