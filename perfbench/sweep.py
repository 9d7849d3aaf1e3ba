"""Traced sweep over every registry query (``__spark_entry__.queries()``).

Each query runs once, in registry order, in one session with the Spark
event log on: its function call (which runs any eager jobs, such as
``localCheckpoint``) and then its final action into a noop sink. One
row per query goes to ``perfbench/work/results/sweep-<input>.jsonl`` and a
table to stdout. The input directory holds the ten driver tables
(``sources.synth.TABLES``); pick a scale factor that fits the time
available. Not part of the timed workloads.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

import tracing

def sweep_rows(log: tracing.EventLog, spans: list[dict], errors: dict) -> list[dict]:
    rows = []
    for q in (s for s in spans if s["parent"] is None):
        kids = {s["name"]: s for s in spans if s["parent"] == q["id"]}
        build = kids.get("build")
        jobs = tracing.jobs_of_span(log, q, spans)
        eager = tracing.jobs_of_span(log, build, spans) if build else []
        es = tracing.engine_stats(log, jobs)
        rows.append({
            "query": q["name"], "wall_s": q["end"] - q["start"], "jobs": len(jobs),
            "eager_jobs": len(eager), "eager_s": build["end"] - build["start"] if build else 0.0,
            "shuffle_write_bytes": es.shuffle_write_bytes,
            "python_run_s": tracing.python_boundary(es)["python.run_s"],
            "error": errors.get(q["op"]),
        })
    return rows


def main(sf_dir: str) -> int:
    # run.py, which calls this: as ``__main__`` its functions travel to
    # the Python workers by value (``run`` is not importable there)
    import __main__ as run
    import __spark_entry__ as entry

    from smart_geocubes_spark.sources.synth import ensure_base_views

    if not all(os.path.isfile(os.path.join(sf_dir, f"{t}.parquet"))
               for t in ("orders", "documents")):
        print(f"{sf_dir} does not hold the driver tables", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(run.HERE, "work", f"sweep-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = run.ROOT
    b = run.Bench(work, cores, max(1, int(run._meminfo_mb("MemTotal") / 1024 * run.HEAP_SHARE)),
                  traced=True, seed=0)

    class _NoWorkload(run.workloads.Workload):
        views = False

    b.launch_jvm()
    b.start_session(_NoWorkload(), cores, event_log=True)
    ensure_base_views(b.spark, sf_dir)
    errors: dict[int, str] = {}
    for i, (name, fn) in enumerate(entry.queries().items()):
        try:
            with b.spans.span(name, i):
                with b.spans.span("build", i):
                    df = fn(b.spark, sf_dir)
                with b.spans.span("action", i):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — one failing query must not end the sweep
            errors[i] = f"{type(e).__name__}: {str(e)[:200]}"
            traceback.print_exc(file=sys.stderr)
        print(f"{i + 1:3d} {name} {time.strftime('%H:%M:%S')}", file=sys.stderr, flush=True)
    b.stop_session()  # closes the event log
    log_path = max((os.path.join(b.event_dir, f) for f in os.listdir(b.event_dir)),
                   key=os.path.getmtime)
    rows = sweep_rows(tracing.read_event_log(log_path), b.spans.spans, errors)
    out_dir = os.path.join(run.HERE, "work", "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"sweep-{os.path.basename(os.path.normpath(sf_dir))}.jsonl")
    with open(out, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    print(f"{'query':34s} {'wall_s':>7s} {'jobs':>5s} {'eager':>5s} {'eager_s':>7s} "
          f"{'shuffleW_MB':>11s} {'py_run_s':>8s}")
    for r in rows:
        print(f"{r['query']:34s} {r['wall_s']:7.2f} {r['jobs']:5d} {r['eager_jobs']:5d} "
              f"{r['eager_s']:7.2f} {r['shuffle_write_bytes'] / 2**20:11.2f} "
              f"{r['python_run_s']:8.2f}" + (f"  ERROR {r['error']}" if r["error"] else ""))
    print(f"rows written to {out}")
    b.close()
    shutil.rmtree(work, ignore_errors=True)
    return 0
