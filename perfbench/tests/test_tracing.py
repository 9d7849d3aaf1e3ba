"""Tests of the span recorder and the event-log reader, on an event log
recorded from a traced ``cube_cache`` run: one cold load (a fill that
writes two dtype groups) and one fully cached load. Run with
``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402

LOG = os.path.join(HERE, "data", "cube_eventlog.jsonl")
SPANS = os.path.join(HERE, "data", "cube_spans.jsonl")


def _load():
    with open(SPANS) as f:
        spans = [json.loads(line) for line in f]
    return tracing.read_event_log(LOG), spans


def _loads(spans):
    return [s for s in spans if s["name"] == "accessor.load"]


def test_job_group_attribution():
    log, spans = _load()
    cold, warm = _loads(spans)
    cold_jobs = tracing.jobs_of_span(log, cold, spans)
    warm_jobs = tracing.jobs_of_span(log, warm, spans)
    assert not {j.jid for j in cold_jobs} & {j.jid for j in warm_jobs}
    # every job is either grouped to a recorded span or ungrouped
    ids = {s["id"] for s in spans}
    assert all(j.group is None or tracing.span_id_of(j.group) in ids for j in log.jobs)
    # the fill's block writes run on the engine's writer threads, which
    # do not inherit the caller's job group: they are attributed by time
    ungrouped = [j for j in cold_jobs if j.group is None]
    assert len(ungrouped) == 2 and all(j.stage_name.startswith("parquet") for j in ungrouped)
    assert all(j.group is not None for j in warm_jobs)
    # a job falls to the span of the op that ran it, and to that op only
    assert len(cold_jobs) + len(warm_jobs) == len(log.jobs)


def test_call_site_phase_attribution(tmp_path):
    log, spans = _load()
    # call sites name the engine file relative to the checkout; point
    # them at a stand-in module whose only function is ``materialize``
    stub = tmp_path / "smart_geocubes_spark" / "plans" / "materialize.py"
    stub.parent.mkdir(parents=True)
    stub.write_text("def materialize():\n" + "    pass\n" * 3000)
    for j in log.jobs:
        if j.call_site and "materialize.py" in j.call_site:
            j.call_site = j.call_site.replace("smart_geocubes_spark/", f"{tmp_path}/smart_geocubes_spark/")
    funcs = tracing.FunctionIndex()
    cold, warm = _loads(spans)
    phases = {}
    for name, span in (("cold", cold), ("warm", warm)):
        jobs = tracing.jobs_of_span(log, span, spans)
        phases[name] = [tracing.materialize_phase(j, funcs) for j in jobs]
    def runs(seq):  # consecutive repeats folded
        return [p for i, p in enumerate(seq) if i == 0 or seq[i - 1] != p]

    assert runs(phases["cold"]) == ["materialize.plan", "materialize.count", "materialize.write",
                                    "materialize.commit", "load.collect"]
    assert phases["cold"].count("materialize.write") == 2  # one per dtype group
    assert phases["cold"].count("materialize.commit") == 1
    # a fully cached load skips the write and the commit
    assert runs(phases["warm"]) == ["materialize.plan", "materialize.count", "load.collect"]


def test_parse_call_site_and_function_index(tmp_path):
    assert tracing.parse_call_site("collect at /x/plans/materialize.py:932") == (
        "collect", "/x/plans/materialize.py", 932)
    assert tracing.parse_call_site(None) is None
    assert tracing.parse_call_site("$anonfun$withThreadLocalCaptured$2 at X.java:1768") is None
    src = tmp_path / "m.py"
    src.write_text("def outer():\n    def inner():\n        return 1\n    return inner\n\n"
                   "def other():\n    pass\n")
    funcs = tracing.FunctionIndex()
    assert funcs.function_at(str(src), 3) == "inner"
    assert funcs.function_at(str(src), 4) == "outer"
    assert funcs.function_at(str(src), 7) == "other"
    assert funcs.function_at(str(src), 5) is None


def test_python_worker_sql_metrics():
    log, spans = _load()
    cold, warm = _loads(spans)
    py = tracing.python_boundary(tracing.engine_stats(log, tracing.jobs_of_span(log, cold, spans)))
    # the fill kernel is one mapInPandas per dtype group
    assert py["python.run_s"] > 0 and py["python.init_s"] > 0
    assert py["python.bytes_sent"] > 0 and py["python.bytes_returned"] > py["python.bytes_sent"]
    py_warm = tracing.python_boundary(
        tracing.engine_stats(log, tracing.jobs_of_span(log, warm, spans)))
    assert py_warm["python.run_s"] == 0 and py_warm["python.bytes_sent"] == 0


def test_broadcast_bytes_by_execution():
    log, spans = _load()
    cold, _ = _loads(spans)
    jobs = tracing.jobs_of_span(log, cold, spans)
    assert tracing.broadcast_bytes(log, jobs) > 0
    assert tracing.broadcast_bytes(log, []) == 0


def test_job_intervals_count_overlap_once():
    def job(jid, a, b):
        return tracing.Job(jid, a, b, None, None, "", [], None)

    # driver 0-1, job 1-3, a concurrent job 2-4, driver 4-5, job 5-6
    jobs = [job(0, 1.0, 3.0), job(1, 2.0, 4.0), job(2, 5.0, 6.0)]
    got = [(j.jid, gap, run) for j, gap, run in tracing.job_intervals(jobs, 0.0, 7.0)]
    assert got == [(0, 1.0, 2.0), (1, 0.0, 1.0), (2, 1.0, 1.0)]
    assert tracing.job_gap(jobs, 0.0, 7.0) == 3.0


def test_spans_nest_label_jobs_and_write(tmp_path):
    groups = []
    rec = tracing.Spans(set_group=groups.append)
    with rec.span("op", 0):
        with rec.span("load", 0):
            pass
    with rec.span("op", 1):
        pass
    op0, load, op1 = rec.spans
    assert load["parent"] == op0["id"] and op1["parent"] is None
    assert groups == ["0:0:op", "0:1:load", "0:0:op", None, "1:2:op", None]
    assert tracing.span_id_of(groups[1]) == load["id"]
    assert rec.overhead_s > 0
    out = tmp_path / "spans.jsonl"
    rec.write(str(out))
    assert [json.loads(line)["name"] for line in out.read_text().splitlines()] == [
        "op", "load", "op"]
