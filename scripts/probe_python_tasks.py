"""Attribute the CPU of the Python boundary: per task, and per webtext phase.

Two legs, in one ``local[N]`` session with the benchmark's JVM flags
(C1 only, serial GC):

1. **Identity hop.** An identity ``mapInPandas`` over ``--rows`` rows,
   written to the ``noop`` sink, at 4, 12 and 48 partitions (one Python
   task each). Prints the driver, JVM and Python-worker CPU seconds of
   each task count as the min of ``--reps``; the slope over the task
   count is the fixed cost of one Python task.
2. **Webtext request.** The ``webtext_join`` request: ``pages_df``
   (``--pages-per-core`` pages per core, spread over 3x the cores) ->
   ``prep_pages`` (checkpointed) -> ``pip_join`` aggregated per patch ->
   ``knn_join``. After one warm-up request, prints the mean driver, JVM
   and Python-worker CPU seconds of each phase over ``--requests``
   requests, and the prep hop's task count.

CPU is read from ``/proc/<pid>/stat`` (user + system, plus reaped
children) for this process (the driver), the JVM it starts, and every
other process below the JVM (the Python worker daemon and its workers),
in clock ticks (10 ms on most Linux hosts). Run from the repository root:

    python scripts/probe_python_tasks.py /path/to/sf0.01 --cores 4
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TASK_COUNTS = (4, 12, 48)
PHASES = ("prep", "spatial_join", "knn")


def _proc_cpu() -> dict[str, float]:
    """CPU seconds of the driver, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
        names[int(d)] = head.split("(", 1)[-1]
    me = os.getpid()
    out = {"driver": ticks[me], "jvm": 0, "python": 0}
    for jvm in (p for p in children.get(me, []) if names[p] == "java"):
        out["jvm"] += ticks[jvm]
        todo = list(children.get(jvm, []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            out["python"] += ticks.get(pid, 0)
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v / hz for k, v in out.items()}


def _delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


def _fmt(cpu: dict) -> str:
    return "  ".join(f"{k} {v:6.2f}" for k, v in cpu.items())


def _identity(batches):
    yield from batches


def _session(cores: int, work: str):
    from pyspark.sql import SparkSession

    jvm = f"-Djava.io.tmpdir={work} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.driver.memory", "4g")
        .config("spark.driver.extraJavaOptions", jvm)
        .config("spark.local.dir", work)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def identity_leg(spark, rows: int, reps: int) -> None:
    print(f"identity mapInPandas over {rows} rows, min of {reps} reps (CPU-s)")
    for n in TASK_COUNTS:
        df = spark.range(rows, numPartitions=n).mapInPandas(_identity, "id long")
        runs = []
        for _ in range(reps):
            c0 = _proc_cpu()
            df.write.format("noop").mode("overwrite").save()
            runs.append(_delta(c0, _proc_cpu()))
        best = {k: min(r[k] for r in runs) for k in runs[0]}
        print(f"  {n:3d} tasks: {_fmt(best)}  python/task {best['python'] / n:.3f}")


def webtext_leg(spark, sf_dir: str, pages_per_core: int, requests: int) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from smart_geocubes_spark.operators.knn import knn_join
    from smart_geocubes_spark.operators.prep import prep_pages
    from smart_geocubes_spark.operators.spatial_join import explode_catalog_to_cells, pip_join
    from smart_geocubes_spark.sources.synth import catalog_df, pages_df

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    n_orders = pq.read_metadata(f"{sf_dir}/orders.parquet").num_rows
    mult = max(1, pages_per_core * cores // n_orders)
    cells = explode_catalog_to_cells(spark, catalog_df(spark))
    queries = (catalog_df(spark).filter("patch_idx % 48 = 13")
               .selectExpr("patch_idx AS qid", "cx + 0.123 AS qx", "cy - 0.217 AS qy")
               .toPandas())

    def request(i: int) -> tuple[dict, int]:
        cpu, group = {}, f"probe-prep-{i}"
        c0 = _proc_cpu()
        sc.setJobGroup(group, group)
        pages = pages_df(spark, sf_dir, mult=mult, parallelism=3 * cores)
        pts = prep_pages(pages).localCheckpoint(eager=True)
        sc.setLocalProperty("spark.jobGroup.id", None)
        c1 = _proc_cpu()
        cpu["prep"] = _delta(c0, c1)
        (pip_join(pts, cells).groupBy("patch_id")
         .agg(F.count("*").alias("n"), F.sum("text_len").alias("tl")).collect())
        c2 = _proc_cpu()
        cpu["spatial_join"] = _delta(c1, c2)
        knn_join(spark, pts.withColumnRenamed("page_id", "point_id"), queries, k=5).collect()
        cpu["knn"] = _delta(c2, _proc_cpu())
        st = sc.statusTracker()
        # the prep hop is the last stage of the checkpoint job
        stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
        return cpu, st.getStageInfo(max(stages)).numTasks

    request(-1)
    runs = [request(i) for i in range(requests)]
    print(f"webtext request over {n_orders * mult} pages, mean of {requests} requests (CPU-s)")
    for ph in PHASES:
        mean = {k: sum(r[0][ph][k] for r in runs) / requests for k in runs[0][0][ph]}
        print(f"  {ph:13s} {_fmt(mean)}")
    print(f"  prep hop tasks: {sorted({r[1] for r in runs})}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("sf_dir", help="a generated scale-factor directory (orders.parquet, ...)")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--rows", type=int, default=40_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--pages-per-core", type=int, default=37_500)
    ap.add_argument("--requests", type=int, default=5)
    args = ap.parse_args()

    with tempfile.TemporaryDirectory(prefix="probe_python_tasks_") as work:
        spark = _session(args.cores, work)
        try:
            identity_leg(spark, args.rows, args.reps)
            webtext_leg(spark, args.sf_dir, args.pages_per_core, args.requests)
        finally:
            spark.stop()


if __name__ == "__main__":
    main()
