"""Measure what an ROI read's driver-side visibility costs at large ROIs.

Builds a one-channel cube of ``side`` x ``side`` tiny chunks (2x2 px),
fills it in two halves, compacts it ``compactions`` times (each
compaction adds one committed lineage row per chunk, until a vacuum),
then reads the whole extent and prints one line per phase: the
lineage rows read, the driver time of that pyarrow read, of the read
rule and of building ``load()``'s plan, the size of that plan's
formatted description (what the SQL UI and the event log store), the
wall time of the block count, and the wall and CPU time of the same
read rendered on the driver (``load_local``, the read behind
``accessor.load(persist=True)``; CPU is this process's, and the read
runs in it). Run:

    python scripts/probe_visibility_scale.py --side 100 --compactions 1

``--batches 10,100,1000`` adds the committed-batches leg: a second cube
filled one single-chunk batch at a time, and at each listed batch count
the wall and CPU time of a cached one-tile ``load_local`` (median of 5),
whose lineage read lists every committed batch but opens only the files
whose tile range meets the ROI.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--side", type=int, default=100, help="tiles per side (chunks = side^2)")
    ap.add_argument("--compactions", type=int, default=1)
    ap.add_argument("--master", default="local[2]")
    ap.add_argument("--batches", default="", help="committed-batch counts, e.g. 10,100,1000")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid

    spark = (
        SparkSession.builder.master(args.master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    px, res = 2, 0.01
    grid = TileGrid(
        geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=res,
                      width=args.side * px, height=args.side * px),
        chunk_px=px,
    )
    span = args.side * px * res
    roi = (0.0, 20.0 - span, span, 20.0)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "cube")
        M.create_cube(path, M.CubeSpec(grid=grid, channels=("dem",), time_epochs=None))
        t = time.perf_counter()
        M.materialize(spark, path, (0.0, 20.0 - span, span / 2, 20.0))
        M.materialize(spark, path, roi)
        for _ in range(args.compactions):
            M.compact(spark, path)
        print(f"build_s {time.perf_counter() - t:.1f}")

        tile_ids, _ = M._roi_tile_ids(grid, roi)
        for rep in range(2):  # the first pass warms the JVM
            t = time.perf_counter()
            lin = M._lineage_rows(path, tile_ids)
            t_read = time.perf_counter() - t
            t = time.perf_counter()
            vis = M._visible(lin)
            t_rule = time.perf_counter() - t
            t = time.perf_counter()
            df = M.load(spark, path, roi)
            desc = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            t_load = time.perf_counter() - t
            t = time.perf_counter()
            n = df.count()
            t_count = time.perf_counter() - t
            t, cpu = time.perf_counter(), time.process_time()
            n_local = len(M.load_local(path, roi))
            t_local, cpu_local = time.perf_counter() - t, time.process_time() - cpu
            print(
                f"rep {rep} chunks {len(vis)} lineage_rows {len(lin)} "
                f"lineage_read_s {t_read:.3f} rule_s {t_rule:.3f} "
                f"load_plan_s {t_load:.3f} plan_desc_kb {len(desc) / 1024:.0f} "
                f"count_s {t_count:.3f} blocks {n} "
                f"local_read_s {t_local:.3f} local_read_cpu_s {cpu_local:.3f} local_rows {n_local}"
            )
        if args.batches:
            batches_leg(spark, os.path.join(d, "batches"), sorted(int(n) for n in args.batches.split(",")))
    spark.stop()


def batches_leg(spark, path: str, counts: list[int]) -> None:
    """Fill a one-channel cube of 2x2-px chunks one tile per batch, and
    at each of ``counts`` committed batches time a cached ``load_local``
    of the first tile."""
    import statistics

    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid

    side, px, res = int(max(counts) ** 0.5) + 1, 2, 0.01
    grid = TileGrid(
        geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=res, width=side * px, height=side * px),
        chunk_px=px,
    )
    M.create_cube(path, M.CubeSpec(grid=grid, channels=("dem",), time_epochs=None))
    t_size = px * res

    def tile_roi(i: int):
        x, y = (i % side) * t_size, 20.0 - (i // side) * t_size
        return (x + t_size / 4, y - 3 * t_size / 4, x + 3 * t_size / 4, y - t_size / 4)

    n, t_build = 0, time.perf_counter()
    for count in counts:
        while n < count:
            M.materialize(spark, path, tile_roi(n))
            n += 1
        walls, cpus = [], []
        for _ in range(5):
            t, cpu = time.perf_counter(), time.process_time()
            assert len(M.load_local(path, tile_roi(0))) == 1
            walls.append(time.perf_counter() - t)
            cpus.append(time.process_time() - cpu)
        print(
            f"batches {count} build_s {time.perf_counter() - t_build:.1f} "
            f"cached_local_read_s {statistics.median(walls):.4f} "
            f"cached_local_read_cpu_s {statistics.median(cpus):.4f}"
        )


if __name__ == "__main__":
    main()
