"""M2: cube create/materialize/load + lineage idempotency + resume.

Mirrors the reference's creation tests (layout), golden-stat load tests
and kill/concurrency tests (``tests/test_creation.py``,
``tests/test_arcticdem.py:75-137``) in hermetic synthetic form."""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from smart_geocubes_spark.accessor import arcticdem_like
from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
from smart_geocubes_spark.plans.materialize import (
    PLAN_SCHEMA,
    CubeSpec,
    _chunk_key,
    candidate_chunks,
    create_cube,
    load,
    materialize,
    open_spec,
    plan_missing,
    read_lineage,
)
from smart_geocubes_spark.testing import spark_conf, spark_jobs

SMALL_GRID = TileGrid(
    geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=0.01, width=2000, height=2000),
    chunk_px=100,
)  # 20 x 20 tiles of 1 deg, 100x100 px chunks (FIXTURES.md §3)

ROI_A = (2.3, 15.2, 4.8, 17.9)  # tiles tx 2..4, ty 2..4 -> 3x3 = 9 tiles
ROI_B = (3.3, 14.2, 6.8, 16.9)  # overlaps ROI_A
# arcticdem_like (EPSG:3413) ROIs: tx 10..11 and tx 11..12, both ty 15..17
ROI_POLAR = (-800_000.0, -1_500_000.0, -300_000.0, -1_000_000.0)
ROI_POLAR_E = (-470_000.0, -1_500_000.0, 20_000.0, -1_000_000.0)


@pytest.fixture()
def cube(tmp_path):
    path = str(tmp_path / "cube")
    create_cube(path, CubeSpec(grid=SMALL_GRID, channels=("dem", "slope"), time_epochs=None))
    return path


def test_create_exists_semantics(cube):
    spec = open_spec(cube)
    assert spec.grid.n_tiles_x == 20 and spec.grid.n_tiles_y == 20
    # commit tickets from birth: the first fill is ticket-gated too
    assert os.path.isdir(os.path.join(cube, "lineage", "_commits"))
    with pytest.raises(FileExistsError):
        create_cube(cube, CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=None))


def test_candidate_enumeration(spark, cube):
    spec = open_spec(cube)
    cands = candidate_chunks(spec, ROI_A)
    assert len(cands) == 9 * 2  # 9 tiles x 2 channels
    with pytest.raises(ValueError):
        candidate_chunks(spec, (-50.0, -50.0, -40.0, -40.0))


def test_materialize_load_golden(spark, cube):
    m = materialize(spark, cube, ROI_A)
    assert m["written"] == 18
    df = load(spark, cube, ROI_A)
    assert df.count() == 18
    # golden closed-form zonal stats: block = ty*1000+tx+off + 0.5*p
    row = (
        df.filter((F.col("tile_y") == 3) & (F.col("tile_x") == 2) & (F.col("channel") == "dem"))
        .select(
            F.aggregate("block", F.lit(0.0), lambda a, x: a + x).alias("s"),
            F.array_min("block").alias("mn"),
            F.array_max("block").alias("mx"),
        )
        .collect()[0]
    )
    base = 3 * 1000 + 2
    assert row.mn == base
    assert row.mx == base + 0.5 * 9999
    assert row.s == base * 10000 + 0.5 * (9999 * 10000 / 2)


def test_idempotent_rerun_writes_zero(spark, cube):
    m1 = materialize(spark, cube, ROI_A)
    m2 = materialize(spark, cube, ROI_A)
    assert m1["written"] == 18 and m2["written"] == 0
    assert load(spark, cube, ROI_A).count() == 18  # no duplicates


def test_incremental_overlap_writes_complement(spark, cube):
    materialize(spark, cube, ROI_A)
    m2 = materialize(spark, cube, ROI_B)
    # ROI_B = 4x3 tiles, overlap with ROI_A = 2x2 -> 8 new tiles x 2 ch
    assert m2["written"] == 16
    lin = read_lineage(spark, cube)
    assert lin.count() == 18 + 16
    assert lin.select("chunk_key").distinct().count() == 34


def test_kill_and_restart_resume(spark, cube):
    """Crash between block write and lineage commit: orphan blocks stay
    invisible; restart completes to the exact same state as a clean run
    (reference semantics: uncommitted icechunk writes are invisible)."""
    with pytest.raises(RuntimeError, match="simulated crash"):
        materialize(spark, cube, ROI_A, fail_after_blocks=True)
    assert load(spark, cube, ROI_A).count() == 0  # nothing visible
    m = materialize(spark, cube, ROI_A)  # restart
    assert m["written"] == 18  # redoes exactly the missing chunks
    df = load(spark, cube, ROI_A)
    assert df.count() == 18
    assert df.select("chunk_key").distinct().count() == 18


def test_crash_before_first_ticket_is_invisible(spark, cube, monkeypatch):
    """Crash after the FIRST fill's lineage write but before its commit
    ticket: the batch must stay invisible (no blocks, no snapshot) and
    a clean rerun redoes every chunk — the same gate as every later
    fill, with no ticket-less first-fill mode."""
    import smart_geocubes_spark.plans.materialize as mat

    def crash(*a, **k):
        raise RuntimeError("simulated crash before the commit ticket")

    monkeypatch.setattr(mat, "_allocate_commit_seq", crash)
    with pytest.raises(RuntimeError, match="commit ticket"):
        materialize(spark, cube, ROI_A)
    monkeypatch.undo()
    assert load(spark, cube, ROI_A).count() == 0
    assert mat.snapshots(cube) == []
    assert materialize(spark, cube, ROI_A)["written"] == 18


def _visible_state(spark, cube, roi):
    return {
        (r.chunk_key, r.mn)
        for r in load(spark, cube, roi)
        .select("chunk_key", F.array_min("block").alias("mn"))
        .collect()
    }


def test_compact_shadows_then_vacuum_drops(spark, cube):
    """Compaction rewrites the visible winner set under a batch id that
    sorts FIRST (reserved '0' namespace), so the unchanged min-batch_id
    read rule flips to it atomically at lineage commit; vacuum then
    physically drops crashed orphans and fully-shadowed batches. Reader
    state must be IDENTICAL at every step."""
    import os as _os

    from smart_geocubes_spark.plans.materialize import compact, vacuum

    big = (2.0, 14.0, 7.0, 18.0)
    materialize(spark, cube, ROI_A)
    materialize(spark, cube, ROI_B)
    with pytest.raises(RuntimeError, match="simulated crash"):
        materialize(spark, cube, big, fail_after_blocks=True)  # orphan
    before = _visible_state(spark, cube, big)
    assert before

    m = compact(spark, cube)
    assert m["batch_id"].startswith("0") and m["batches_covered"] == 2
    assert _visible_state(spark, cube, big) == before

    # default age guard protects a fresh (possibly in-flight) batch
    # AND keeps freshly-shadowed batches for the retention window — a
    # lazy reader may still hold pre-compaction file paths (Delta-style
    # retention; the compact ticket is minutes old here)
    v0 = vacuum(spark, cube)
    assert not v0["orphans_removed"]
    assert not v0["shadowed_removed"]
    assert _visible_state(spark, cube, big) == before
    # ...age 0 = admin mode: retention waived, the crashed orphan AND
    # the manifest-vouched shadowed fills go
    v = vacuum(spark, cube, min_orphan_age_sec=0)
    assert any("blocks/" in x for x in v["orphans_removed"])  # the crash
    assert len(v["shadowed_removed"]) == 2  # both fill batches covered
    assert _visible_state(spark, cube, big) == before
    assert len(_os.listdir(_os.path.join(cube, "blocks"))) == 1  # one batch left
    # idempotent refill still writes nothing (lineage intact post-compact)
    assert materialize(spark, cube, ROI_A)["written"] == 0


def test_fill_after_compact_survives_vacuum(spark, cube):
    from smart_geocubes_spark.plans.materialize import compact, vacuum

    materialize(spark, cube, ROI_A)
    materialize(spark, cube, ROI_B)
    compact(spark, cube)
    new_roi = (8.3, 12.2, 9.8, 13.9)  # disjoint tiles: new chunks
    m = materialize(spark, cube, new_roi)
    assert m["written"] > 0
    v = vacuum(spark, cube, min_orphan_age_sec=0)
    assert f"batch={m['batch_id']}" not in v["shadowed_removed"]
    assert load(spark, cube, new_roi).count() == m["written"]
    # a SECOND compact folds the new batch in under a strictly smaller
    # id even though vacuum pruned the first compact's predecessors
    # (id derives from min live id, never from a count)
    m2 = compact(spark, cube)
    assert m2["batch_id"] < "0fffffffffff"
    vacuum(spark, cube, min_orphan_age_sec=0)
    assert load(spark, cube, new_roi).count() == m["written"]


def test_time_travel_as_of_batch(spark, cube):
    """Snapshot reads (icechunk time travel): as-of an old commit, only
    that commit's state is visible; composes with compaction (the
    compacted batch commits LAST even though its id sorts first, so
    historical views are unchanged); vacuum bounds the horizon."""
    import pytest as _pytest

    from smart_geocubes_spark.plans.materialize import compact, snapshots, vacuum

    big = (2.0, 14.0, 7.0, 18.0)
    m1 = materialize(spark, cube, ROI_A)
    m2 = materialize(spark, cube, ROI_B)
    snaps = snapshots(cube)
    assert [s["batch_id"] for s in snaps] == [m1["batch_id"], m2["batch_id"]]
    v1 = _visible_state(spark, cube, big)
    old = {
        (r.chunk_key, r.mn)
        for r in load(spark, cube, big, as_of_batch=m1["batch_id"])
        .select("chunk_key", F.array_min("block").alias("mn"))
        .collect()
    }
    assert len(old) == m1["written"] == 18
    assert old < v1  # strictly the first fill's view
    # latest snapshot == default read
    assert {
        (r.chunk_key, r.mn)
        for r in load(spark, cube, big, as_of_batch=m2["batch_id"])
        .select("chunk_key", F.array_min("block").alias("mn"))
        .collect()
    } == v1
    # compaction commits last: historical as-of views unchanged
    c = compact(spark, cube)
    assert [s["batch_id"] for s in snapshots(cube)][-1] == c["batch_id"]
    assert {
        (r.chunk_key, r.mn)
        for r in load(spark, cube, big, as_of_batch=m1["batch_id"])
        .select("chunk_key", F.array_min("block").alias("mn"))
        .collect()
    } == old
    # vacuum retires the shadowed batches -> horizon shrinks
    vacuum(spark, cube, min_orphan_age_sec=0)
    with _pytest.raises(ValueError, match="unknown snapshot"):
        load(spark, cube, big, as_of_batch=m1["batch_id"])
    assert _visible_state(spark, cube, big) == v1


def test_compact_preserves_event_history(spark, cube):
    """Maintenance must not erase the append-only event log: compaction
    carries all committed events into the compacted batch, read_events
    de-duplicates until vacuum, and post-vacuum history is intact."""
    from smart_geocubes_spark.plans.materialize import compact, read_events, vacuum

    m1 = materialize(spark, cube, ROI_A)
    m2 = materialize(spark, cube, ROI_B)
    rows = read_events(spark, cube).collect()
    before = {
        (r.chunk_key, r.batch_id, r.t_start_us, r.t_end_us, r.action) for r in rows
    }
    n_gen = sum(1 for r in rows if r.action == "generate")
    assert n_gen == m1["written"] + m2["written"]
    assert any(r.action == "write" for r in rows)  # write lanes carried too
    compact(spark, cube)
    assert {
        (r.chunk_key, r.batch_id, r.t_start_us, r.t_end_us, r.action)
        for r in read_events(spark, cube).collect()
    } == before  # copies de-duplicated
    vacuum(spark, cube, min_orphan_age_sec=0)
    assert {
        (r.chunk_key, r.batch_id, r.t_start_us, r.t_end_us, r.action)
        for r in read_events(spark, cube).collect()
    } == before  # originals gone, carried history remains


def test_batched_roi_load_matches_per_roi_loads(spark, cube):
    """Batched-ROI read (reference GeoDataFrame branch,
    core/accessor.py:400-426): one fill + ONE pruned scan with a
    roi_idx column must equal the per-ROI loads exactly; blocks in the
    overlap appear once per requesting ROI."""
    rois = [ROI_A, ROI_B]
    materialize(spark, cube, rois)  # one job fills the deduped union
    assert materialize(spark, cube, rois)["written"] == 0
    batched = load(spark, cube, rois)
    assert "roi_idx" in batched.columns
    per_roi_counts = []
    for i, r in enumerate(rois):
        single = load(spark, cube, r)
        got = {(row.chunk_key) for row in batched.filter(F.col("roi_idx") == i).collect()}
        want = {(row.chunk_key) for row in single.collect()}
        assert got == want and len(want) > 0
        per_roi_counts.append(single.count())
    assert batched.count() == sum(per_roi_counts)  # overlap: one row per ROI


def test_event_log_rows_and_duration_rollup(spark, cube):
    """Per-patch event log (reference core/backend.py:23-28,59-93): one
    committed event row per chunk written, carrying the partition that
    produced it and a sane [t_start, t_end] generation window; the
    start/end -> duration merge rolls them up per (batch, partition)."""
    from smart_geocubes_spark.plans.materialize import event_durations, read_events

    m = materialize(spark, cube, ROI_A)
    all_ev = read_events(spark, cube).collect()
    ev = [e for e in all_ev if e.action == "generate"]
    assert len(ev) == m["written"] == 18
    lineage_keys = {r.chunk_key for r in read_lineage(spark, cube).collect()}
    assert {e.chunk_key for e in ev} == lineage_keys
    for e in ev:
        assert e.batch_id == m["batch_id"]
        assert e.partition_id >= 0
        assert e.t_end_us >= e.t_start_us > 0
        assert e.n_bytes == 8 * 100 * 100
    dur = event_durations(spark, cube).collect()
    gen_dur = [r for r in dur if r.action == "generate"]
    assert sum(r.n_chunks for r in gen_dur) == 18
    assert sum(r.n_bytes for r in gen_dur) == 18 * 8 * 100 * 100
    for r in dur:
        assert r.duration_us == r.t_end_us - r.t_start_us >= 0
    # every generate lane has a matching write lane (two-phase Gantt);
    # write lanes may exceed gen lanes (empty-bucket tasks still write)
    assert {(r.batch_id, r.partition_id) for r in gen_dur} <= {
        (r.batch_id, r.partition_id) for r in dur if r.action == "write"
    }
    # a second idempotent run adds no events
    materialize(spark, cube, ROI_A)
    after = read_events(spark, cube).collect()
    assert sum(1 for e in after if e.action == "generate") == 18
    assert len(after) == len(all_ev)


def test_event_log_crash_invisible(spark, cube):
    """Events of a batch whose lineage commit never landed must be
    invisible (same gate as blocks), and a resume run emits exactly the
    redone chunks' events."""
    from smart_geocubes_spark.plans.materialize import read_events

    with pytest.raises(RuntimeError, match="simulated crash"):
        materialize(spark, cube, ROI_A, fail_after_blocks=True)
    assert read_events(spark, cube).count() == 0
    m = materialize(spark, cube, ROI_A)
    ev = read_events(spark, cube)
    gen = ev.filter(F.col("action") == "generate")
    assert gen.count() == 18
    assert ev.filter(F.col("batch_id") == m["batch_id"]).count() == ev.count()
    # write-phase rows (reference write actions): one per landed part
    # file, window end = parquet commit, bytes = file size
    wr = ev.filter(F.col("action") == "write").collect()
    assert len(wr) >= 1
    gen_pids = {r["partition_id"] for r in gen.collect()}
    # tight contract: every nonempty bucket's task commits a part file
    # (a write lane), and the only extra file Spark may emit is the
    # task-0 placeholder — so missing gen lanes CANNOT hide behind the
    # superset (missing gen ROWS are separately caught by the
    # chunk_key==lineage equality in the rollup test)
    wr_pids = {r["partition_id"] for r in wr}
    assert gen_pids <= wr_pids <= (gen_pids | {0})
    for r in wr:
        assert r["n_bytes"] > 0 and r["t_end_us"] >= r["t_start_us"]
        assert r["chunk_key"] is None and r["tile_id"] is None


def test_visualize_state_renders_partition_lanes(spark, cube):
    from smart_geocubes_spark.accessor import GeocubeAccessor
    from smart_geocubes_spark.plans.materialize import open_spec

    materialize(spark, cube, ROI_A)
    acc = GeocubeAccessor(spark=spark, path=cube, spec=open_spec(cube))
    s = acc.visualize_state()
    assert "chunks" in s and "#" in s
    # both per-partition lanes (reference download vs write actions):
    # '=' bars for generate, '~' bars for write
    assert "  p" in s and "generate" in s and "=" in s
    assert "write" in s and "~" in s


OPEN_COST = "spark.sql.files.openCostInBytes"


def test_fill_kernel_slices_follow_block_bytes(spark, cube, tmp_path):
    """A fill cuts each dtype group into one kernel slice per
    ``spark.sql.files.openCostInBytes`` of double blocks it generates,
    up to one per task slot: every partition of a mapInPandas frame is
    a Python task, and each task pays a fixed Python-worker cost before
    its first row. ROI_A's 18 chunks emit 1.44 MB, below the default
    4 MB: one task, one part file per leaf, one lineage file. With the
    open cost lowered the same fill must still spread over several
    tasks, not the ONE serial task AQE folds a bare repartition(col) of
    KB-sized plan rows into (round 4)."""
    from smart_geocubes_spark.plans.materialize import read_events

    slots = spark.sparkContext.defaultParallelism

    def gen_pids(path):
        ev = read_events(spark, path).filter(F.col("action") == "generate")
        return {r.partition_id for r in ev.collect()}

    def part_files(path):
        leaves = glob.glob(os.path.join(path, "blocks", "batch=*", "dt-*"))
        leaves += glob.glob(os.path.join(path, "lineage", "batch=*"))
        assert len(leaves) == 2  # one dt-double leaf + the lineage dir
        return [len(glob.glob(os.path.join(d, "part-*"))) for d in leaves]

    materialize(spark, cube, ROI_A)
    assert gen_pids(cube) == {0}
    assert part_files(cube) == [1, 1]

    wide = str(tmp_path / "wide")
    create_cube(wide, CubeSpec(grid=SMALL_GRID, channels=("dem", "slope"), time_epochs=None))
    with spark_conf(spark, {OPEN_COST: "200000"}):
        materialize(spark, wide, ROI_A)
    pids = gen_pids(wide)
    assert 2 <= len(pids) <= slots and max(pids) < slots
    assert part_files(wide) == [len(pids), 1]


def _typed_cube(path: str) -> str:
    """A two-dtype cube whose groups differ in size on ROI_A (18 float
    rows, 9 bool rows), so each leaf is sliced on its own."""
    create_cube(path, CubeSpec(
        grid=SMALL_GRID, channels=("dem", "slope", "mask"),
        dtypes=("float32", "float32", "bool"), time_epochs=None,
    ))
    return path


def _partition_ids_agree(spark, path: str) -> dict[str, list[int]]:
    """Assert that per chunk, the lineage row's ``partition_id``, the
    block row's ``partition_id`` and the index of the ``part-<i>`` file
    holding it name the same kernel task; return each leaf's chunk
    count per slice, in slice order."""
    import pyarrow.parquet as pq

    lin = {r.chunk_key: r.partition_id for r in read_lineage(spark, path).collect()}
    seen: dict[str, str] = {}
    sizes: dict[str, dict[int, int]] = {}
    for leaf in glob.glob(os.path.join(path, "blocks", "batch=*", "dt-*")):
        name = os.path.basename(leaf)
        for f in glob.glob(os.path.join(leaf, "part-*")):
            idx = int(os.path.basename(f).split("-")[1])
            t = pq.read_table(f, columns=["chunk_key", "partition_id"]).to_pydict()
            for key, pid in zip(t["chunk_key"], t["partition_id"]):
                assert pid == idx == lin[key], (key, pid, idx, lin[key])
                seen[key] = name
                sizes.setdefault(name, {}).setdefault(idx, 0)
                sizes[name][idx] += 1
    assert set(seen) == set(lin)
    return {name: [n for _, n in sorted(s.items())] for name, s in sorted(sizes.items())}


def test_lineage_event_and_file_partition_ids_agree(spark, tmp_path):
    """The three partition ids of a chunk agree at the default conf
    (each group below one open cost: one slice) and with the open cost
    lowered and four parents per group, where coalescing p = 4
    ``LocalTableScan`` slices into k = 3 (float: 1.44 MB) and k = 2
    (bool: 0.72 MB of generated doubles) gives uneven slices."""
    path = _typed_cube(str(tmp_path / "default"))
    assert materialize(spark, path, ROI_A)["written"] == 27
    assert _partition_ids_agree(spark, path) == {"dt-boolean": [9], "dt-float": [18]}

    path = _typed_cube(str(tmp_path / "lowered"))
    with spark_conf(spark, {OPEN_COST: "600000", "spark.sql.leafNodeDefaultParallelism": "4"}):
        assert materialize(spark, path, ROI_A)["written"] == 27
    assert _partition_ids_agree(spark, path) == {"dt-boolean": [4, 5], "dt-float": [4, 5, 9]}


def test_partition_ids_agree_past_local_relation_threshold(spark, tmp_path):
    """Past ``spark.sql.execution.arrow.localRelationThreshold`` PySpark
    ships a plan group as a ``LogicalRDD`` with one partition per
    ``maxRecordsPerBatch`` Arrow batch, not as a ``LocalTableScan``: the
    slices follow the leaf Spark built. Float: batches of 5, 5, 5, 3
    rows coalesced into 3 slices; bool: batches of 5, 4 into 2."""
    path = _typed_cube(str(tmp_path / "cube"))
    with spark_conf(spark, {
        "spark.sql.execution.arrow.localRelationThreshold": "100",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "5",
        OPEN_COST: "600000",
    }):
        assert materialize(spark, path, ROI_A)["written"] == 27
    assert _partition_ids_agree(spark, path) == {"dt-boolean": [5, 4], "dt-float": [5, 5, 8]}


def test_partition_ids_agree_on_a_scattered_kernel_frame(spark, tmp_path, monkeypatch):
    """The slice ids follow the tasks that actually run, not a plan of
    Spark's slicing: a kernel-feeding frame that comes back scattered
    over 3 round-robin partitions still gives every chunk one id in its
    lineage row, its block row and its part file's name, and no task
    overwrites another's file."""
    import smart_geocubes_spark.plans.materialize as M

    real = M.local_frame

    def scattered(spark, rows, schema=None):
        df = real(spark, rows, schema)
        return df.repartition(3) if schema == M.KERNEL_SCHEMA else df

    monkeypatch.setattr(M, "local_frame", scattered)
    path = _typed_cube(str(tmp_path / "cube"))
    with spark_conf(spark, {OPEN_COST: "600000"}):
        assert materialize(spark, path, ROI_A)["written"] == 27
    sizes = _partition_ids_agree(spark, path)
    assert {k: sum(v) for k, v in sizes.items()} == {"dt-boolean": 9, "dt-float": 18}
    assert load(spark, path, ROI_A).count() == 27


def test_cold_fill_runs_one_job(spark, cube):
    """A cold fill into an empty single-dtype cube is one Spark job, the
    block write: its plan rows are sliced on the driver (no shuffle
    job, no checkpoint) and its lineage rows are written with pyarrow."""
    with spark_jobs(spark) as cold:
        assert materialize(spark, cube, ROI_A)["written"] == 18
    assert len(cold) == 1, cold
    assert not [j for j in cold if any(s.startswith("localCheckpoint") for s in j)], cold


def test_fill_and_patch_jobs_carry_the_callers_job_group(spark, tmp_path):
    """A multi-dtype fill and a patch each run ONE Spark job, on the
    caller's thread: it carries the caller's ``setJobGroup``, and no job
    without a group runs (a writer thread's job would have none)."""
    from smart_geocubes_spark.plans.materialize import materialize_patch

    path = _typed_cube(str(tmp_path / "c"))
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    with spark_jobs(spark) as fill:
        assert materialize(spark, path, ROI_A)["written"] == 27
    with spark_jobs(spark) as patch:
        assert materialize_patch(spark, path, (2.0, 17.0001, 2.5, 17.9999), "p")["written"] == 3
    assert len(fill) == 1 and len(patch) == 1, (fill, patch)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_kernel_crash_after_a_file_landed_is_invisible(spark, cube, monkeypatch):
    """A kernel task that fails after its block file landed fails the
    fill: no leaf or batch ``_SUCCESS``, no lineage, no snapshot, no
    block served — and the next fill redoes every chunk."""
    import smart_geocubes_spark.plans.materialize as M

    real = M._fill_kernel

    def crash(batches, **kw):
        list(real(batches, **kw))  # the task's files land
        raise RuntimeError("simulated kernel crash")

    with monkeypatch.context() as mp:
        mp.setattr(M, "_fill_kernel", crash)
        with pytest.raises(Exception, match="simulated kernel crash"):
            materialize(spark, cube, ROI_A)
    assert glob.glob(os.path.join(cube, "blocks", "batch=*", "dt-*", "part-*"))
    assert not glob.glob(os.path.join(cube, "blocks", "batch=*", "**", "_SUCCESS"), recursive=True)
    assert not glob.glob(os.path.join(cube, "lineage", "batch=*"))
    assert M.snapshots(cube) == []
    assert load(spark, cube, ROI_A).count() == 0
    assert len(plan_missing(spark, cube, candidate_chunks(open_spec(cube), ROI_A))) == 18
    assert materialize(spark, cube, ROI_A)["written"] == 18
    got = {(r.chunk_key, r.mn) for r in load(spark, cube, ROI_A).select(
        "chunk_key", F.array_min("block").alias("mn")).collect()}
    assert len(got) == 18
    assert ("-1-3-2-dem", 3002.0) in got and ("-1-3-2-slope", 503002.0) in got


# each storage element type's parquet physical type
_PHYSICAL = {
    "double": "DOUBLE", "float": "FLOAT", "smallint": "INT32", "boolean": "BOOLEAN",
    "long": "INT64", "int": "INT32", "string": "BYTE_ARRAY",
}


@pytest.mark.parametrize("kind", ["float64", "typed", "temporal", "patched"])
def test_stored_block_files_follow_the_closed_form(spark, tmp_path, kind):
    """Every block file a fill or a patch writes holds, per chunk, the
    closed form of ``block_base_values`` (+10 a time step, +0.5 a pixel;
    a patch's offset inside its footprint and NULL outside every patch)
    cast to the channel's stored type as Spark's ANSI cast does (float32
    rounds to nearest, bool is ``!= 0``, int16 truncates toward zero);
    ``v_min``/``v_max``/``n_valid`` over those stored values (NULL,
    NULL, 0 for no valid pixel); and BLOCK_FILE_SCHEMA's parquet
    physical types, smallint as a 16-bit INT32."""
    import numpy as np
    import pyarrow.parquet as pq

    from smart_geocubes_spark.plans.materialize import (
        BLOCK_FILE_SCHEMA,
        DTYPES,
        block_base_values,
        materialize_patch,
    )

    typed = dict(channels=("dem", "datamask", "class16"), dtypes=("float32", "bool", "int16"))
    spec = {
        "float64": dict(channels=("dem", "slope"), time_epochs=None),
        "typed": dict(typed, time_epochs=None),
        "temporal": dict(channels=("dem", "mask"), dtypes=("float32", "bool"),
                         time_epochs=(1577836800, 1609459200)),
        "patched": dict(typed, time_epochs=None),
    }[kind]
    path = str(tmp_path / "c")
    create_cube(path, CubeSpec(grid=SMALL_GRID, **spec))
    col = np.arange(100 * 100) % 100
    if kind == "patched":
        # both in tile (2, 2): A covers columns 0..49, B 40..99 (offset 1000)
        a = materialize_patch(spark, path, (2.0, 17.0001, 2.5, 17.9999), "a")["batch_id"]
        materialize_patch(spark, path, (2.4, 17.0001, 2.9999, 17.9999), "b", value_offset=1000.0)
        written = 2 * 3
    else:
        written = materialize(spark, path, ROI_A)["written"]
    spec = open_spec(path)
    n_rows = 0
    for f in glob.glob(os.path.join(path, "blocks", "batch=*", "dt-*", "part-*")):
        elem = os.path.basename(os.path.dirname(f))[3:]
        schema = pq.read_metadata(f).schema
        physical = {schema.column(i).path.split(".")[0]: schema.column(i) for i in range(len(schema))}
        for name, typ in (c.split() for c in BLOCK_FILE_SCHEMA.split(", ")):
            want = elem if name == "block" else typ
            assert physical[name].physical_type == _PHYSICAL[want], (name, physical[name])
        if elem == "smallint":
            assert str(physical["block"].logical_type) == "Int(bitWidth=16, isSigned=true)"

        t = pq.read_table(f)
        rows = t.drop_columns(["block"]).to_pandas()
        assert {DTYPES[spec.channel_dtype(c)] for c in rows["channel"]} == {elem}
        step = rows["time_idx"].to_numpy()
        x = (block_base_values(rows) + np.where(step >= 0, step * 10.0, 0.0))[:, None] + 0.5 * np.arange(100 * 100)
        if kind == "patched":
            merged = os.path.basename(os.path.dirname(os.path.dirname(f))) != f"batch={a}"
            # patch A alone is NULL outside its columns; B is merged over A
            x = np.where(col >= 40, x + 1000.0, x) if merged else np.where(col < 50, x, np.nan)
        null = np.isnan(x)
        want = {
            "double": lambda v: v, "float": lambda v: v.astype(np.float32),
            "boolean": lambda v: v != 0.0, "smallint": lambda v: np.trunc(v).astype(np.int16),
        }[elem](np.where(null, 0.0, x))
        vals = t["block"].combine_chunks().flatten()
        got_null = vals.is_null().to_numpy(zero_copy_only=False).reshape(x.shape)
        got = vals.fill_null(False if elem == "boolean" else 0).to_numpy(zero_copy_only=False).reshape(x.shape)
        assert got.dtype == want.dtype
        assert np.array_equal(got_null, null)
        assert np.array_equal(got[~null], want[~null])
        wide = want.astype(np.float64)
        n_valid = (~null).sum(axis=1)
        assert rows["n_valid"].tolist() == n_valid.tolist()
        for i in range(len(rows)):
            lo, hi = rows["v_min"].iat[i], rows["v_max"].iat[i]
            if n_valid[i]:
                assert (lo, hi) == (wide[i][~null[i]].min(), wide[i][~null[i]].max())
            else:
                assert np.isnan(lo) and np.isnan(hi)
        n_rows += len(rows)
    assert n_rows == written


def test_plan_missing_antijoin(spark, cube):
    spec = open_spec(cube)
    materialize(spark, cube, ROI_A)
    missing = plan_missing(spark, cube, candidate_chunks(spec, ROI_B))
    assert len(missing) == 16
    # the cache skip never invents chunks
    keys = set(missing["chunk_key"])
    done = {r.chunk_key for r in read_lineage(spark, cube).collect()}
    assert not keys & done


def test_cached_fill_runs_no_job(spark, cube):
    """The cache skip is planned on the driver: a fill's per-channel
    counts come off the pandas plan (no count job) and its lineage is a
    driver-side pyarrow read, so no fill runs a collect job and a fully
    cached fill runs no Spark job at all."""
    with spark_jobs(spark) as cold:
        assert materialize(spark, cube, ROI_A)["written"] == 18
    assert not [j for j in cold if any(n.startswith("collect at ") for n in j)], cold
    with spark_jobs(spark) as partial:
        assert materialize(spark, cube, ROI_B)["written"] == 16
    assert not [j for j in partial if any(n.startswith("collect at ") for n in j)], partial
    with spark_jobs(spark) as cached:
        assert materialize(spark, cube, ROI_A)["skipped"] == "all cached"
    assert cached == [], cached


@pytest.mark.parametrize("kind", ["atemporal", "temporal_toi", "arcticdem_like"])
def test_driver_plan_keys_match_spark_chunk_keys(spark, tmp_path, kind):
    """The driver-built ``chunk_key`` must equal :func:`_chunk_key`'s
    ``concat_ws`` — the key ``load()`` computes on the block rows and
    semi-joins to lineage. A mismatch would hide every fill from its
    readers and plan every chunk as missing forever. Covers
    ``time_idx = -1``, a TOI subset, a two-dtype cube, and a partially
    cached ROI planning exactly its uncached chunks."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "c")
    first, second, toi = ROI_A, ROI_B, None
    if kind == "arcticdem_like":
        arcticdem_like(spark, path).create()
        first, second = ROI_POLAR, ROI_POLAR_E
    else:
        epochs = None if kind == "atemporal" else (1577836800, 1609459200, 1640995200)
        create_cube(path, CubeSpec(grid=SMALL_GRID, channels=("dem", "slope"), time_epochs=epochs))
        if epochs:
            toi = [epochs[0], epochs[2]]
    spec = open_spec(path)
    cands = candidate_chunks(spec, second, toi)
    if kind == "temporal_toi":
        assert set(cands["time_idx"]) == {0, 2}
    else:
        assert set(cands["time_idx"]) == {-1}
    spark_keys = (
        spark.createDataFrame(cands, PLAN_SCHEMA)
        .select("chunk_key", _chunk_key().alias("spark_key"))
        .collect()
    )
    assert len(spark_keys) == len(cands)
    assert all(r.chunk_key == r.spark_key for r in spark_keys)

    materialize(spark, path, first, toi)
    missing = plan_missing(spark, path, cands)
    assert 0 < len(missing) < len(cands)  # partially cached
    m = materialize(spark, path, second, toi)
    assert m["written"] == len(missing)
    written = read_lineage(spark, path).filter(F.col("batch_id") == m["batch_id"])
    assert {r.chunk_key for r in written.collect()} == set(missing["chunk_key"])
    # load() keys the block rows with _chunk_key() and keeps only those
    # a committed lineage row names: every candidate must come back
    served = load(spark, path, second, toi).select("chunk_key").collect()
    assert sorted(r.chunk_key for r in served) == sorted(cands["chunk_key"])
    assert plan_missing(spark, path, cands).empty
    # the plan's explicit schema keeps time_idx INT32 on disk (a pandas
    # int32 column converted without one widens to LONG)
    for f in glob.glob(os.path.join(path, "lineage", "batch=*", "part-*.parquet")):
        assert str(pq.read_schema(f).field("time_idx").type) == "int32", f


def test_temporal_cube(spark, tmp_path):
    path = str(tmp_path / "tcube")
    epochs = (1577836800, 1609459200)
    create_cube(path, CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=epochs))
    m = materialize(spark, path, ROI_A, toi_epochs=[1609459200])
    assert m["written"] == 9
    df = load(spark, path, ROI_A, toi_epochs=[1609459200])
    assert df.count() == 9
    # time shift applied to block values
    row = df.filter((F.col("tile_y") == 3) & (F.col("tile_x") == 2)).select(
        F.array_min("block").alias("mn")
    ).collect()[0]
    assert row.mn == 3 * 1000 + 2 + 1 * 10.0
    # full-TOI fill adds only the other step
    m2 = materialize(spark, path, ROI_A)
    assert m2["written"] == 9


def test_concurrent_fills_no_duplicates(spark, cube):
    """Reference concurrency semantics (tests/test_arcticdem.py:75-101):
    overlapping ROIs filled from multiple threads concurrently must end
    in a consistent cube — every chunk visible exactly once, golden
    values intact — even when racing batches double-commit a chunk."""
    from concurrent.futures import ThreadPoolExecutor

    rois = [ROI_A, ROI_B, (2.9, 14.8, 5.9, 17.2)]
    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [ex.submit(materialize, spark, cube, r) for r in rois]
        for f in futs:
            f.result()
    big = (2.0, 14.0, 7.0, 18.0)
    df = load(spark, cube, big)
    n = df.count()
    assert n == df.select("chunk_key").distinct().count()  # no dup chunks
    # every candidate of the union ROI set is present
    spec = open_spec(cube)
    want = set()
    for r in rois:
        for tx, ty in spec.grid.tiles_overlapping_bbox(*r):
            for ch in ("dem", "slope"):
                want.add(f"-1-{ty}-{tx}-{ch}")
    got = {r.chunk_key for r in df.select("chunk_key").collect()}
    assert got == want
    # rerun writes nothing
    assert materialize(spark, cube, ROI_A)["written"] == 0


@pytest.mark.parametrize("later_wins", [True, False], ids=["later_commit_wins", "earlier_commit_wins"])
def test_read_rule_min_batch_wins_on_every_read(spark, cube, monkeypatch, later_wins):
    """THE read rule, deterministically: a second fill re-commits every
    cached chunk under a new batch id (its cache skip forced off), so
    each chunk has two committed lineage rows. Every read path serves
    each chunk exactly once, from the min batch_id — whether that batch
    committed first or last."""
    import types

    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.plans.materialize import chunk_stats, load_changes

    first, second = ("b" * 12, "a" * 12) if later_wins else ("a" * 12, "b" * 12)
    ids = iter([first + "0" * 20, second + "0" * 20])
    with monkeypatch.context() as mp:
        mp.setattr(M, "uuid", types.SimpleNamespace(uuid4=lambda: types.SimpleNamespace(hex=next(ids))))
        assert materialize(spark, cube, ROI_A)["batch_id"] == first
        mp.setattr(M, "_missing", lambda candidates, lineage: candidates)
        m2 = materialize(spark, cube, ROI_A)
    assert (m2["batch_id"], m2["written"]) == (second, 18)
    winner = min(first, second)
    keys = sorted(candidate_chunks(open_spec(cube), ROI_A)["chunk_key"])

    def served(df, batch):
        rows = df.select("chunk_key", "batch_id").collect()
        assert sorted(r.chunk_key for r in rows) == keys  # each chunk exactly once
        assert {r.batch_id for r in rows} == {batch}

    served(load(spark, cube, ROI_A), winner)
    served(chunk_stats(spark, cube, ROI_A), winner)
    served(load(spark, cube, ROI_A, value_range=(-1e12, 1e12)), winner)
    served(load(spark, cube, ROI_A, as_of_batch=first), first)
    served(load(spark, cube, ROI_A, as_of_batch=second), winner)
    changes = load_changes(spark, cube, ROI_A, first)
    if winner == first:
        assert changes.count() == 0  # the re-commit lost every chunk
    else:
        served(changes, second)


def test_load_changes_reads_one_snapshot(spark, cube, monkeypatch):
    """load_changes resolves its change set and the blocks it serves
    against ONE commit prefix: a commit landing between its lineage
    read and its block read — a forced re-commit of the ROI under a
    smaller batch id, which wins every chunk from then on — changes
    nothing it returns."""
    import types

    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.plans.materialize import load_changes

    def served(df):
        return sorted((r.chunk_key, r.batch_id) for r in df.select("chunk_key", "batch_id").collect())

    ids = iter(h * 12 + "0" * 20 for h in "cda")
    with monkeypatch.context() as mp:
        mp.setattr(M, "uuid", types.SimpleNamespace(uuid4=lambda: types.SimpleNamespace(hex=next(ids))))
        first = materialize(spark, cube, (2.3, 16.2, 3.8, 17.9))["batch_id"]  # 4 of ROI_A's tiles
        assert materialize(spark, cube, ROI_A)["written"] == 10
        want = served(load_changes(spark, cube, ROI_A, first))
        assert len(want) == 10 and {b for _, b in want} == {"d" * 12}

        real, raced = M._lineage_rows, []

        def racing(*a, **k):
            rows = real(*a, **k)
            if not raced:  # once, and not again for its own fill
                raced.append(True)
                with monkeypatch.context() as inner:
                    inner.setattr(M, "_missing", lambda candidates, lineage: candidates)
                    assert materialize(spark, cube, ROI_A)["batch_id"] == "a" * 12
            return rows

        mp.setattr(M, "_lineage_rows", racing)
        got = served(load_changes(spark, cube, ROI_A, first))
    assert raced  # the re-commit did land mid-read
    assert got == want
    assert {b for _, b in served(load(spark, cube, ROI_A))} == {"a" * 12}


@pytest.mark.parametrize(
    "call, listings, lineage_reads",
    [
        ("snapshots", 1, 0),
        ("load", 1, 1),
        ("load_as_of", 1, 1),
        ("chunk_stats", 1, 1),
        ("load_local", 1, 1),
        ("cached_persisted_load", 1, 1),
        ("cold_persisted_load", 2, 2),  # before its fill, and after its commit
        ("load_changes", 1, 1),
        ("refresh_overviews", 1, 1),
        ("load_overview", 1, 0),
        ("compact", 1, 0),
        ("vacuum", 1, 0),
    ],
)
def test_each_store_call_lists_commit_state_once(spark, cube, monkeypatch, call, listings, lineage_reads):
    """Each public store call reads ``lineage/_commits`` once — through
    ``snapshots()``, or vacuum's own read — and resolves every read it
    makes against that listing; its ROI lineage is read by as many
    ``_lineage_rows`` calls as it has listings. A fill's commit-ticket
    allocation is a write and not counted."""
    import sys

    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.accessor import GeocubeAccessor

    first = materialize(spark, cube, ROI_A)["batch_id"]
    M.build_overviews(spark, cube, factors=(2,))
    if call != "load_overview":  # a change to merge, and a second batch to compact
        materialize(spark, cube, ROI_B)
    acc = GeocubeAccessor(spark=spark, path=cube, spec=open_spec(cube))
    run = {
        "snapshots": lambda: M.snapshots(cube),
        "load": lambda: load(spark, cube, ROI_A),
        "load_as_of": lambda: load(spark, cube, ROI_A, as_of_batch=first),
        "chunk_stats": lambda: M.chunk_stats(spark, cube, ROI_A),
        "load_local": lambda: M.load_local(cube, ROI_A),
        "cached_persisted_load": lambda: acc.load(ROI_B, persist=True),
        "cold_persisted_load": lambda: acc.load((8.3, 15.2, 8.8, 15.8), persist=True),
        "load_changes": lambda: M.load_changes(spark, cube, ROI_A, first),
        "refresh_overviews": lambda: M.refresh_overviews(spark, cube, factors=(2,)),
        "load_overview": lambda: M.load_overview(spark, cube, ROI_A, 2),
        "compact": lambda: M.compact(spark, cube),
        "vacuum": lambda: M.vacuum(spark, cube, min_orphan_age_sec=0),
    }[call]
    listed, real_listdir = [], os.listdir
    rows, real_rows = [], M._lineage_rows

    def listdir(p="."):
        if (
            isinstance(p, str)
            and os.path.basename(os.path.normpath(p)) == "_commits"
            and sys._getframe(1).f_code.co_name != "_allocate_commit_seq"
        ):
            listed.append(p)
        return real_listdir(p)

    with monkeypatch.context() as mp:
        mp.setattr(os, "listdir", listdir)
        mp.setattr(M, "_lineage_rows", lambda *a, **k: rows.append(a) or real_rows(*a, **k))
        run()
    assert len(listed) == listings
    assert len(rows) == lineage_reads


def test_in_literal_quotes_values(spark):
    """The read path's literal IN list matches values with SQL quote
    and escape characters verbatim (channel names are free-form), keeps
    integers numeric, and an empty list matches nothing."""
    import numpy as np

    from smart_geocubes_spark.plans.materialize import _in_literal

    vals = ["-1-2-3-dem", "it's", "back\\slash", "q'\\'q"]
    df = spark.createDataFrame([(v,) for v in vals + ["other"]], "k string")
    assert sorted(r.k for r in df.filter(_in_literal("k", vals)).collect()) == sorted(vals)
    assert df.filter(_in_literal("k", [])).count() == 0
    # integers stay numeric literals (numpy ints too), against a bigint
    # column (tile_id) and an int one (time_idx)
    for typ in ("bigint", "int"):
        nums = spark.range(10).selectExpr(f"CAST(id AS {typ}) AS n")
        got = nums.filter(_in_literal("n", [np.int64(3), 7])).collect()
        assert sorted(r.n for r in got) == [3, 7], typ


def test_cached_accessor_load_runs_no_job(spark, tmp_path):
    """A cached ``accessor.load(persist=True)`` runs no Spark job: the
    fill's cache skip and the read's visibility read lineage on the
    driver, and the crop itself is a driver-side pyarrow read — with or
    without a ``value_range``, whose zone-map columns ride the same
    read."""
    acc = arcticdem_like(spark, str(tmp_path / "c"))
    acc.create()
    n = len(acc.load(ROI_POLAR, persist=True))
    with spark_jobs(spark) as cached:
        assert len(acc.load(ROI_POLAR, persist=True)) == n
    assert cached == [], cached
    with spark_jobs(spark) as ranged:
        assert len(acc.load(ROI_POLAR, persist=True, value_range=(-1e12, 1e12))) == n
    assert ranged == [], ranged


def _assert_local_read_matches(spark, path: str, roi, **kw):
    """``load_local`` returns the frame ``load(...).toPandas()`` returns
    with Arrow off: the same columns in the same order, the same
    dtypes, and cell for cell the same values — ``block`` a Python list
    of floats with ``None`` where a NULL is stored and NaN where a NaN
    is. Rows are compared sorted by ``(roi_idx, chunk_key)``: row order
    is not part of the contract. Returns the driver-read frame."""
    import numpy as np

    from smart_geocubes_spark.plans.materialize import load_local

    want = load(spark, path, roi, **kw).toPandas()
    got = load_local(path, roi, **kw)
    assert list(got.columns) == list(want.columns)
    assert dict(got.dtypes) == dict(want.dtypes)
    key = [c for c in ("roi_idx", "chunk_key") if c in want.columns]
    want, got = (df.sort_values(key).reset_index(drop=True) for df in (want, got))
    for c in want.columns:
        if c != "block":
            assert got[c].tolist() == want[c].tolist(), c
    for g, w in zip(got["block"], want["block"]):
        assert type(g) is list and len(g) == len(w)
        assert [v is None for v in g] == [v is None for v in w]
        assert all(type(v) is float for v in g if v is not None)
        as_np = [np.array([np.nan if v is None else v for v in b], dtype=np.float64) for b in (g, w)]
        assert np.array_equal(*as_np, equal_nan=True)
    return got


def test_local_read_matches_spark_frame(spark, cube, monkeypatch):
    """The driver render of a read equals its Spark render frame for
    frame on a float64 cube: channels, ``value_range`` (one that prunes
    everything too), ``as_of_batch``, a bbox list and a polygon
    (``roi_idx``), a double-committed chunk, a crashed orphan batch, a
    patched chunk with NULL borders, a compacted cube and an ROI with
    nothing committed."""
    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.plans.materialize import compact, materialize_patch

    tri = "POLYGON ((2.3 15.2, 4.8 15.2, 2.3 17.9, 2.3 15.2))"
    empty = (12.3, 5.2, 13.8, 6.9)
    orphan = (6.3, 15.2, 7.8, 16.9)  # tx 6..7, ty 3..4: tx 7 only crashed
    first = materialize(spark, cube, ROI_A)["batch_id"]
    # re-commit ROI_B's chunks: ROI_A's 8 overlap chunks go to the min
    # batch id, so one winning batch also holds losing rows — a read
    # matches visibility per (batch_id, chunk_key), not per batch
    with monkeypatch.context() as mp:
        mp.setattr(M, "_missing", lambda candidates, lineage: candidates)
        assert materialize(spark, cube, ROI_B)["written"] == 24
    with pytest.raises(RuntimeError, match="simulated crash"):
        materialize(spark, cube, orphan, fail_after_blocks=True)
    materialize_patch(spark, cube, (5.0, 16.0001, 5.5, 16.9999), "half")  # tile (5, 3)
    n_tri = len(candidate_chunks(open_spec(cube), tri))  # all inside ROI_A

    def reads():
        assert len(_assert_local_read_matches(spark, cube, ROI_B)) == 24
        assert len(_assert_local_read_matches(spark, cube, orphan)) == 4
        assert len(_assert_local_read_matches(spark, cube, ROI_A, channels=["slope"])) == 9
        assert len(_assert_local_read_matches(spark, cube, ROI_A, value_range=(2000.0, 2010.0))) == 3
        assert _assert_local_read_matches(spark, cube, ROI_A, value_range=(1e12, 2e12)).empty
        assert len(_assert_local_read_matches(spark, cube, [ROI_A, ROI_B, tri])) == 18 + 24 + n_tri
        assert len(_assert_local_read_matches(spark, cube, tri, channels=["dem"])) == n_tri // 2
        assert _assert_local_read_matches(spark, cube, empty).empty
        assert _assert_local_read_matches(spark, cube, [empty]).empty

    reads()
    assert len(_assert_local_read_matches(spark, cube, ROI_A, as_of_batch=first)) == 18
    assert compact(spark, cube)["batch_id"] is not None
    reads()


def test_local_read_matches_spark_frame_typed(spark, tmp_path):
    """The same contract on typed storage: float32 + bool
    (``arcticdem_like``, through ``accessor.load(persist=True)``), a
    float32/bool cube whose patched chunk holds NULL holes in both
    leaves, a uint8 cube, and a temporal cube read with a TOI."""
    from smart_geocubes_spark.plans.materialize import materialize_patch

    acc = arcticdem_like(spark, str(tmp_path / "arctic"))
    acc.create()
    got = acc.load([ROI_POLAR, ROI_POLAR_E], persist=True)
    assert set(got["roi_idx"]) == {0, 1}
    for kw in ({}, {"channels": ["datamask"]}, {"value_range": (1.0, 1.0)}):
        _assert_local_read_matches(spark, acc.path, [ROI_POLAR, ROI_POLAR_E], **kw)
        _assert_local_read_matches(spark, acc.path, ROI_POLAR, **kw)

    typed = _typed_cube(str(tmp_path / "typed"))
    materialize_patch(spark, typed, (2.0, 16.0001, 2.5, 16.9999), "left")  # tile (2, 3)
    materialize(spark, typed, ROI_A)
    got = _assert_local_read_matches(spark, typed, ROI_A)
    assert len(got) == 27 and any(None in b for b in got["block"])

    u8 = str(tmp_path / "u8")
    grid = TileGrid(geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=0.25, width=80, height=80), chunk_px=4)
    create_cube(u8, CubeSpec(grid=grid, channels=("m8", "dem"), dtypes=("uint8", "float64"), time_epochs=None))
    materialize(spark, u8, (0.1, 19.1, 3.9, 19.9))  # tiles tx 0..3 of row 0
    assert len(_assert_local_read_matches(spark, u8, (0.1, 19.1, 3.9, 19.9))) == 8
    assert len(_assert_local_read_matches(spark, u8, (0.1, 19.1, 3.9, 19.9), channels=["m8"])) == 4

    epochs = (1577836800, 1609459200, 1640995200)
    temporal = str(tmp_path / "temporal")
    create_cube(temporal, CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=epochs))
    materialize(spark, temporal, ROI_A, [epochs[0], epochs[2]])
    assert len(_assert_local_read_matches(spark, temporal, ROI_A, toi_epochs=[epochs[2]])) == 9
    assert len(_assert_local_read_matches(spark, temporal, ROI_A)) == 18


def test_pyarrow_lineage_reads_back_everywhere(spark, tmp_path):
    """A fill's lineage files are written by pyarrow, in tile order, and
    read back the same rows through Spark's ``read_lineage`` under
    LINEAGE_SCHEMA — the read of ``compact``, ``vacuum``,
    ``loaded_patches`` and ``current_state`` — and through the driver's
    ``_lineage_rows``."""
    import pyarrow.parquet as pq

    from smart_geocubes_spark.accessor import GeocubeAccessor
    from smart_geocubes_spark.plans.materialize import (
        LINEAGE_SCHEMA,
        _lineage_rows,
        compact,
        vacuum,
    )

    path = str(tmp_path / "c")
    epochs = (1577836800, 1609459200)
    create_cube(path, CubeSpec(
        grid=SMALL_GRID, channels=("dem", "mask"), dtypes=("float32", "bool"), time_epochs=epochs,
    ))
    materialize(spark, path, ROI_A)
    materialize(spark, path, ROI_B)
    files = glob.glob(os.path.join(path, "lineage", "batch=*", "part-*.parquet"))
    assert len(files) == 2
    on_disk = []
    for f in files:
        t = pq.read_table(f)
        assert t["tile_id"].to_pylist() == sorted(t["tile_id"].to_pylist())
        on_disk += [tuple(r.values()) for r in t.to_pylist()]
    lin = read_lineage(spark, path)
    assert lin.dtypes == [tuple(c.split()) for c in LINEAGE_SCHEMA.replace(" long", " bigint").split(", ")]
    assert sorted(tuple(r) for r in lin.collect()) == sorted(on_disk)
    assert len(on_disk) == (9 + 8) * 2 * 2
    tiles = sorted({r[1] for r in on_disk})
    assert sorted(map(tuple, _lineage_rows(path, tiles).to_numpy().tolist())) == sorted(
        (r[0], r[4], r[8]) for r in on_disk
    )
    acc = GeocubeAccessor(spark=spark, path=path, spec=open_spec(path))
    assert sorted(acc.loaded_patches()) == sorted(r[0] for r in on_disk)
    assert len(acc.current_state()) == len(on_disk)
    before = sorted((r.chunk_key, r.tile_id) for r in load(spark, path, (2.0, 14.0, 7.0, 18.0)).collect())
    assert compact(spark, path)["chunks"] == len(on_disk)
    assert len(vacuum(spark, path, min_orphan_age_sec=0)["shadowed_removed"]) == 2
    after = sorted((r.chunk_key, r.tile_id) for r in load(spark, path, (2.0, 14.0, 7.0, 18.0)).collect())
    assert after == before and len(after) == len(on_disk)


def test_crash_before_lineage_success_is_invisible(spark, cube, monkeypatch):
    """A crash after the lineage parquet landed but before its
    ``_SUCCESS`` leaves the batch invisible: no snapshot, no lineage
    row, no block served, every chunk still planned — and the next fill
    redoes exactly those chunks."""
    import types

    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.plans.materialize import snapshots

    real = M.pq.write_table

    def crash(*a, **k):
        real(*a, **k)
        raise RuntimeError("simulated crash before the lineage _SUCCESS")

    with monkeypatch.context() as mp:
        mp.setattr(M, "pq", types.SimpleNamespace(write_table=crash))
        with pytest.raises(RuntimeError, match="lineage _SUCCESS"):
            materialize(spark, cube, ROI_A)
    (d,) = glob.glob(os.path.join(cube, "lineage", "batch=*"))
    assert glob.glob(os.path.join(d, "part-*.parquet"))
    assert not os.path.exists(os.path.join(d, "_SUCCESS"))
    assert snapshots(cube) == []
    assert read_lineage(spark, cube).count() == 0
    assert load(spark, cube, ROI_A).count() == 0
    assert len(plan_missing(spark, cube, candidate_chunks(open_spec(cube), ROI_A))) == 18
    assert materialize(spark, cube, ROI_A)["written"] == 18
    assert load(spark, cube, ROI_A).count() == 18


def test_vacuum_never_deletes_unvouched_shadowed_batch(spark, cube):
    """A committed batch that wins zero chunks (dup-only concurrent
    fill) is shadowed, but if no compaction ever carried its event
    history there is no copy anywhere — vacuum must keep it (the event
    log is append-only). Only after a compaction's commit record
    vouches for it (``covered``) may vacuum drop it."""
    import shutil as _sh

    from smart_geocubes_spark.plans.materialize import (
        _allocate_commit_seq,
        compact,
        read_events,
        snapshots,
        vacuum,
    )

    m = materialize(spark, cube, ROI_A)
    # forge a committed duplicate batch with a LARGER id: copies every
    # chunk of the first fill, so it wins nothing (deterministic stand-in
    # for the racing-fill interleaving)
    dup = "f" * 12
    for sub in ("blocks", "events", "lineage"):
        src = os.path.join(cube, sub, f"batch={m['batch_id']}")
        if os.path.isdir(src):
            _sh.copytree(src, os.path.join(cube, sub, f"batch={dup}"))
    _allocate_commit_seq(cube, dup, snapshots(cube)[0]["ranges"], covered=None)
    ev_before = read_events(spark, cube).count()

    v = vacuum(spark, cube, min_orphan_age_sec=0)
    assert not v["shadowed_removed"]  # shadowed but unvouched -> kept
    assert read_events(spark, cube).count() == ev_before

    compact(spark, cube)  # carries ALL committed events + writes manifest
    v2 = vacuum(spark, cube, min_orphan_age_sec=0)
    assert any(dup in b for b in v2["shadowed_removed"])
    # event history survives via the compacted copy (dedup'd by reader)
    assert read_events(spark, cube).count() == ev_before


def test_commit_record_seq_collision(spark, cube, monkeypatch):
    """Three commits that each see an empty ``_commits`` listing all
    try seq 1 first: the atomic link of each record fails on a taken
    seq and moves to the next, so they get seqs 1, 2 and 3, and every
    record reads back whole. A hidden temp file — a record still being
    written — is not a snapshot."""
    import sys

    import smart_geocubes_spark.plans.materialize as M

    real_listdir = os.listdir

    def listdir(p="."):
        if sys._getframe(1).f_code.co_name == "_allocate_commit_seq":
            return []
        return real_listdir(p)

    rois = [ROI_A, (8.3, 15.2, 9.8, 16.9), (12.3, 10.2, 13.8, 11.9)]
    with monkeypatch.context() as mp:
        mp.setattr(os, "listdir", listdir)
        bids = [materialize(spark, cube, roi)["batch_id"] for roi in rois]
    with open(os.path.join(cube, "lineage", "_commits", ".torn"), "w") as f:
        f.write('{"committed_at": 1')
    snaps = M.snapshots(cube)
    assert [(s["batch_id"], s["seq"]) for s in snaps] == list(zip(bids, [1, 2, 3]))
    for s in snaps:
        assert s["covered"] is None and isinstance(s["committed_at"], float)
        (name,) = os.listdir(os.path.join(cube, "lineage", f"batch={s['batch_id']}"))
        assert list(s["ranges"]) == [name]
    assert sorted(os.listdir(os.path.join(cube, "lineage", "_commits"))) == [
        ".torn", "0000000001", "0000000002", "0000000003"
    ]
    assert load(spark, cube, (2.0, 10.0, 14.0, 18.0)).count() == 18 + 8 + 8


def test_interrupted_vacuum_leaves_an_orphan(spark, cube, monkeypatch):
    """A vacuum killed after it uncommitted a shadowed batch (its record
    unlinked) but before its dirs were gone changes no visible row: the
    batch is no longer a snapshot, and the next vacuum removes its dirs
    as an orphan."""
    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.plans.materialize import compact, snapshots, vacuum

    big = (2.0, 14.0, 7.0, 18.0)
    materialize(spark, cube, ROI_A)
    materialize(spark, cube, ROI_B)
    compact(spark, cube)
    before = _visible_state(spark, cube, big)
    ids = {s["batch_id"] for s in snapshots(cube)}

    def killed(*a, **k):
        raise RuntimeError("simulated crash during vacuum")

    with monkeypatch.context() as mp:
        mp.setattr(M.shutil, "rmtree", killed)
        with pytest.raises(RuntimeError, match="during vacuum"):
            vacuum(spark, cube, min_orphan_age_sec=0)
    (gone,) = ids - {s["batch_id"] for s in snapshots(cube)}
    assert os.path.isdir(os.path.join(cube, "blocks", f"batch={gone}"))
    assert _visible_state(spark, cube, big) == before

    v = vacuum(spark, cube, min_orphan_age_sec=0)
    assert f"blocks/batch={gone}" in v["orphans_removed"]
    assert f"lineage/batch={gone}" in v["orphans_removed"]
    assert len(v["shadowed_removed"]) == 1
    assert not glob.glob(os.path.join(cube, "*", f"batch={gone}"))
    assert _visible_state(spark, cube, big) == before


def test_record_unlinked_under_a_reader_reads_as_uncommitted(spark, cube, monkeypatch):
    """A vacuum that uncommits a shadowed batch between a reader's
    listing of ``_commits`` and its read of that record leaves the
    reader a snapshot without the batch, not an error, and the same
    visible rows."""
    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.plans.materialize import compact, snapshots

    big = (2.0, 14.0, 7.0, 18.0)
    materialize(spark, cube, ROI_A)
    materialize(spark, cube, ROI_B)
    compact(spark, cube)
    before = _visible_state(spark, cube, big)
    first = snapshots(cube)[0]
    rec = M._ticket(cube, first["seq"])
    with open(rec) as f:
        saved = f.read()
    real_listdir = os.listdir

    def listdir(p="."):
        names = real_listdir(p)
        if isinstance(p, str) and os.path.basename(os.path.normpath(p)) == "_commits":
            if os.path.exists(rec):
                os.unlink(rec)
        return names

    for read in (lambda: snapshots(cube), lambda: _visible_state(spark, cube, big)):
        with open(rec, "w") as f:
            f.write(saved)
        with monkeypatch.context() as mp:
            mp.setattr(os, "listdir", listdir)
            got = read()
        assert not os.path.exists(rec)
        if isinstance(got, list):
            assert len(got) == 2 and first["batch_id"] not in {s["batch_id"] for s in got}
        else:
            assert got == before


def test_vacuum_reaps_old_commit_temps(spark, cube):
    """A commit-record temp file left in ``_commits`` (its committer was
    killed before it removed it) is no snapshot, and vacuum removes it
    once it is older than ``min_orphan_age_sec``."""
    from smart_geocubes_spark.plans.materialize import snapshots, vacuum

    materialize(spark, cube, ROI_A)
    tmp = os.path.join(cube, "lineage", "_commits", ".left")
    with open(tmp, "w") as f:
        f.write('{"committed_at": 1')
    assert len(snapshots(cube)) == 1
    assert vacuum(spark, cube, min_orphan_age_sec=3600)["orphans_removed"] == []
    assert os.path.exists(tmp)
    os.utime(tmp, (time.time() - 7200,) * 2)
    assert vacuum(spark, cube, min_orphan_age_sec=3600)["orphans_removed"] == [
        "lineage/_commits/.left"
    ]
    assert not os.path.exists(tmp)
    assert len(snapshots(cube)) == 1


def test_patch_merge_preserves_borders_and_time_travel(spark, cube):
    """Merge-on-write (reference core/backend.py:263-272): two patches
    partially covering the same chunk preserve each other's pixels —
    the later patch wins where it has data, the earlier patch fills its
    NaN borders; golden closed-form values. Pre-merge snapshots still
    read the A-only state (shadow-batch time travel)."""
    import numpy as np

    from smart_geocubes_spark.plans.materialize import materialize_patch

    # both patches live inside tile (2,2): A covers cols 0..49, B
    # covers cols 40..99 (pixel-center mask; boundaries sit on the
    # midpoints between centers, 0.005 deg clear of float noise)
    A = (2.0, 17.0001, 2.5, 17.9999)
    B = (2.4, 17.0001, 2.9999, 17.9999)
    m1 = materialize_patch(spark, cube, A, "patchA")
    assert m1["written"] == 2  # one tile x 2 channels
    m2 = materialize_patch(spark, cube, B, "patchB", value_offset=1000.0)
    assert m2["written"] == 2
    # shadow namespace: each merge id sorts below the previous, so the
    # newest merge wins under the unchanged min-batch_id read rule
    assert m2["batch_id"] < m1["batch_id"]

    roi = (2.1, 17.2, 2.9, 17.8)
    rows = load(spark, cube, roi).filter(F.col("channel") == "dem").collect()
    assert len(rows) == 1
    blk = np.array(rows[0].block)
    p = np.arange(100 * 100)
    col = p % 100
    expect = 2 * 1000.0 + 2 + 0.5 * p + np.where(col >= 40, 1000.0, 0.0)
    assert np.array_equal(blk, expect)

    # time travel to the post-A commit: right half still NaN
    rows_a = (
        load(spark, cube, roi, as_of_batch=m1["batch_id"])
        .filter(F.col("channel") == "dem")
        .collect()
    )
    # missing pixels surface as NULL (Arrow maps the kernel's NaN to
    # null in list columns) — normalize to NaN for the assertion
    blk_a = np.array([np.nan if v is None else v for v in rows_a[0].block])
    a_expect = 2 * 1000.0 + 2 + 0.5 * p
    assert np.array_equal(blk_a[col < 50], a_expect[col < 50])
    assert np.isnan(blk_a[col >= 50]).all()

    # patch identity: re-applying is a no-op (loaded_patches semantics)
    assert materialize_patch(spark, cube, A, "patchA")["written"] == 0
    # the merged chunks are committed lineage: a normal fill skips them
    missing = plan_missing(spark, cube, candidate_chunks(open_spec(cube), roi))
    assert len(missing) == 0


def test_patch_merge_over_full_fill(spark, cube):
    """A patch over an already fully-filled chunk replaces exactly its
    covered pixels and keeps the rest byte-identical (the reference's
    data[nan_mask] = existing with no NaN in existing)."""
    import numpy as np

    from smart_geocubes_spark.plans.materialize import materialize_patch

    roi = (5.1, 13.2, 5.9, 13.8)  # tile (5,6)
    materialize(spark, cube, roi)
    patch = (5.0, 13.0001, 5.5, 13.9999)  # left half of the tile
    materialize_patch(spark, cube, patch, "p-left", value_offset=500.0)
    blk = np.array(
        load(spark, cube, roi).filter(F.col("channel") == "dem").collect()[0].block
    )
    p = np.arange(100 * 100)
    col = p % 100
    expect = 6 * 1000.0 + 5 + 0.5 * p + np.where(col < 50, 500.0, 0.0)
    assert np.array_equal(blk, expect)


class TestAddChannel:
    """Schema evolution: ALTER-ADD-COLUMN analog with lazy backfill."""

    def test_lazy_backfill_and_time_travel(self, spark, cube):
        from smart_geocubes_spark.plans.materialize import add_channel

        m1 = materialize(spark, cube, ROI_A)
        assert m1["written"] == 18  # 9 tiles x (dem, slope)

        spec2 = add_channel(cube, "aspect")
        assert spec2.channels == ("dem", "slope", "aspect")
        assert open_spec(cube).channels == ("dem", "slope", "aspect")

        # the SAME ROI refills exactly the new channel's chunks
        m2 = materialize(spark, cube, ROI_A)
        assert m2["written"] == 9

        df = load(spark, cube, ROI_A)
        by_ch = {r["channel"]: r["n"] for r in
                 df.groupBy("channel").agg(F.count("*").alias("n")).collect()}
        assert by_ch == {"dem": 9, "slope": 9, "aspect": 9}

        # time travel to before the evolution: no new-channel blocks
        old = load(spark, cube, ROI_A, as_of_batch=m1["batch_id"])
        assert old.filter(F.col("channel") == "aspect").count() == 0
        assert old.count() == 18

        # a fresh ROI after evolution fills all three channels at once
        m3 = materialize(spark, cube, (8.3, 12.2, 8.9, 12.9))  # 1 tile
        assert m3["written"] == 3

    def test_duplicate_channel_raises(self, cube):
        from smart_geocubes_spark.plans.materialize import add_channel

        with pytest.raises(ValueError, match="already exists"):
            add_channel(cube, "dem")

    def test_accessor_refreshes_spec(self, spark, tmp_path):
        from smart_geocubes_spark.accessor import GeocubeAccessor
        from smart_geocubes_spark.plans.materialize import CubeSpec

        acc = GeocubeAccessor(
            spark=spark,
            path=str(tmp_path / "acc_cube"),
            spec=CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=None),
        )
        acc.create()
        acc.fill(ROI_A)
        acc.add_channel("slope")
        assert acc.spec.channels == ("dem", "slope")
        assert acc.fill(ROI_A)["written"] == 9  # lazy backfill via accessor

    def test_compact_preserves_evolved_state(self, spark, cube):
        from smart_geocubes_spark.plans.materialize import add_channel, compact

        materialize(spark, cube, ROI_A)
        add_channel(cube, "aspect")
        materialize(spark, cube, ROI_A)  # backfill the new channel

        def state(df):
            return {
                (r.tile_id, r.channel): r.s
                for r in df.groupBy("tile_id", "channel")
                .agg(F.sum(F.expr("aggregate(block, CAST(0.0 AS DOUBLE), (a, x) -> a + x)")).alias("s"))
                .collect()
            }

        before = state(load(spark, cube, ROI_A))
        compact(spark, cube)
        after = state(load(spark, cube, ROI_A))
        assert before == after and len(before) == 27


def test_compacted_lineage_is_in_tile_order(spark, cube):
    """compact() writes its lineage in tile_id order, like a fill: read
    in file-name and row order, tile_id never decreases, so each file
    and row group covers its own tile range for the driver read's range
    guard to prune (the winner window's chunk_key order puts tile_y 10
    before tile_y 7)."""
    import pyarrow.parquet as pq

    from smart_geocubes_spark.plans.materialize import compact

    materialize(spark, cube, (2.3, 7.2, 3.8, 12.9))  # tx 2..3, ty 7..12
    materialize(spark, cube, (4.3, 7.2, 5.8, 12.9))  # tx 4..5, ty 7..12
    bid = compact(spark, cube)["batch_id"]
    files = sorted(glob.glob(os.path.join(cube, "lineage", f"batch={bid}", "*.parquet")))
    tiles = [t for f in files for t in pq.read_table(f, columns=["tile_id"])["tile_id"].to_pylist()]
    assert len(tiles) == 48
    assert tiles == sorted(tiles)


def test_lineage_read_prunes_other_batches_row_groups(spark, cube, monkeypatch):
    """An ROI read's lineage filter skips every row group of a batch
    whose tiles lie outside the ROI's tile range: pyarrow prunes by
    row-group statistics on the range guard, not on an ``is_in``."""
    import pyarrow.dataset as ds

    from smart_geocubes_spark.plans.materialize import LINEAGE_ARROW
    from tests.test_plan_quality import _lineage_filters

    far_roi = (2.3, 7.2, 4.8, 9.9)  # tx 2..4, ty 10..12: tile ids 202..244
    near = materialize(spark, cube, ROI_A)["batch_id"]  # tile ids 42..84
    far = materialize(spark, cube, far_roi)["batch_id"]

    def row_groups(batch, f):
        d = ds.dataset(os.path.join(cube, "lineage", f"batch={batch}"), format="parquet", schema=LINEAGE_ARROW)
        return [rg for frag in d.get_fragments() for rg in frag.split_by_row_group(filter=f)]

    _, (f,) = _lineage_filters(monkeypatch, lambda: load(spark, cube, ROI_A))
    assert row_groups(near, f) and not row_groups(far, f)
    _, (f,) = _lineage_filters(monkeypatch, lambda: load(spark, cube, far_roi))
    assert row_groups(far, f) and not row_groups(near, f)


def test_lineage_read_opens_only_the_rois_files(spark, cube, monkeypatch):
    """Each lineage batch records its part files' tile_id ranges, so over
    ten batches in distinct tile rows a one-row ROI's lineage read opens
    only its own batch's files, not every committed batch's footer —
    and after a compaction only the compacted files whose range meets
    the ROI's, beside them."""
    import smart_geocubes_spark.plans.materialize as M

    rows = []
    for ty in range(10):  # tiles tx 0..2 of row ty: tile ids 20*ty .. 20*ty + 2
        roi = (0.2, 19.2 - ty, 2.8, 19.8 - ty)
        rows.append((roi, materialize(spark, cube, roi)["batch_id"]))

    def lineage_opened(roi) -> tuple[set[str], object]:
        opened, real = [], M._read_files

        def spy(source, *a, **k):
            opened.extend([source] if isinstance(source, str) else source)
            return real(source, *a, **k)

        with monkeypatch.context() as mp:
            mp.setattr(M, "_read_files", spy)
            got = M.load_local(cube, roi)
        lineage = [p for p in opened if isinstance(p, str) and f"{os.sep}lineage{os.sep}" in p]
        assert lineage
        return {p.split("batch=")[1].split(os.sep)[0] for p in lineage}, got

    roi, bid = rows[6]
    batches, got = lineage_opened(roi)
    assert batches == {bid}
    assert len(got) == 6 and set(got["batch_id"]) == {bid}

    cid = M.compact(spark, cube)["batch_id"]
    assert next(s for s in M.snapshots(cube) if s["batch_id"] == cid)["ranges"]
    batches, got = lineage_opened(roi)
    assert batches <= {bid, cid} and cid in batches
    assert len(got) == 6 and set(got["batch_id"]) == {cid}


def test_lineage_read_prunes_batches_side_by_side(spark, cube, monkeypatch):
    """A fill's manifest entry bounds its file's tile columns too: six
    3x3-tile batches side by side in the same tile rows all meet a
    2x2-tile ROI's tile_id range, but only the batch under it is
    opened."""
    import smart_geocubes_spark.plans.materialize as M

    bids = [
        materialize(spark, cube, (3 * bx + 0.2, 17.2, 3 * bx + 2.8, 19.8))["batch_id"]
        for bx in range(6)  # tiles tx 3bx..3bx+2, ty 0..2
    ]
    ranges = [
        next(iter(M._footer_tile_ranges(os.path.join(cube, "lineage", f"batch={b}")).values()))
        for b in bids
    ]
    roi = (9.2, 18.2, 10.8, 19.8)  # tx 9..10, ty 0..1: tile ids 9..30
    assert all(lo <= 30 and hi >= 9 for lo, hi in ranges)  # the id ranges all meet it

    opened, real = [], M._read_files

    def spy(source, *a, **k):
        opened.extend([source] if isinstance(source, str) else source)
        return real(source, *a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(M, "_read_files", spy)
        got = M.load_local(cube, roi)
    lineage = [p for p in opened if isinstance(p, str) and f"{os.sep}lineage{os.sep}" in p]
    assert {p.split("batch=")[1].split(os.sep)[0] for p in lineage} == {bids[3]}
    assert len(got) == 8 and set(got["batch_id"]) == {bids[3]}


def test_persisted_cached_load_reads_lineage_once(spark, tmp_path, monkeypatch):
    """``accessor.load(persist=True)`` of a cached ROI plans its read
    from the fill's cache-skip lineage read instead of reading the
    lineage again; a channel projection and a load that filled read
    their own. Each returns what ``load_local`` returns afterwards."""
    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.accessor import arcticdem_like

    acc = arcticdem_like(spark, str(tmp_path / "cube"))
    acc.create()

    def load(roi, **kw):
        calls, real = [], M._lineage_rows
        with monkeypatch.context() as mp:
            mp.setattr(M, "_lineage_rows", lambda *a, **k: calls.append(a) or real(*a, **k))
            got = acc.load(roi, persist=True, **kw)
        want = M.load_local(acc.path, roi, channels=kw.get("channels"))
        key = ["chunk_key", "batch_id"] + (["roi_idx"] if "roi_idx" in got.columns else [])
        assert got.sort_values(key).reset_index(drop=True).equals(
            want.sort_values(key).reset_index(drop=True)
        )
        return len(calls), got

    assert load(ROI_POLAR)[0] == 2  # the fill's read, then the plan's after its commit
    n, got = load(ROI_POLAR)
    assert n == 1 and len(got) == len(M.candidate_chunks(acc.spec, ROI_POLAR))
    n, got = load(ROI_POLAR, channels=["dem"])
    assert n == 2 and set(got["channel"]) == {"dem"}
    # overlapping ROIs: the shared tiles' chunks come from the first batch
    assert load(ROI_POLAR_E)[0] == 2
    n, got = load([ROI_POLAR, ROI_POLAR_E])
    assert n == 1 and "roi_idx" in got.columns


class TestChannelProjection:
    def test_load_channels_filters_and_raises(self, spark, cube):
        materialize(spark, cube, ROI_A)
        df = load(spark, cube, ROI_A, channels=["slope"])
        assert df.count() == 9
        assert {r.channel for r in df.select("channel").distinct().collect()} == {"slope"}
        with pytest.raises(ValueError, match="unknown channels"):
            load(spark, cube, ROI_A, channels=["nope"])

    def test_channel_filter_pushed_to_both_scans(self, spark, cube, monkeypatch):
        """The channel IN filter reaches both reads of a load: the
        driver-side lineage read that resolves visibility, and the block
        scan — the only scan in load()'s returned plan."""
        from tests.test_plan_quality import (
            _assert_lineage_filters,
            _assert_no_visibility_subplan,
            _lineage_filters,
            _pushed,
            plan_of,
        )

        materialize(spark, cube, ROI_A)
        df, filters = _lineage_filters(monkeypatch, lambda: load(spark, cube, ROI_A, channels=["dem"]))
        plan = plan_of(df)
        assert len(_pushed(plan, "channel")) == 1, plan
        _assert_no_visibility_subplan(plan)
        _assert_lineage_filters(filters, "tile_id", "channel")


class TestPolygonROI:
    """Geometry ROI at the cube API (reference load() accepts
    Geometry | GeoBox | GeoDataFrame, core/accessor.py:331-358): a
    concave polygon fills/loads strictly fewer chunks than its bbox —
    the bbox path over-fetches exactly the notch tiles."""

    # L-shape over tiles tx 1..4, ty 1..4; top-right 2x2 notch excluded
    POLY = [
        (1.25, 15.25), (4.75, 15.25), (4.75, 16.75),
        (2.75, 16.75), (2.75, 18.75), (1.25, 18.75),
    ]
    WKT = (
        "POLYGON ((1.25 15.25, 4.75 15.25, 4.75 16.75, 2.75 16.75, "
        "2.75 18.75, 1.25 18.75, 1.25 15.25))"
    )
    BBOX = (1.25, 15.25, 4.75, 18.75)
    NOTCH = {(tx, ty) for tx in (3, 4) for ty in (1, 2)}

    def test_fill_strictly_fewer_chunks_than_bbox(self, spark, cube):
        m = materialize(spark, cube, self.POLY)
        assert m["written"] == 12 * 2  # 16-tile bbox minus 2x2 notch
        lin = read_lineage(spark, cube)
        filled = {
            (r["tile_id"] % 20, r["tile_id"] // 20)
            for r in lin.select("tile_id").distinct().collect()
        }
        assert len(filled) == 12
        assert filled.isdisjoint(self.NOTCH)
        # resume with the BBOX: only the notch tiles remain to write
        m2 = materialize(spark, cube, self.BBOX)
        assert m2["written"] == 4 * 2

    def test_load_polygon_golden(self, spark, cube):
        import numpy as np

        materialize(spark, cube, self.BBOX)
        df = load(spark, cube, self.POLY)
        assert df.select("tile_id").distinct().count() == 12
        blk = np.array(
            df.filter(
                (F.col("tile_y") == 2) & (F.col("tile_x") == 2)
                & (F.col("channel") == "dem")
            ).collect()[0]["block"]
        )
        # same synthetic formula every golden-load test pins
        assert np.array_equal(blk, 2 * 1000.0 + 2 + 0.5 * np.arange(100 * 100))
        with pytest.raises(ValueError, match="does not intersect"):
            load(spark, cube, [(50.0, -50.0), (51.0, -50.0), (51.0, -49.0)])

    def test_wkt_equals_pairs_and_batch_list(self, spark, cube):
        materialize(spark, cube, self.WKT)  # WKT accepted at fill too
        a = load(spark, cube, self.WKT).select("chunk_key")
        b = load(spark, cube, self.POLY).select("chunk_key")
        assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
        # batch branch: polygon and bbox items mix; roi_idx maps back
        batch = load(spark, cube, [self.POLY, (1.25, 15.25, 2.75, 16.75)])
        per_roi = {
            r["roi_idx"]: r["n"]
            for r in batch.groupBy("roi_idx")
            .agg(F.count_distinct("tile_id").alias("n")).collect()
        }
        assert per_roi == {0: 12, 1: 4}


class TestChannelDtypes:
    """Per-channel storage dtypes (reference datasets/arcticdem.py:169-172:
    float32 dem + bool datamask; tctrend.py:53-57: uint8 slopes). Storage
    is typed; load() always returns array<double>."""

    DT_SPEC = dict(
        grid=SMALL_GRID,
        channels=("dem", "datamask", "class16"),
        dtypes=("float32", "bool", "int16"),
        time_epochs=None,
    )

    def _typed_cube(self, tmp_path):
        path = str(tmp_path / "typed_cube")
        create_cube(path, CubeSpec(**self.DT_SPEC))
        return path

    def test_spec_validation(self, tmp_path):
        with pytest.raises(ValueError, match="parallel"):
            CubeSpec(grid=SMALL_GRID, channels=("a", "b"), dtypes=("bool",),
                     time_epochs=None)
        with pytest.raises(ValueError, match="unknown dtypes"):
            CubeSpec(grid=SMALL_GRID, channels=("a",), dtypes=("float128",),
                     time_epochs=None)

    def test_dtypes_survive_meta_roundtrip(self, tmp_path):
        path = self._typed_cube(tmp_path)
        spec = open_spec(path)
        assert spec.dtypes == ("float32", "bool", "int16")
        assert spec.channel_dtype("datamask") == "bool"

    def test_fill_load_quantization_golden(self, spark, tmp_path):
        import numpy as np

        path = self._typed_cube(tmp_path)
        m = materialize(spark, path, ROI_A)
        assert m["written"] == 27  # 9 tiles x 3 channels
        df = load(spark, path, ROI_A)
        # compute representation is uniformly double, whatever the storage
        assert dict(df.dtypes)["block"] == "array<double>"
        assert df.count() == 27
        rows = df.filter((F.col("tile_y") == 3) & (F.col("tile_x") == 2)).collect()
        by_ch = {r["channel"]: np.array(r["block"]) for r in rows}
        formula = 3 * 1000.0 + 2 + 0.5 * np.arange(100 * 100)
        # float32 rounds to nearest representable, then widens back
        assert np.array_equal(by_ch["dem"], formula.astype(np.float32).astype(np.float64))
        # bool stores value != 0 -> loads as exactly 0.0/1.0
        assert np.array_equal(by_ch["datamask"], (formula != 0.0).astype(np.float64))
        # int16 truncates toward zero
        assert np.array_equal(by_ch["class16"], np.trunc(formula))

    def test_typed_storage_schema_and_bool_bitmap(self, spark, tmp_path):
        """Pin the STORAGE guarantee: block columns land with the typed
        parquet physical type (BOOLEAN/FLOAT/INT32-as-smallint — parquet
        has no 16-bit physical type), and the bool channel's block
        column is bitmap-sized — orders of magnitude under a double
        channel. (Total file size is fixture-hostile: snappy compresses
        the synthetic double RAMP better than the float32 ramp, so the
        durable claims are the schema and the bool bandwidth, plus the
        lineage byte accounting pinned below.)"""
        import pyarrow.parquet as pq

        def block_col_bytes(cube_path, sub):
            total = 0
            d = None
            for root, dirs, files in os.walk(os.path.join(cube_path, "blocks")):
                if os.path.basename(root) == sub:
                    for f in files:
                        if not f.startswith("part-"):
                            continue
                        pf = pq.ParquetFile(os.path.join(root, f))
                        for rg in range(pf.metadata.num_row_groups):
                            g = pf.metadata.row_group(rg)
                            for c in range(g.num_columns):
                                col = g.column(c)
                                if col.path_in_schema.startswith("block."):
                                    total += col.total_compressed_size
                                    d = col.physical_type
            return total, d

        typed = self._typed_cube(tmp_path)
        materialize(spark, typed, ROI_A)
        plain = str(tmp_path / "plain_cube")
        create_cube(plain, CubeSpec(**{**self.DT_SPEC, "dtypes": None}))
        materialize(spark, plain, ROI_A)
        bool_bytes, bool_t = block_col_bytes(typed, "dt-boolean")
        float_bytes, float_t = block_col_bytes(typed, "dt-float")
        # an all-float64 cube writes the same leaf layout: dt-double
        plain_bytes, plain_t = block_col_bytes(plain, "dt-double")
        assert (bool_t, float_t, plain_t) == ("BOOLEAN", "FLOAT", "DOUBLE")
        per_plain_channel = plain_bytes / 3  # 3 channels share the files
        assert bool_bytes < 0.05 * per_plain_channel, (bool_bytes, plain_bytes)

    def test_lineage_accounts_typed_bytes(self, spark, tmp_path):
        path = self._typed_cube(tmp_path)
        materialize(spark, path, ROI_A)
        by_ch = {
            r["channel"]: r["b"]
            for r in read_lineage(spark, path)
            .groupBy("channel").agg(F.max("n_bytes").alias("b")).collect()
        }
        n_px = 100 * 100
        assert by_ch == {"dem": 4 * n_px, "datamask": 1 * n_px, "class16": 2 * n_px}

    def test_patch_merge_and_compact_on_typed_cube(self, spark, tmp_path):
        import numpy as np

        from smart_geocubes_spark.plans.materialize import compact, materialize_patch

        path = self._typed_cube(tmp_path)
        materialize(spark, path, ROI_A)
        before = load(spark, path, ROI_A).count()
        # a patch partially covering one tile must keep existing pixels
        materialize_patch(spark, path, (2.0, 16.0, 2.5, 17.0), "p1", value_offset=0.0)
        df = load(spark, path, ROI_A)
        assert df.count() == before  # same chunk set, shadowed rewrite
        blk = np.array(
            df.filter(
                (F.col("tile_y") == 3) & (F.col("tile_x") == 2) & (F.col("channel") == "dem")
            ).collect()[0]["block"]
        )
        formula = (3 * 1000.0 + 2 + 0.5 * np.arange(100 * 100)).astype(np.float32)
        assert np.array_equal(blk, formula.astype(np.float64))  # no holes punched
        compact(spark, path)
        after = load(spark, path, ROI_A)
        assert after.count() == before
        assert dict(after.dtypes)["block"] == "array<double>"

    def test_typed_write_events_unique_per_leaf(self, spark, tmp_path):
        """r6 correctness fix (advisor item #4): each dtype-group write
        job restarts part numbering at part-00000, so a typed batch's
        'write' event rows used to share partition_ids across leaves
        and event_durations conflated files from different jobs into
        one lane. Every write row must be its own lane now."""
        from smart_geocubes_spark.plans.materialize import (
            event_durations,
            read_events,
        )

        path = self._typed_cube(tmp_path)
        materialize(spark, path, ROI_A)
        wr = read_events(spark, path).filter(F.col("action") == "write").collect()
        pids = [r["partition_id"] for r in wr]
        assert len(pids) == len(set(pids)), "one write lane per physical file"
        lanes = event_durations(spark, path).filter(
            F.col("action") == "write"
        ).collect()
        assert len(lanes) == len(wr)
        assert all(r["n_chunks"] == 1 for r in lanes)

    def test_bool_channel_holes_stay_null(self, spark, tmp_path):
        """r6 correctness fix (advisor item #1): NULL no-data holes in
        a stored BOOL chunk must read back as NULL, not 0.0 — Spark's
        IF treats a NULL condition as false, so the old widen turned
        partial-fill holes into real 'false' pixels (patch merges then
        kept them, and chunk stats counted them valid)."""
        import numpy as np

        from smart_geocubes_spark.plans.materialize import (
            chunk_stats,
            materialize_patch,
        )

        path = str(tmp_path / "boolcube")
        create_cube(
            path,
            CubeSpec(grid=SMALL_GRID, channels=("wet",), dtypes=("bool",),
                     time_epochs=None),
        )
        # patch covers only the LEFT half of tile (tx=2, ty=3): the
        # right half of that chunk is a genuine no-data hole
        materialize_patch(spark, path, (2.0, 16.0, 2.5, 17.0), "p_left")

        def tile_arr():
            row = (
                load(spark, path, (2.0, 16.0, 3.0, 17.0))
                .filter((F.col("tile_x") == 2) & (F.col("tile_y") == 3))
                .collect()[0]
            )
            return np.array(
                [np.nan if v is None else v for v in row["block"]],
                dtype=np.float64,
            ).reshape(100, 100)

        arr = tile_arr()
        assert np.isnan(arr[:, 50:]).all(), "holes must stay NULL, not 0.0"
        assert np.isfinite(arr[:, :50]).all()
        assert set(np.unique(arr[:, :50])) <= {0.0, 1.0}
        # zone-map stats must count only the real pixels
        st = chunk_stats(spark, path, (2.0, 16.0, 3.0, 17.0)).filter(
            (F.col("tile_x") == 2) & (F.col("tile_y") == 3)
        ).collect()[0]
        assert st["n_valid"] == 100 * 50
        # merge round-trip: a second patch fills the right half; the
        # NaN-coalesce must treat the holes as holes (fill them), and
        # keep the left half's data
        materialize_patch(spark, path, (2.5, 16.0, 3.0, 17.0), "p_right")
        arr2 = tile_arr()
        assert np.isfinite(arr2).all()
        assert np.array_equal(arr2[:, :50], arr[:, :50])

    def test_uint8_overflow_raises_in_plan(self, spark, tmp_path):
        path = str(tmp_path / "u8cube")
        create_cube(
            path,
            CubeSpec(grid=SMALL_GRID, channels=("mask8",), dtypes=("uint8",),
                     time_epochs=None),
        )
        # the synthetic fill formula exceeds 255 on tile_y>=1 rows ->
        # the in-plan range guard must abort the fill loudly
        with pytest.raises(Exception, match="out of \\[0,255\\]"):
            materialize(spark, path, ROI_A)

    def test_int16_overflow_raises_cast_overflow(self, spark, tmp_path):
        """An int16 channel's value outside [-32768, 32767] aborts the
        fill with Spark's ANSI ``CAST_OVERFLOW`` (numpy's ``astype``
        would wrap it silently), and nothing becomes visible."""
        path = str(tmp_path / "i16cube")
        create_cube(
            path,
            CubeSpec(grid=SMALL_GRID, channels=("slope",), dtypes=("int16",),
                     time_epochs=None),
        )
        # the slope channel's base is 500000 + ...: past int16
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            materialize(spark, path, ROI_A)
        assert load(spark, path, ROI_A).count() == 0

    def test_add_channel_with_dtype(self, spark, tmp_path):
        from smart_geocubes_spark.plans.materialize import add_channel

        path = self._typed_cube(tmp_path)
        spec2 = add_channel(path, "wet", dtype="bool")
        assert spec2.dtypes == ("float32", "bool", "int16", "bool")
        # adding a typed channel to an all-double cube materializes dtypes
        plain = str(tmp_path / "plain2")
        create_cube(plain, CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=None))
        s = add_channel(plain, "datamask", dtype="bool")
        assert s.dtypes == ("float64", "bool")
        with pytest.raises(ValueError, match="unknown dtype"):
            add_channel(plain, "x", dtype="float128")

    def test_typed_evolution_mixed_layout(self, spark, tmp_path):
        """SCHEMA EVOLUTION onto the dtype system: a cube filled while
        all-float64 (a dt-double leaf) gains a bool channel; the lazy
        backfill lands in its own dt-boolean leaf and load() unions
        both leaves transparently."""
        import numpy as np

        from smart_geocubes_spark.plans.materialize import add_channel

        path = str(tmp_path / "evocube")
        create_cube(
            path, CubeSpec(grid=SMALL_GRID, channels=("dem",), time_epochs=None)
        )
        m0 = materialize(spark, path, ROI_A)  # pre-evolution: dt-double
        add_channel(path, "datamask", dtype="bool")
        m = materialize(spark, path, ROI_A)  # lazy backfill: dt-boolean
        assert m["written"] == 9  # only the new channel's chunks
        df = load(spark, path, ROI_A)
        assert df.count() == 18
        by_ch = {
            r["channel"]: np.array(r["block"])
            for r in df.filter(
                (F.col("tile_y") == 3) & (F.col("tile_x") == 2)
            ).collect()
        }
        formula = 3 * 1000.0 + 2 + 0.5 * np.arange(100 * 100)
        assert np.array_equal(by_ch["dem"], formula)  # untouched float64
        assert np.array_equal(by_ch["datamask"], (formula != 0).astype(float))
        # each batch physically holds only its own dtype leaf
        def entries(batch_id):
            return set(os.listdir(os.path.join(path, "blocks", f"batch={batch_id}")))

        assert entries(m0["batch_id"]) == {"dt-double"}
        assert entries(m["batch_id"]) == {"dt-boolean"}


def test_zone_map_stats_and_value_range_pruning(spark, cube):
    """Write path computes per-chunk zone maps in-plan; chunk_stats
    reads them column-pruned; load(value_range=) prunes chunks whose
    bounds miss the range and returns EXACTLY the blocks an unpruned
    scan + per-pixel membership would keep."""
    from smart_geocubes_spark.plans.materialize import chunk_stats

    materialize(spark, cube, ROI_A)
    st = chunk_stats(spark, cube, ROI_A).toPandas()
    assert len(st) == 18  # 9 tiles x 2 channels
    for r in st.itertuples():
        off = 500000.0 if r.channel == "slope" else 0.0
        base = float(r.tile_y * 1000 + r.tile_x) + off
        assert r.v_min == base
        assert r.v_max == base + 4999.5
        assert r.n_valid == 10000
    # bounds disjoint from every chunk -> zero rows, schema intact
    empty = load(spark, cube, ROI_A, value_range=(1e7, 2e7))
    assert empty.count() == 0
    assert "block" in empty.columns and "chunk_key" in empty.columns
    # [8500, 9000] only intersects dem's ty=4 row (max value 9003.5;
    # ty=3 tops out at 8003.5; slope sits 500000 higher): 3 chunks
    pruned = load(spark, cube, ROI_A, value_range=(8500.0, 9000.0))
    surv = pruned.select("tile_y", "tile_x", "channel").toPandas()
    assert len(surv) == 3
    assert set(surv.tile_y) == {4} and set(surv.channel) == {"dem"}
    # equivalence vs the unpruned scan under the exact pixel filter
    pred = "size(filter(block, x -> x >= 8500.0D AND x <= 9000.0D))"
    a = {
        (r["chunk_key"], r["n"])
        for r in pruned.selectExpr("chunk_key", f"{pred} AS n").collect()
        if r["n"] > 0
    }
    b = {
        (r["chunk_key"], r["n"])
        for r in load(spark, cube, ROI_A)
        .selectExpr("chunk_key", f"{pred} AS n")
        .collect()
        if r["n"] > 0
    }
    assert a == b and len(a) > 0


def test_zone_map_nan_borders_and_compaction_carry(spark, cube):
    """NaN border pixels (merge-on-write patches) are excluded from the
    bounds; compaction rewrites carry the stats columns through."""
    from smart_geocubes_spark.plans.materialize import (
        chunk_stats,
        compact,
        materialize_patch,
    )

    # patch covers x in [2.0, 2.5) of tile (tx=2, ty=2): 50 of 100
    # pixel columns -> 5000 valid pixels, the rest NaN borders
    materialize_patch(spark, cube, (2.0, 17.0, 2.5, 18.0), "p1", value_offset=7.0)
    st = chunk_stats(spark, cube, (2.1, 17.2, 2.4, 17.8)).toPandas()
    assert len(st) == 2  # one tile x 2 channels
    assert (st.n_valid == 5000).all()
    for r in st.itertuples():  # value_offset folded into the bounds
        off = 500000.0 if r.channel == "slope" else 0.0
        assert r.v_min == 2 * 1000.0 + 2 + 7.0 + off
    # the boundary-touched neighbor tile (tx2, ty3) is an ALL-NaN
    # border chunk: bounds (NULL, NULL, 0) — prunable by ANY range,
    # distinct from the legacy all-NULL "unknown" row
    st_nan = chunk_stats(spark, cube, (2.1, 16.2, 2.4, 16.8)).toPandas()
    assert len(st_nan) == 2
    assert (st_nan.n_valid == 0).all() and st_nan.v_min.isna().all()
    from smart_geocubes_spark.plans.materialize import load as load_blocks

    assert (
        load_blocks(
            spark, cube, (2.1, 16.2, 2.4, 16.8), value_range=(-1e9, 1e9)
        ).count()
        == 0
    )
    # fill the rest, compact, and re-read: every visible chunk still
    # carries known bounds (NULL would mean the rewrite dropped them)
    materialize(spark, cube, ROI_A)
    assert compact(spark, cube)["batch_id"] is not None
    st2 = chunk_stats(spark, cube, ROI_A)
    assert st2.filter("v_min IS NULL AND n_valid IS NULL").count() == 0
    assert st2.count() == 18


def test_load_changes_cdc(spark, cube):
    """Provenance CDC: fills report their delta, compaction (verbatim
    rewrite) reports zero, a patch merge reports its footprint."""
    from smart_geocubes_spark.plans.materialize import (
        compact,
        load_changes,
        materialize_patch,
    )

    m1 = materialize(spark, cube, ROI_A)  # tiles tx2-4 x ty2-4
    m2 = materialize(spark, cube, ROI_B)  # adds B-minus-A only
    assert m2["written"] == 16  # 8 new tiles x 2 channels
    ch = load_changes(spark, cube, ROI_B, m1["batch_id"])
    assert ch.count() == 16
    # the changed blocks carry real content (not just keys)
    assert ch.selectExpr("size(block) AS n").filter("n != 10000").count() == 0
    # unknown snapshot raises (silent empty would read as "no changes")
    with pytest.raises(ValueError):
        load_changes(spark, cube, ROI_A, "nope")
    # compaction rewrites every chunk under a new batch_id but carries
    # src_batch: zero changes since the last fill
    assert compact(spark, cube)["batch_id"] is not None
    assert load_changes(spark, cube, ROI_B, m2["batch_id"]).count() == 0
    # and the m1 -> m2 delta is still visible ACROSS the compaction
    assert load_changes(spark, cube, ROI_B, m1["batch_id"]).count() == 16
    # a patch after compaction changes pixels -> exactly its chunks
    # patch touches tiles (tx2, ty2) and — via the miny=17.0 tile-edge
    # boundary — (tx2, ty3), whose pixels all fall OUTSIDE the patch
    # (an all-NaN border chunk, the reference's nan-border shape)
    mp = materialize_patch(
        spark, cube, (2.0, 17.0, 2.5, 18.0), "pX", value_offset=3.0
    )
    ch2 = load_changes(spark, cube, ROI_A, m2["batch_id"])
    assert ch2.count() == mp["written"] == 4
    rows = ch2.select("tile_y", "tile_x").distinct().collect()
    assert {(r["tile_y"], r["tile_x"]) for r in rows} == {(2, 2), (3, 2)}


def test_store_overviews_build_load_and_staleness(spark, cube):
    """Store-backed pyramid: factor-2 level holds the valid-aware 2x2
    mean per chunk; a commit after the build makes the level loudly
    stale; rebuild serves the new tiles."""
    import numpy as np

    from smart_geocubes_spark.plans.materialize import (
        build_overviews,
        load_overview,
    )

    materialize(spark, cube, ROI_A)
    info = build_overviews(spark, cube, factors=(2,))
    assert info["levels"] == 1
    df = load_overview(spark, cube, ROI_A, 2)
    assert df.count() == 18
    r = df.filter("tile_y = 3 AND tile_x = 2 AND channel = 'dem'").collect()[0]
    block = np.array(r["block"], dtype=np.float64)
    assert block.size == 2500
    full = 3 * 1000.0 + 2 + 0.5 * np.arange(10000, dtype=np.float64).reshape(100, 100)
    exp = full.reshape(50, 2, 50, 2).mean(axis=(1, 3))
    assert np.array_equal(block.reshape(50, 50), exp)
    # missing factor raises; stale level raises after a new commit
    with pytest.raises(ValueError):
        load_overview(spark, cube, ROI_A, 4)
    materialize(spark, cube, ROI_B)
    with pytest.raises(ValueError):
        load_overview(spark, cube, ROI_A, 2)
    build_overviews(spark, cube, factors=(2,))
    assert load_overview(spark, cube, ROI_B, 2).count() == 24  # 12 tiles x 2ch
    # channel projection + unknown-channel guard
    assert load_overview(spark, cube, ROI_B, 2, channels=["dem"]).count() == 12
    with pytest.raises(ValueError):
        load_overview(spark, cube, ROI_B, 2, channels=["nope"])


def test_overview_partial_build_refuses_uncovered_roi(spark, cube):
    """r6 correctness fix (advisor item #3): a level built for a
    partial ROI must refuse reads beyond the built region instead of
    silently serving an empty zoom-out as complete; a refresh carries
    the original coverage claim forward."""
    from smart_geocubes_spark.plans.materialize import (
        build_overviews,
        load_overview,
        refresh_overviews,
    )

    materialize(spark, cube, ROI_A)
    materialize(spark, cube, ROI_B)
    build_overviews(spark, cube, factors=(2,), roi_bbox=ROI_A)
    # inside the built region: fine
    assert load_overview(spark, cube, ROI_A, 2).count() == 18
    # ROI_B needs tiles outside the built region: loud refusal
    with pytest.raises(ValueError, match="outside"):
        load_overview(spark, cube, ROI_B, 2)
    # a refresh after a new commit must not widen the coverage claim
    materialize(spark, cube, (6.2, 12.2, 6.8, 12.9))
    refresh_overviews(spark, cube, factors=(2,))
    assert load_overview(spark, cube, ROI_A, 2).count() == 18
    with pytest.raises(ValueError, match="outside"):
        load_overview(spark, cube, ROI_B, 2)
    # full rebuild restores full coverage
    build_overviews(spark, cube, factors=(2,))
    assert load_overview(spark, cube, ROI_B, 2).count() == 24


def test_overview_nan_borders_average_valid_only(spark, cube):
    """A patch-border chunk's overview pixels average only the valid
    source pixels; fully-invalid windows stay NULL."""
    import numpy as np

    from smart_geocubes_spark.plans.materialize import (
        build_overviews,
        load_overview,
        materialize_patch,
    )

    materialize_patch(spark, cube, (2.0, 17.0, 2.5, 18.0), "p1", value_offset=7.0)
    build_overviews(spark, cube, factors=(2,))
    r = (
        load_overview(spark, cube, (2.1, 17.2, 2.4, 17.8), 2)
        .filter("channel = 'dem'")
        .collect()[0]
    )
    block = np.array(r["block"], dtype=np.float64).reshape(50, 50)
    # valid source columns are x < 2.5 -> cols 0..49 -> overview cols
    # 0..24 fully valid, 25..49 fully NaN windows -> NULL -> np.nan
    assert not np.isnan(block[:, :25]).any()
    assert np.isnan(block[:, 25:]).all()
    full = 2 * 1000.0 + 2 + 7.0 + 0.5 * np.arange(10000, dtype=np.float64).reshape(100, 100)
    exp = full.reshape(50, 2, 50, 2).mean(axis=(1, 3))
    assert np.array_equal(block[:, :25], exp[:, :25])


def test_refresh_overviews_incremental_matches_full(spark, cube):
    """CDC-composed level refresh: only changed chunks re-derive; the
    merged level is bit-identical to a full rebuild; a compaction-only
    delta advances freshness without touching content."""
    from smart_geocubes_spark.plans.materialize import (
        build_overviews,
        compact,
        load_overview,
        refresh_overviews,
    )

    big = (2.0, 14.0, 7.0, 18.0)
    materialize(spark, cube, ROI_A)
    build_overviews(spark, cube, factors=(2,))
    materialize(spark, cube, ROI_B)
    r = refresh_overviews(spark, cube, factors=(2,))
    assert r["changed_chunks"] == 16  # exactly the second fill's delta
    inc = {
        (row["chunk_key"], row["s"])
        for row in load_overview(spark, cube, big, 2)
        .selectExpr(
            "chunk_key",
            "CAST(aggregate(block, 0.0D, (a, x) -> a + x) * 8.0 AS BIGINT) AS s",
        )
        .collect()
    }
    assert len(inc) == 34  # 18 + 16 chunks
    # full rebuild produces the identical level
    build_overviews(spark, cube, factors=(2,))
    full = {
        (row["chunk_key"], row["s"])
        for row in load_overview(spark, cube, big, 2)
        .selectExpr(
            "chunk_key",
            "CAST(aggregate(block, 0.0D, (a, x) -> a + x) * 8.0 AS BIGINT) AS s",
        )
        .collect()
    }
    assert inc == full
    # fresh level -> no-op refresh
    assert refresh_overviews(spark, cube, factors=(2,))["changed_chunks"] == 0
    # compaction makes the level STALE by seq but changes no content:
    # refresh advances the meta without re-deriving anything
    assert compact(spark, cube)["batch_id"] is not None
    with pytest.raises(ValueError):
        load_overview(spark, cube, ROI_A, 2)
    r2 = refresh_overviews(spark, cube, factors=(2,))
    assert r2["changed_chunks"] == 0
    assert {
        (row["chunk_key"], row["s"])
        for row in load_overview(spark, cube, big, 2)
        .selectExpr(
            "chunk_key",
            "CAST(aggregate(block, 0.0D, (a, x) -> a + x) * 8.0 AS BIGINT) AS s",
        )
        .collect()
    } == full
    # a missing level falls back to a full build
    r3 = refresh_overviews(spark, cube, factors=(4,))
    assert r3["levels"] == 1
    assert load_overview(spark, cube, ROI_A, 4).count() == 18


def test_refresh_overviews_stamps_the_snapshot_it_read(spark, cube, monkeypatch):
    """A refresh stamps each level with the snapshot it listed before
    reading: a fill of tile (8, 4) committing right after the refresh's
    change-feed lineage read is not merged, the level reads stale, and
    the next refresh merges it — a stamp listed after the read would
    mark the level current without it and serve 0 rows for the tile."""
    import smart_geocubes_spark.plans.materialize as M
    from smart_geocubes_spark.plans.materialize import (
        build_overviews,
        load_overview,
        refresh_overviews,
    )

    t64, t84 = (6.3, 15.2, 6.8, 15.8), (8.3, 15.2, 8.8, 15.8)
    materialize(spark, cube, ROI_A)
    build_overviews(spark, cube, factors=(2,))
    materialize(spark, cube, t64)

    real, raced = M._lineage_rows, []

    def racing(*a, **k):
        rows = real(*a, **k)
        if not raced:  # once, and not again for its own fill
            raced.append(True)
            assert materialize(spark, cube, t84)["written"] == 2
        return rows

    with monkeypatch.context() as mp:
        mp.setattr(M, "_lineage_rows", racing)
        assert refresh_overviews(spark, cube, factors=(2,))["changed_chunks"] == 2
    assert raced
    with pytest.raises(ValueError, match="stale"):
        load_overview(spark, cube, t84, 2)
    assert refresh_overviews(spark, cube, factors=(2,))["changed_chunks"] == 2
    assert load_overview(spark, cube, t84, 2).count() == 2
    assert load_overview(spark, cube, t64, 2).count() == 2


def test_regrid_nearest_matches_affine_expectation(spark, cube):
    """Nearest-neighbor regrid onto a coarser, differently-chunked grid:
    every target pixel equals the source formula at the floor-mapped
    index; pixels over unfilled source chunks are NULL; CRS mismatch
    raises."""
    import numpy as np

    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
    from smart_geocubes_spark.operators.regrid import regrid_nearest

    materialize(spark, cube, ROI_A)
    target = TileGrid(
        geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=0.025, width=800, height=800),
        chunk_px=80,
    )  # 2-deg tiles; ROI_A covers target tiles tx1-2 x ty1-2
    out = regrid_nearest(spark, cube, target, ROI_A)
    rows = out.filter("channel = 'dem'").collect()
    assert len(rows) == 4
    for r in rows:
        txT, tyT = int(r["tile_x"]), int(r["tile_y"])
        blk = np.array(
            [v if v is not None else np.nan for v in r["block"]], dtype=np.float64
        ).reshape(80, 80)
        xs = (txT * 80 + np.arange(80) + 0.5) * 0.025
        ys = 20.0 - (tyT * 80 + np.arange(80) + 0.5) * 0.025
        col = np.floor(xs / 0.01).astype(np.int64)
        row_ = np.floor((20.0 - ys) / 0.01).astype(np.int64)
        SX, SY = np.meshgrid(col, row_)
        sx, sy = SX // 100, SY // 100
        filled = (sx >= 2) & (sx <= 4) & (sy >= 2) & (sy <= 4)
        exp = np.where(
            filled, sy * 1000.0 + sx + 0.5 * ((SY % 100) * 100 + (SX % 100)), np.nan
        )
        assert np.allclose(blk, exp, equal_nan=True)
    with pytest.raises(ValueError):  # unsupported target CRS is loud
        regrid_nearest(
            spark,
            cube,
            TileGrid(
                geobox=GeoBox(crs="EPSG:9999", x0=0.0, y0=20.0, res=0.025,
                              width=800, height=800),
                chunk_px=80,
            ),
            ROI_A,
        )


def test_regrid_cross_crs_mercator_and_polar(spark, cube):
    """Cross-CRS regrid (the reproject-match role): a web-mercator and
    a polar-stereographic target over the 4326 cube — every target
    pixel equals the source value at the inverse-projected index."""
    import numpy as np

    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
    from smart_geocubes_spark.geo.projection import project, unproject
    from smart_geocubes_spark.operators.regrid import regrid_nearest

    materialize(spark, cube, ROI_A)  # lon [2,5), lat (15,18] filled

    def check(target, crs):
        rows = regrid_nearest(spark, cube, target, target.geobox.extent).filter(
            "channel = 'dem'"
        ).collect()
        assert rows, f"no output chunks for {crs}"
        n_checked = 0
        for r in rows:
            W = target.chunk_px
            blk = np.array(
                [v if v is not None else np.nan for v in r["block"]],
                dtype=np.float64,
            )
            tb = target.geobox
            j = np.arange(W * W)
            x = tb.x0 + (r["tile_x"] * W + (j % W) + 0.5) * tb.res
            y = tb.y0 - (r["tile_y"] * W + (j // W) + 0.5) * tb.res
            lon, lat = unproject(x, y, crs)
            col = np.floor(lon / 0.01).astype(np.int64)
            row_ = np.floor((20.0 - lat) / 0.01).astype(np.int64)
            sx, sy = col // 100, row_ // 100
            filled = (sx >= 2) & (sx <= 4) & (sy >= 2) & (sy <= 4)
            exp = np.where(
                filled,
                sy * 1000.0 + sx + 0.5 * ((row_ % 100) * 100 + (col % 100)),
                np.nan,
            )
            ok = np.isnan(blk) == np.isnan(exp)
            assert ok.all()
            m = ~np.isnan(exp)
            assert np.array_equal(blk[m], exp[m])
            n_checked += int(m.sum())
        assert n_checked > 1000  # the footprint genuinely overlaps

    # mercator target centered on the filled lon/lat region
    mx, my = project(np.array([2.0, 5.0]), np.array([15.0, 18.0]), "EPSG:3857")
    merc = TileGrid(
        geobox=GeoBox(crs="EPSG:3857", x0=float(mx[0]), y0=float(my[1]),
                      res=2000.0, width=200, height=200),
        chunk_px=50,
    )
    check(merc, "EPSG:3857")
    # polar-stereographic target over the same region (iterative
    # inverse); grid sized from the projected corners so the footprint
    # overlaps regardless of how far the region sits from the pole
    px_, py_ = project(
        np.array([2.0, 5.0, 2.0, 5.0]), np.array([15.0, 15.0, 18.0, 18.0]),
        "EPSG:3413",
    )
    pres = float(max(px_.max() - px_.min(), py_.max() - py_.min())) / 140.0
    polar = TileGrid(
        geobox=GeoBox(crs="EPSG:3413", x0=float(px_.min()), y0=float(py_.max()),
                      res=pres, width=150, height=150),
        chunk_px=50,
    )
    check(polar, "EPSG:3413")
