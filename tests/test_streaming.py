"""Structured Streaming surface: availableNow tile materialization
equals the batch result; checkpoint re-run processes nothing new;
watermarked windowed agg equals batch windowing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from smart_geocubes_spark.operators.geoparse import geoparsed_points
from smart_geocubes_spark.operators.tiles import in_extent_filter, with_tiles_native
from smart_geocubes_spark.sources.synth import GRID, pages_df
from smart_geocubes_spark.streaming.pipeline import (
    stream_tile_counts,
    stream_windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


def test_stream_equals_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages_df(spark, SF).select("page_id", "url").repartition(4).write.parquet(pages_dir)

    stream_tile_counts(spark, pages_dir, out_dir, ckpt)
    got = (
        spark.read.parquet(*[f"{out_dir}/{d}" for d in os.listdir(out_dir)])
        .groupBy("tile_id")
        .agg(F.sum("n_pages").alias("n_pages"))
    )

    pts = geoparsed_points(pages_df(spark, SF).select("page_id", "url", "warc_epoch", "host_id"))
    want = (
        with_tiles_native(pts.filter(in_extent_filter(GRID)), GRID)
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_pages"))
    )
    g = {(r.tile_id): r.n_pages for r in got.collect()}
    w = {(r.tile_id): r.n_pages for r in want.collect()}
    assert g == w

    # re-run with same checkpoint: source exactly-once, nothing new
    before = sorted(os.listdir(out_dir))
    stream_tile_counts(spark, pages_dir, out_dir, ckpt)
    after = sorted(os.listdir(out_dir))
    new_batches = set(after) - set(before)
    for b in new_batches:  # any new batch dir must be empty of rows
        p = os.path.join(out_dir, b)
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            assert spark.read.parquet(p).count() == 0


def test_windowed_event_counts(spark, tmp_path):
    ev_dir = str(tmp_path / "events")
    spark.read.parquet(f"{SF}/events.parquet").repartition(3).write.parquet(ev_dir)
    got = stream_windowed_event_counts(spark, ev_dir)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    want = (
        ev.withColumn("ets", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ets", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp("w.start").alias("w_start"), "event_type", "n")
    )
    g = {(r.w_start, r.event_type): r.n for r in got.collect()}
    ww = {(r.w_start, r.event_type): r.n for r in want.collect()}
    assert g == ww


def test_stateful_host_ledger(spark, tmp_path):
    """applyInPandasWithState ledger across micro-batches == batch agg."""
    from smart_geocubes_spark.streaming.stateful import stream_host_ledger

    pages_dir = str(tmp_path / "pages_s")
    pages_df(spark, SF).select("page_id", "host_id", "text").repartition(4).write.parquet(
        pages_dir
    )
    got = stream_host_ledger(spark, pages_dir, str(tmp_path / "ckpt_s"))
    want = (
        spark.read.parquet(pages_dir)
        .groupBy("host_id")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
            F.max("page_id").alias("max_page_id"),
        )
    )
    g = {r.host_id: (r.n_pages, r.n_chars, r.max_page_id) for r in got.collect()}
    w = {r.host_id: (r.n_pages, r.n_chars, r.max_page_id) for r in want.collect()}
    assert g == w


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicates arriving in different micro-batches (same page_id,
    event times within the watermark) must come out exactly once, with
    dedup state bounded by the watermark horizon."""
    import os

    from smart_geocubes_spark.streaming.pipeline import stream_dedup_within_watermark

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    base = spark.createDataFrame(
        [(i, i % 5, 1577836800 + i) for i in range(50)],
        "page_id long, host_id long, warc_epoch long",
    )
    # file 1: originals; file 2: every 5th page replayed 30 s later
    base.coalesce(1).write.parquet(src_dir + "/f1")
    base.filter("page_id % 5 = 0").withColumn(
        "warc_epoch", base["warc_epoch"] + 30
    ).coalesce(1).write.parquet(src_dir + "/f2")
    flat = str(tmp_path / "flat")
    spark.read.parquet(src_dir + "/f1", src_dir + "/f2").repartition(4).write.parquet(flat)

    out = stream_dedup_within_watermark(
        spark, flat, str(tmp_path / "ckpt"), query_name="dedup_stream_t"
    )
    got = out.groupBy("page_id").count().filter("count > 1").count()
    assert got == 0
    assert out.select("page_id").distinct().count() == 50


def test_stream_dedup_query_cleans_scratch_on_failed_write(spark, tmp_path, monkeypatch):
    """The gate's stream_dedup query stages its source under a scratch
    dir; a write that fails while staging must still remove it."""
    import tempfile

    import pytest
    from pyspark.sql import DataFrameWriter

    from smart_geocubes_spark.queries import q_stream_dedup

    def fail(self, path, *args, **kwargs):
        raise OSError(f"injected write failure: {path}")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(DataFrameWriter, "parquet", fail)
    with pytest.raises(OSError, match="injected write failure"):
        q_stream_dedup(spark, SF)
    assert os.listdir(tmp_path) == []


def test_stream_session_windows(spark, tmp_path):
    """session_window boundary rule: an event at EXACTLY prev + gap
    MERGES (Spark merges touching windows) — pinned here because the
    gate oracle replays the stream with the strict gap > g rule."""
    from smart_geocubes_spark.streaming.pipeline import stream_session_windows

    d = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, 0), (1, 1800_000_000), (1, 3_599_000_000), (2, 0), (2, 3_600_000_001)],
        "user_id bigint, us bigint",
    ).select("user_id", F.timestamp_micros(F.col("us")).alias("ts")).coalesce(
        1
    ).write.parquet(d)
    got = {
        (r.user_id, r.s_start_us): (r.s_end_us, r.n_events)
        for r in stream_session_windows(
            spark, d, gap_seconds=1800, query_name="sess_t"
        ).collect()
    }
    assert got == {
        # exact-gap event merged; window end = last_ts + gap
        (1, 0): (3_599_000_000 + 1800_000_000, 3),
        (2, 0): (1800_000_000, 1),
        (2, 3_600_000_001): (3_600_000_001 + 1800_000_000, 1),
    }


class TestStreamFillRequests:
    """Streaming ingestion into the cube store: exactly-once composed
    from streaming checkpoint + lineage anti-join + commit tickets."""

    def _mk_cube(self, tmp_path):
        from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
        from smart_geocubes_spark.plans.materialize import CubeSpec, create_cube

        grid = TileGrid(
            geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=0.01, width=2000, height=2000),
            chunk_px=100,
        )
        path = str(tmp_path / "cube")
        create_cube(path, CubeSpec(grid=grid, channels=("dem",), time_epochs=None))
        return path

    def _req(self, spark, dest, rows):
        spark.createDataFrame(
            rows, "minx double, miny double, maxx double, maxy double"
        ).coalesce(1).write.mode("append").parquet(dest)

    def test_drain_dedup_and_rerun(self, spark, tmp_path):
        from smart_geocubes_spark.plans.materialize import load, read_lineage
        from smart_geocubes_spark.streaming.ingest import stream_fill_requests

        cube = self._mk_cube(tmp_path)
        reqs = str(tmp_path / "reqs")
        ckpt = str(tmp_path / "ckpt")
        # two request FILES = two micro-batches (maxFilesPerTrigger=1);
        # the second overlaps the first -> its overlap chunks must skip
        self._req(spark, reqs, [(2.3, 15.2, 4.8, 17.9)])  # 3x3 tiles
        self._req(spark, reqs, [(3.3, 14.2, 6.8, 16.9)])  # overlaps 2x2 of them

        res = stream_fill_requests(spark, reqs, cube, ckpt)
        assert len(res) == 2
        assert res[0]["written"] == 9  # 9 tiles x 1 channel
        assert res[1]["written"] == 12 - 4  # 12 tiles, 4 already filled
        lin = read_lineage(spark, cube)
        # exactly one lineage row per chunk: no chunk filled twice
        assert lin.groupBy("chunk_key").count().filter("count > 1").count() == 0
        assert load(spark, cube, (2.3, 14.2, 6.8, 17.9)).count() == 17

        # availableNow re-run with the same checkpoint: nothing new
        res2 = stream_fill_requests(spark, reqs, cube, ckpt)
        assert res2 == []
        assert read_lineage(spark, cube).count() == 17

    def test_replayed_request_skips(self, spark, tmp_path):
        """The same ROI arriving again in a LATER file (sink-side
        replay analog) commits nothing: lineage anti-join dedups."""
        from smart_geocubes_spark.plans.materialize import read_lineage
        from smart_geocubes_spark.streaming.ingest import stream_fill_requests

        cube = self._mk_cube(tmp_path)
        reqs = str(tmp_path / "reqs")
        self._req(spark, reqs, [(2.3, 15.2, 4.8, 17.9)])
        self._req(spark, reqs, [(2.3, 15.2, 4.8, 17.9)])  # byte-identical replay
        res = stream_fill_requests(spark, reqs, cube, str(tmp_path / "ckpt"))
        assert [r["written"] for r in res] == [9, 0]
        assert res[1]["skipped"] == "all cached"
        assert res[1]["batch_id"] is None  # nothing committed under it
        assert read_lineage(spark, cube).count() == 9

    def test_mid_fill_crash_then_stream_completes(self, spark, tmp_path):
        """A fill that died between block write and commit ticket left
        orphan blocks; the stream then fills the same ROI fresh and the
        orphans stay invisible — the batch crash contract composed with
        streaming ingestion."""
        import pytest as _pytest

        from smart_geocubes_spark.plans.materialize import load, materialize, read_lineage
        from smart_geocubes_spark.streaming.ingest import stream_fill_requests

        cube = self._mk_cube(tmp_path)
        roi = (2.3, 15.2, 4.8, 17.9)
        with _pytest.raises(RuntimeError, match="simulated crash"):
            materialize(spark, cube, roi, fail_after_blocks=True)
        assert load(spark, cube, roi).count() == 0  # orphans invisible

        reqs = str(tmp_path / "reqs")
        self._req(spark, reqs, [roi])
        res = stream_fill_requests(spark, reqs, cube, str(tmp_path / "ckpt"))
        assert [r["written"] for r in res] == [9]
        df = load(spark, cube, roi)
        assert df.count() == 9
        assert df.select("chunk_key").distinct().count() == 9  # no dupes
        assert read_lineage(spark, cube).count() == 9

    def test_per_request_toi(self, spark, tmp_path):
        """PER-REQUEST TOI (reference request unit is (aoi, toi),
        core/accessor.py:331): two requests for the same AOI with
        different TOIs fill disjoint (tile x time) chunk sets exactly
        once; a later TOI-less request over the whole axis skips all
        of them."""
        from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
        from smart_geocubes_spark.plans.materialize import (
            CubeSpec,
            create_cube,
            read_lineage,
        )
        from smart_geocubes_spark.streaming.ingest import stream_fill_requests

        grid = TileGrid(
            geobox=GeoBox(crs="EPSG:4326", x0=0.0, y0=20.0, res=0.01, width=2000, height=2000),
            chunk_px=100,
        )
        cube = str(tmp_path / "tcube")
        create_cube(
            cube, CubeSpec(grid=grid, channels=("dem",), time_epochs=(100, 200))
        )
        reqs = str(tmp_path / "reqs")
        roi = (2.3, 15.2, 4.8, 17.9)  # 3x3 tiles
        # ONE file = one micro-batch carrying BOTH TOIs -> two groups,
        # two materialize runs inside the batch
        spark.createDataFrame(
            [roi + (100, 100), roi + (200, 200)],
            "minx double, miny double, maxx double, maxy double, "
            "toi_start long, toi_end long",
        ).coalesce(1).write.mode("append").parquet(reqs)
        res = stream_fill_requests(spark, reqs, cube, str(tmp_path / "ckpt"))
        assert [(r["toi_start"], r["written"]) for r in res] == [(100, 9), (200, 9)]
        lin = read_lineage(spark, cube)
        assert lin.count() == 18  # disjoint (tile x time), each once
        assert lin.groupBy("chunk_key").count().filter("count > 1").count() == 0
        assert sorted(
            r["time_idx"] for r in lin.select("time_idx").distinct().collect()
        ) == [0, 1]

        # a TOI-less request row (nulls) falls back to the full axis:
        # everything is already filled -> nothing written
        spark.createDataFrame(
            [roi + (None, None)],
            "minx double, miny double, maxx double, maxy double, "
            "toi_start long, toi_end long",
        ).coalesce(1).write.mode("append").parquet(reqs)
        res2 = stream_fill_requests(spark, reqs, cube, str(tmp_path / "ckpt"))
        assert [r["written"] for r in res2] == [0]
        assert res2[0]["skipped"] == "all cached"
        assert read_lineage(spark, cube).count() == 18
