"""Zonal raster<->vector reads: per-tile statistics over ROI block
arrays.

Reference analog: loading an ROI and summarizing it
(``tests/test_arcticdem.py:26-29`` pins dem.mean/min/max golden
values). Engine shape: ROI -> tile coverage enumeration (driver-side,
tiny) -> block generation in Arrow ``mapInPandas`` (the synthetic
stand-in for the object-store tile read, SURVEY §2.1 S3) -> JVM
higher-order array functions for the statistics (aggregate/array_min/
array_max stay inside codegen; no Python in the reduce)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_geocubes_spark.geo.geobox import TileGrid
from smart_geocubes_spark.plans.materialize import block_base_values as _block_base
from smart_geocubes_spark.sources.local import local_frame

ZONAL_BLOCK_SCHEMA = "tile_id long, tile_x long, tile_y long, channel string, block array<double>"


def roi_tiles_df(
    spark: SparkSession, grid: TileGrid, rois: list[tuple[float, float, float, float]]
) -> DataFrame:
    """Distinct tiles covering the ROIs (deterministic enumeration)."""
    parts = [grid.tiles_overlapping_bbox(*r) for r in rois]
    tiles = np.unique(np.concatenate(parts), axis=0)
    pdf = pd.DataFrame({"tile_x": tiles[:, 0], "tile_y": tiles[:, 1]})
    pdf["tile_id"] = pdf["tile_y"] * grid.n_tiles_x + pdf["tile_x"]
    return local_frame(spark, pdf)


def _candidates(
    spark: SparkSession,
    grid: TileGrid,
    rois: list[tuple[float, float, float, float]],
    channels: list[str],
) -> DataFrame:
    """ROI tiles x channels — shared candidate preamble."""
    tiles = roi_tiles_df(spark, grid, rois)
    ch = local_frame(spark, pd.DataFrame({"channel": channels}))
    return tiles.crossJoin(F.broadcast(ch))


def _gen(chunk_px: int):
    n_px = chunk_px * chunk_px

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ramp = np.arange(n_px, dtype=np.float64) * 0.5
        for b in batches:
            base = _block_base(b)
            out = b[["tile_id", "tile_x", "tile_y", "channel"]].copy()
            out["block"] = list(base[:, None] + ramp[None, :])
            yield out

    return gen


def _roi_blocks(
    spark: SparkSession,
    grid: TileGrid,
    rois: list[tuple[float, float, float, float]],
    channels: list[str],
) -> DataFrame:
    """Shared preamble of the zonal operators: ROI tiles x channels ->
    block arrays (one Arrow hop; the synthetic stand-in for the
    object-store tile read)."""
    cand = _candidates(spark, grid, rois, channels)
    return cand.mapInPandas(_gen(grid.chunk_px), schema=ZONAL_BLOCK_SCHEMA)


def pyramid_overview(
    spark: SparkSession,
    grid: TileGrid,
    rois: list[tuple[float, float, float, float]],
    channels: list[str],
    levels: list[int] = [1, 2],
) -> DataFrame:
    """Multi-resolution OVERVIEWS (the COG/zarr pyramid the reference's
    datacubes serve): per (tile, channel, level) the 2^L x 2^L
    mean-pooled grid's pixel count and integer-encoded checksum
    (sum * 32 — block values step by 0.5, level-1 means by 1/8,
    level-2 by 1/32, all dyadic, so every float op is EXACT and the
    scaled sum is an exact BIGINT in both engines).

    Scale shape: ONE fused Arrow kernel generates the base block and
    iterates the pooling in numpy (the reduce never leaves the task;
    shuffle carries one summary row per chunk per level, never pixels).
    At 100 TB the same kernel runs over the materialized blocks
    instead of the synthesizer."""
    for lv in levels:
        assert grid.chunk_px % (1 << lv) == 0, "chunk_px must divide by 2^level"
    cand = _candidates(spark, grid, rois, channels)
    W = grid.chunk_px

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ramp = np.arange(W * W, dtype=np.float64) * 0.5
        for b in batches:
            base = _block_base(b)
            n = len(base)
            g = (base[:, None] + ramp[None, :]).reshape(n, W, W)
            out_frames = []
            lv_done = 0
            for lv in sorted(levels):
                while lv_done < lv:  # iterated 2x2 mean pooling
                    h, w = g.shape[1] // 2, g.shape[2] // 2
                    g = g.reshape(n, h, 2, w, 2).mean(axis=(2, 4))
                    lv_done += 1
                sums = g.reshape(n, -1).sum(axis=1)
                f = b[["tile_id", "channel"]].copy()
                f["level"] = np.int64(lv)
                f["n_px"] = np.int64(g.shape[1] * g.shape[2])
                f["sum_x32"] = np.rint(sums * 32.0).astype(np.int64)
                out_frames.append(f)
            yield pd.concat(out_frames, ignore_index=True)

    return cand.mapInPandas(
        gen, schema="tile_id long, channel string, level long, n_px long, sum_x32 long"
    )


def zonal_value_histogram(
    spark: SparkSession,
    grid: TileGrid,
    rois: list[tuple[float, float, float, float]],
    channels: list[str],
    n_bins: int = 7,
) -> DataFrame:
    """Per-(tile, channel) raster value histogram over ROI blocks:
    bin = floor(value) mod n_bins, counts per bin. The binning folds the
    10k-px block array into an n_bins counter array with a single JVM
    ``aggregate`` (accumulator = array of counts updated via indexed
    ``transform``) — the block array is NEVER exploded to rows, so the
    shuffle carries n_bins longs per chunk instead of 10k pixels. The
    histogram rows come from posexploding the tiny counter array;
    zero-count bins are dropped (sparse output, matching what a
    GROUP-BY-over-pixels formulation produces)."""
    blocks = _roi_blocks(spark, grid, rois, channels)
    zero = F.array_repeat(F.lit(0).cast("long"), n_bins)
    # hoist the per-pixel bin OUT of the counter-update lambda
    # (CLAUDE.md rule 6): inside it, floor+pmod would re-evaluate once
    # per counter slot — n_bins x redundant work per pixel
    bins = F.transform("block", lambda x: F.pmod(F.floor(x).cast("long"), F.lit(n_bins)))
    blocks = blocks.withColumn("bins", bins)
    hist = F.aggregate(
        "bins",
        zero,
        lambda acc, b: F.transform(
            acc,
            lambda c, j: c + F.when(b == j, F.lit(1)).otherwise(F.lit(0)),
        ),
    )
    return (
        blocks.select("tile_id", "channel", F.posexplode(hist).alias("bin", "n_px"))
        .filter(F.col("n_px") > 0)
        .select(
            "tile_id",
            "channel",
            F.col("bin").cast("long").alias("bin"),
            F.col("n_px").cast("long").alias("n_px"),
        )
    )


def polygon_zonal_stats(
    spark: SparkSession,
    grid: TileGrid,
    poly,
    channels: list[str],
) -> DataFrame:
    """PIXEL-ACCURATE zonal stats over a polygon AOI (reference zonal
    reads take a Geometry, ``core/accessor.py:331-358``; bbox zonal
    over-counts every pixel of every edge tile).

    Plan shape: polygon -> tile enumeration with exact rect x polygon
    refine (driver-side numpy, metadata-sized) -> one Arrow hop for
    the blocks -> per-pixel point-in-polygon MASK evaluated INSIDE
    JVM codegen (`filter(block, (x, i) -> pip(center(i)))` with the
    polygon vertices inlined as literals — no Python in the per-pixel
    path, no pixel explode; the shuffle carries two longs per chunk).
    Outputs are integer-exact: block values step by 0.5, so
    ``sum * 2`` is an exact BIGINT in any accumulation order — which
    is what lets one shared predicate string drive BOTH this plan and
    the DuckDB per-pixel oracle replay bit-for-bit.

    At 100 TB the same masked fold runs over materialized store
    blocks; per-pixel cost is ~6 flops per polygon edge in codegen."""
    from smart_geocubes_spark.functions.sqlgen import pixel_center_sql
    from smart_geocubes_spark.geo.pip import (
        parse_polygon,
        point_in_polygon_predicate_sql,
    )

    px_a, py_a = parse_polygon(poly)
    tiles = grid.tiles_overlapping_polygon(px_a, py_a)
    pdf = pd.DataFrame({"tile_x": tiles[:, 0], "tile_y": tiles[:, 1]})
    pdf["tile_id"] = pdf["tile_y"] * grid.n_tiles_x + pdf["tile_x"]
    cand = local_frame(spark, pdf).crossJoin(
        F.broadcast(local_frame(spark, pd.DataFrame({"channel": channels})))
    )
    blocks = cand.mapInPandas(_gen(grid.chunk_px), schema=ZONAL_BLOCK_SCHEMA)
    gb = grid.geobox
    pxe, pye = pixel_center_sql(
        "tile_x", "tile_y", "i", gb.x0, gb.y0, gb.res, grid.chunk_px
    )
    pip = point_in_polygon_predicate_sql(px_a, py_a, pxe, pye)
    # masked array projected ONCE in its own select (CLAUDE.md rule 6:
    # two consumers of a subexpression -> hoist), then folded
    masked = blocks.withColumn("mvals", F.expr(f"filter(block, (x, i) -> {pip})"))
    return (
        masked.select(
            "tile_id",
            "channel",
            F.size("mvals").cast("long").alias("n_in"),
            F.expr(
                "CAST(aggregate(mvals, 0.0D, (a, x) -> a + x) * 2.0 AS BIGINT)"
            ).alias("sum_x2"),
        )
        # a rect can intersect the polygon while holding no pixel
        # CENTER inside (boundary slivers); the oracle's WHERE+GROUP BY
        # drops those groups, so the engine drops them too
        .filter(F.col("n_in") > 0)
    )


def polygon_zonal_stats_cube(
    spark: SparkSession,
    path: str,
    poly,
    channels: list[str] | None = None,
) -> DataFrame:
    """:func:`polygon_zonal_stats` over REAL store blocks: polygon
    load() (tile set already polygon-refined + pruned scan) -> the
    same in-codegen per-pixel PIP mask -> integer stats. One
    definition of the mask math — the expression generators — serves
    the synthetic path, this store path, and the DuckDB oracle."""
    from smart_geocubes_spark.functions.sqlgen import pixel_center_sql
    from smart_geocubes_spark.geo.pip import (
        parse_polygon,
        point_in_polygon_predicate_sql,
    )
    from smart_geocubes_spark.plans.materialize import load, open_spec

    spec = open_spec(path)
    px_a, py_a = parse_polygon(poly)
    df = load(spark, path, poly, channels=channels)
    gb = spec.grid.geobox
    pxe, pye = pixel_center_sql(
        "tile_x", "tile_y", "i", gb.x0, gb.y0, gb.res, spec.grid.chunk_px
    )
    pip = point_in_polygon_predicate_sql(px_a, py_a, pxe, pye)
    # valid-aware mask (r6 correctness fix, advisor item #2): store
    # chunks can be PARTIALLY covered (patch fills), and the bare PIP
    # filter kept NULL/NaN holes — the fold then returned NULL sum_x2
    # (NULL propagates through aggregate) and n_in counted no-data
    # pixels as inside. Compose validity with the mask, matching the
    # module's convention (temporal_composite, overviews, regrid all
    # filter valid first). Full-coverage results are unchanged.
    masked = df.withColumn(
        "mvals",
        F.expr(
            f"filter(block, (x, i) -> (x IS NOT NULL AND NOT isnan(x)) AND ({pip}))"
        ),
    )
    return (
        masked.select(
            "tile_id",
            "channel",
            F.size("mvals").cast("long").alias("n_in"),
            F.expr(
                "CAST(aggregate(mvals, 0.0D, (a, x) -> a + x) * 2.0 AS BIGINT)"
            ).alias("sum_x2"),
        )
        .filter(F.col("n_in") > 0)
    )


def zonal_stats(
    spark: SparkSession,
    grid: TileGrid,
    rois: list[tuple[float, float, float, float]],
    channels: list[str],
) -> DataFrame:
    """(tile_id, channel, mean_val, min_val, max_val) over ROI tiles."""
    blocks = _roi_blocks(spark, grid, rois, channels)
    n_px = float(grid.chunk_px * grid.chunk_px)
    return blocks.select(
        "tile_id",
        "channel",
        (F.aggregate("block", F.lit(0.0), lambda a, x: a + x) / F.lit(n_px)).alias("mean_val"),
        F.array_min("block").alias("min_val"),
        F.array_max("block").alias("max_val"),
    )
