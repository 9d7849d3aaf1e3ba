"""FOCAL (neighborhood) raster ops with HALO EXCHANGE across chunk
boundaries — the raster family member zonal/pyramid don't cover: a
3x3 kernel needs each chunk's 1-pixel border from its 8 neighbors,
which on a distributed store is a real data exchange, not a slice.

Reference analog: the reference's cubes are consumed client-side as
xarray, where focal ops see the whole array; at 100 TB the array never
exists in one place, so the halo exchange IS the operator.

Engine shape (the part the oracle validates bit-for-bit):
1. block generation: one Arrow ``mapInPandas`` hop producing int64
   ``v2`` arrays (v2 = 2*value keeps every later step in exact BIGINT;
   block values step by 0.5 so the doubling is lossless).
2. halo strips: 8 JVM projections per chunk (4 edge rows/cols of W
   values + 4 corner singletons), each tagged with the TARGET chunk it
   pads — pure codegen ``slice``/``transform`` over the array column,
   no Python. A strip is ~W longs (~800 B) vs the 80 KB block: the
   exchange adds <4% shuffle volume over co-locating the blocks.
3. assembly: ``applyInPandas`` per (roi_idx, tile, channel) group
   assembles the (W+2)^2 padded array from whatever strips arrived —
   a missing neighbor (region edge) simply leaves mask=0 cells and the
   kernel count drops, which is exactly the clipped-kernel semantics.
4. focal mean x72: with counts in {4,6,9} (all divide 36) the scaled
   mean ``f72 = (36 // cnt) * sum(v2)`` is an exact BIGINT — the
   whole operator is integer end-to-end and oracle-exact.

Scale notes: one shuffle total (strips + centers co-locate on the
group key); groups are chunk-sized (one 102x102 int64 array per task
at a time); nothing driver-side. At a 1-px halo the exchange is
metadata-cheap; wider kernels send k-px strips — same plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_geocubes_spark.geo.geobox import TileGrid
from smart_geocubes_spark.sources.local import local_frame

V2_BLOCK_SCHEMA = (
    "roi_idx int, time_idx int, tile_x long, tile_y long, "
    "channel string, block array<long>"
)
FOCAL_SCHEMA = (
    "roi_idx int, time_idx int, tile_id long, channel string, "
    "f72_sum long, f72_min long, f72_max long"
)

# v2 = 2*value: the doubled synthetic block field. The base comes from
# plans.materialize.block_base_values — THE single definition of the
# formula (materialize.py's own rule); a hand-copy here would let the
# focal synth path and its oracle drift from the store path together.
def _v2_gen(chunk_px: int):
    from smart_geocubes_spark.plans.materialize import block_base_values

    n_px = chunk_px * chunk_px
    # bound the transient (rows x n_px) int64 block to ~16 MB per slice
    # (CLAUDE.md kernel working-set rule) — Arrow batches can be 10k
    # rows, which at 100px chunks would be an 800 MB allocation
    rows_per_slice = max(1, (16 << 20) // (8 * n_px))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from smart_geocubes_spark.plans.materialize import CHANNEL_OFFSETS

        ramp = np.arange(n_px, dtype=np.int64)
        for b in batches:
            # block_base_values maps unknown channels to offset 0.0
            # (fillna) — a typo'd channel would generate plausible
            # wrong blocks; raise loudly instead
            unknown = set(b["channel"]) - set(CHANNEL_OFFSETS)
            if unknown:
                raise ValueError(f"unknown channels {sorted(unknown)}")
            for lo in range(0, len(b), rows_per_slice):
                sl = b.iloc[lo : lo + rows_per_slice]
                base2 = 2.0 * block_base_values(sl)
                # bases are integer-valued by construction; verify the
                # exact-BIGINT contract loudly rather than truncate
                assert np.all(base2 == np.rint(base2)), "non-integer block base"
                out = sl[["roi_idx", "time_idx", "tile_x", "tile_y", "channel"]].copy()
                out["block"] = list(base2.astype(np.int64)[:, None] + ramp[None, :])
                yield out

    return gen


def _strip_exprs(w: int) -> list[tuple[int, int, str, str]]:
    """(dtx, dty, pad_edge, extraction_sql) per direction; pad_edge
    names the TARGET's padded edge the strip fills."""
    last = w - 1
    return [
        (0, 1, "top", f"slice(block, {last * w + 1}, {w})"),
        (0, -1, "bottom", f"slice(block, 1, {w})"),
        (1, 0, "left", f"transform(sequence(0, {last}), r -> block[r * {w} + {last}])"),
        (-1, 0, "right", f"transform(sequence(0, {last}), r -> block[r * {w}])"),
        (1, 1, "topleft", f"array(block[{last * w + last}])"),
        (-1, 1, "topright", f"array(block[{last * w}])"),
        (1, -1, "bottomleft", f"array(block[{last}])"),
        (-1, -1, "bottomright", "array(block[0])"),
    ]


def _focal(
    spark: SparkSession,
    grid: TileGrid,
    rois: list[tuple[float, float, float, float]],
    channels: list[str],
    reduce_fn,
) -> DataFrame:
    """Shared halo pipeline: v2 block gen -> strips -> grouped
    assembly; ``reduce_fn(pad, mask, w) -> (w, w) int64`` is the
    per-pixel neighborhood reduce (mean72, max, ...). Region boundary
    = each ROI's tile rectangle (clipped kernel there); returns
    per-chunk sum/min/max of the reduced field."""
    w = grid.chunk_px
    parts = []
    for i, roi in enumerate(rois):
        t = grid.tiles_overlapping_bbox(*roi)
        pdf = pd.DataFrame({"tile_x": t[:, 0], "tile_y": t[:, 1]})
        pdf["roi_idx"] = np.int32(i)
        parts.append(pdf)
    tiles = local_frame(spark, pd.concat(parts, ignore_index=True))
    ch = local_frame(spark, pd.DataFrame({"channel": channels}))
    cand = tiles.crossJoin(F.broadcast(ch)).withColumn(
        "time_idx", F.lit(-1).cast("int")  # synth path is atemporal
    )
    blocks = cand.mapInPandas(_v2_gen(w), schema=V2_BLOCK_SCHEMA)
    return focal_from_v2_blocks(blocks, grid, reduce_fn)


def focal_from_v2_blocks(blocks: DataFrame, grid: TileGrid, reduce_fn) -> DataFrame:
    """The halo pipeline proper, over ANY v2-block frame matching
    V2_BLOCK_SCHEMA — the synthetic generator above and the cube-store
    read path (``focal_mean3_cube``) both feed this."""
    w = grid.chunk_px
    # feeds the center rows AND 8 strip projections -> one generation
    blocks = blocks.localCheckpoint(eager=True)

    centers = blocks.select(
        "roi_idx", "time_idx", "tile_x", "tile_y", "channel",
        F.lit("center").alias("part"), F.col("block").alias("cells"),
    )
    strip_structs = ", ".join(
        f"named_struct('tx', tile_x + {dtx}L, 'ty', tile_y + {dty}L,"
        f" 'part', '{edge}', 'cells', {expr})"
        for dtx, dty, edge, expr in _strip_exprs(w)
    )
    strips = blocks.selectExpr(
        "roi_idx", "time_idx", "channel", f"explode(array({strip_structs})) AS s"
    ).select(
        "roi_idx",
        "time_idx",
        F.col("s.tx").alias("tile_x"),
        F.col("s.ty").alias("tile_y"),
        "channel",
        F.col("s.part").alias("part"),
        F.col("s.cells").alias("cells"),
    )
    both = centers.unionByName(strips)
    nx = grid.n_tiles_x

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        center = pdf[pdf["part"] == "center"]
        if center.empty:
            # strips aimed at a tile outside the region: no chunk here
            return pd.DataFrame(
                columns=["roi_idx", "time_idx", "tile_id", "channel",
                         "f72_sum", "f72_min", "f72_max"]
            )
        pad = np.zeros((w + 2, w + 2), dtype=np.int64)
        mask = np.zeros((w + 2, w + 2), dtype=np.int64)
        pad[1:-1, 1:-1] = np.asarray(
            center.iloc[0]["cells"], dtype=np.int64
        ).reshape(w, w)
        mask[1:-1, 1:-1] = 1
        place = {
            "top": (slice(0, 1), slice(1, w + 1)),
            "bottom": (slice(w + 1, w + 2), slice(1, w + 1)),
            "left": (slice(1, w + 1), slice(0, 1)),
            "right": (slice(1, w + 1), slice(w + 1, w + 2)),
            "topleft": (slice(0, 1), slice(0, 1)),
            "topright": (slice(0, 1), slice(w + 1, w + 2)),
            "bottomleft": (slice(w + 1, w + 2), slice(0, 1)),
            "bottomright": (slice(w + 1, w + 2), slice(w + 1, w + 2)),
        }
        for _, row in pdf[pdf["part"] != "center"].iterrows():
            rs, cs = place[row["part"]]
            cells = np.asarray(row["cells"], dtype=np.int64)
            if row["part"] in ("left", "right"):
                pad[rs, cs] = cells[:, None]
            else:
                pad[rs, cs] = cells.reshape(1, -1) if cells.size > 1 else cells
            mask[rs, cs] = 1
        f72 = reduce_fn(pad, mask, w)
        r0 = center.iloc[0]
        tid = int(r0["tile_y"]) * nx + int(r0["tile_x"])
        return pd.DataFrame(
            {
                "roi_idx": [np.int32(r0["roi_idx"])],
                "time_idx": [np.int32(r0["time_idx"])],
                "tile_id": [np.int64(tid)],
                "channel": [r0["channel"]],
                "f72_sum": [np.int64(f72.sum())],
                "f72_min": [np.int64(f72.min())],
                "f72_max": [np.int64(f72.max())],
            }
        )

    return both.groupBy(
        "roi_idx", "time_idx", "tile_x", "tile_y", "channel"
    ).applyInPandas(assemble, schema=FOCAL_SCHEMA)


def _mean72_reduce(pad: np.ndarray, mask: np.ndarray, w: int) -> np.ndarray:
    s = np.zeros((w, w), dtype=np.int64)
    cnt = np.zeros((w, w), dtype=np.int64)
    for dr in range(3):
        for dc in range(3):
            s += pad[dr : dr + w, dc : dc + w] * mask[dr : dr + w, dc : dc + w]
            cnt += mask[dr : dr + w, dc : dc + w]
    if not np.all(36 % cnt == 0):
        # cnt in {4,6,9} only for a FULL rectangular region: a hole in
        # the block set (partially-filled cube, orphaned chunk) yields
        # cnt in {5,7,8}, where the floor division would silently skew
        # every affected pixel — fail loudly instead
        raise ValueError(
            "focal mean72: neighborhood count not in {4,6,9} — the "
            "loaded region is not a full rectangle (hole in the cube?)"
        )
    return (36 // cnt) * s  # exact: every cnt divides 36


def _max_reduce(pad: np.ndarray, mask: np.ndarray, w: int) -> np.ndarray:
    lo = np.iinfo(np.int64).min
    masked = np.where(mask == 1, pad, lo)
    out = np.full((w, w), lo, dtype=np.int64)
    for dr in range(3):
        for dc in range(3):
            np.maximum(out, masked[dr : dr + w, dc : dc + w], out=out)
    return out  # center always present -> never lo


def focal_mean3_72(
    spark: SparkSession,
    grid: TileGrid,
    rois: list[tuple[float, float, float, float]],
    channels: list[str],
) -> DataFrame:
    """3x3 focal mean, scaled x72 for exact integers (module doc)."""
    return _focal(spark, grid, rois, channels, _mean72_reduce)


def focal_max3(
    spark: SparkSession,
    grid: TileGrid,
    rois: list[tuple[float, float, float, float]],
    channels: list[str],
) -> DataFrame:
    """3x3 focal max (morphological DILATION) — natively integer in
    the v2 domain, same halo pipeline, max replaces the mean reduce
    (clipped neighborhoods just see fewer candidates)."""
    return _focal(spark, grid, rois, channels, _max_reduce)


def focal_mean3_cube(spark: SparkSession, cube_path: str,
                     roi: tuple[float, float, float, float]) -> DataFrame:
    """Focal mean over REAL cube-store blocks: load() the ROI, double
    the float values into the exact-int64 v2 domain JVM-side (block
    values step by 0.5, so 2*x is lossless), and run the same halo
    pipeline. This is the production path — at 100 TB the blocks come
    from the store, not a formula; only the oracle/tests use the
    closed form."""
    from smart_geocubes_spark.plans.materialize import load, open_spec

    spec = open_spec(cube_path)
    loaded = load(spark, cube_path, roi).localCheckpoint(eager=True)  # guard + v2
    # the exact-BIGINT contract requires NaN-free blocks on the 0.5
    # grid (the standard fill kernel's output). Patch-filled cubes can
    # carry NaN cells (materialize_patch's out-of-footprint border) or
    # arbitrary value_offsets: under ANSI the cast would throw mid-plan
    # (or silently zero with ANSI off) — refuse loudly up front.
    # patch NaNs arrive as NULL array elements after the parquet
    # round-trip (Arrow maps NaN list cells to NULL — CLAUDE.md trap),
    # so test NULL-or-NaN, then the half-step contract
    bad = loaded.filter(
        F.expr(
            "exists(block, x -> x IS NULL OR isnan(x)"
            " OR abs(2.0 * x - round(2.0 * x)) > 0)"
        )
    )
    if bad.limit(1).count() > 0:
        raise ValueError(
            "focal cube path requires NaN-free blocks with 0.5-step values "
            "(standard fill kernel); found NaN or non-half-step cells"
        )
    blocks = loaded.select(
        F.lit(0).cast("int").alias("roi_idx"),
        F.col("time_idx").cast("int").alias("time_idx"),
        "tile_x",
        "tile_y",
        "channel",
        F.expr("transform(block, x -> CAST(2.0 * x AS BIGINT))").alias("block"),
    )
    return focal_from_v2_blocks(blocks, spec.grid, _mean72_reduce)
