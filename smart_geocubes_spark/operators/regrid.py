"""Nearest-neighbor regrid of a cube onto a DIFFERENT chunk-aligned
grid (same CRS, scale/translate affine) — the reference's
reproject-match role: its accessors resample every source onto the
dataset GeoBox at ingest (``odc.geo`` reproject in
``accessors/stac.py`` / ``accessors/gee.py``); this operator gives the
same capability cube-to-grid, so a user can serve a differently-gridded
consumer without re-downloading.

Plan shape (the 100-TB design, same skeleton as the focal halo
exchange):

1. driver-side cover: (target tile -> source tiles) pairs from pure
   affine math — metadata-sized (a target chunk touches
   O((Wt*resT/(Ws*resS) + 1)^2) source tiles, typically <= 4);
2. the pairs broadcast-join the normal pruned ``load()`` scan (each
   source block fans out once per covering target tile);
3. ONE ``applyInPandas`` per (target tile, time, channel) assembles the
   output chunk with a vectorized numpy gather — no per-row Python, no
   second shuffle.

Pixel lookup is NEAREST: each target pixel center maps through the
shared ``GeoBox.xy_to_pixel`` affine (floor((x - x0)/res)) to exactly
one source pixel; target pixels whose center falls outside the source
extent, or on a source chunk that is not filled, stay NULL. The float
index derivation is the same IEEE expression sequence the SQL oracle
replays (``regrid_index_sql``), so engine and oracle agree bit-for-bit
on boundary pixels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_geocubes_spark.geo.geobox import TileGrid
from smart_geocubes_spark.sources.local import local_frame

REGRID_SCHEMA = (
    "tile_y long, tile_x long, tile_id long, time_idx int, channel string, "
    "block array<double>"
)


def regrid_index_sql(target: TileGrid, source: TileGrid) -> dict[str, str]:
    """The SHARED index derivation as SQL fragments over integer target
    coords (txT, tyT, j = target in-chunk pixel index): world center ->
    source global (col, row). One generator serves the numpy kernel's
    math (same expression order) and the DuckDB oracle.

    Cross-CRS (target projected, source EPSG:4326): the target center
    is INVERSE-projected to lon/lat with the same closed forms
    ``geo/projection.unproject`` evaluates — every constant is the
    interpolated repr of the identical Python double, so both engines
    run the same IEEE expression sequence (the ``tile_assign_polar``
    precedent: residual risk is a floor flip within ~1 ulp of a pixel
    boundary, vanishing on real-valued fixtures). Mercator only — the
    3413 inverse is iterative and oracled at pytest level instead."""
    import math

    gt, gs = target.geobox, source.geobox
    Wt = target.chunk_px
    # portable across Spark AND DuckDB (no DIV operator; % and floor
    # are in both engines' accepted set). Every term is an exact-integer
    # double below 2^52, so the float additions are exact in any order
    # and match the numpy kernel's sequence bit-for-bit.
    gcol = f"(CAST(txT * {Wt} + (j % {Wt}) AS DOUBLE) + 0.5)"
    grow = (
        f"(CAST(tyT * {Wt} AS DOUBLE) + "
        f"floor(CAST(j AS DOUBLE) / {Wt}.0) + 0.5)"
    )
    x = f"({gt.x0!r} + {gcol} * {gt.res!r})"
    y = f"({gt.y0!r} - {grow} * {gt.res!r})"
    if gt.crs == gs.crs:
        lon, lat = x, y
    elif gt.crs in ("EPSG:3857", "3857") and gs.crs in ("EPSG:4326", "4326"):
        # mirror of unproject(..., "EPSG:3857"): every constant repr'd
        from smart_geocubes_spark.geo.projection import _A

        deg = math.degrees(1.0)
        lon = f"(({x} / {_A!r}) * {deg!r})"
        lat = f"((2.0 * atan(exp({y} / {_A!r})) - {math.pi / 2.0!r}) * {deg!r})"
    else:
        raise ValueError(
            f"no SQL twin for target {gt.crs!r} over source {gs.crs!r}"
        )
    return {
        "x": x,
        "y": y,
        "col": f"CAST(floor(({lon} - {gs.x0!r}) / {gs.res!r}) AS BIGINT)",
        "row": f"CAST(floor(({gs.y0!r} - {lat}) / {gs.res!r}) AS BIGINT)",
    }


def regrid_nearest(
    spark: SparkSession,
    path: str,
    target: TileGrid,
    roi_bbox: tuple[float, float, float, float],
    toi_epochs: list[int] | None = None,
    channels: list[str] | None = None,
) -> DataFrame:
    """Resample the cube's visible content onto ``target`` over the ROI.

    Returns target-grid block rows (REGRID_SCHEMA). Same-CRS targets
    use the pure affine; a PROJECTED target over an EPSG:4326 cube
    (3857 closed-form, 3413 iterative Snyder) inverse-projects each
    target pixel center through ``geo/projection.unproject`` — the full
    reproject-match role. Unsupported CRSs raise."""
    from smart_geocubes_spark.plans.materialize import load, open_spec

    from smart_geocubes_spark.geo.projection import unproject

    spec = open_spec(path)
    src = spec.grid
    cross_crs = target.geobox.crs != src.geobox.crs
    if cross_crs and src.geobox.crs not in ("EPSG:4326", "4326"):
        raise ValueError(
            f"cross-CRS regrid needs an EPSG:4326 source cube (got "
            f"{src.geobox.crs!r}); project the cube grid itself for other cases"
        )
    if cross_crs:
        # validates the target CRS is one the closed forms support
        unproject(np.array([0.0]), np.array([0.0]), target.geobox.crs)
    t_tiles = target.tiles_overlapping_bbox(*roi_bbox)
    if len(t_tiles) == 0:
        raise ValueError("ROI does not intersect the target grid extent")
    gt = target.geobox
    Wt, Ws = target.chunk_px, src.chunk_px
    src_nx = src.n_tiles_x
    sminx, sminy, smaxx, smaxy = src.geobox.extent
    pairs = []  # (t_tx, t_ty, source tile_id)
    covered_src = set()
    for txT, tyT in t_tiles:
        minx = gt.x0 + float(txT) * Wt * gt.res
        maxy = gt.y0 - float(tyT) * Wt * gt.res
        if not cross_crs:
            bbox = (
                max(minx, sminx), max(maxy - Wt * gt.res, sminy),
                min(minx + Wt * gt.res, smaxx), min(maxy, smaxy),
            )
        else:
            # lon/lat footprint of the PROJECTED tile: a 9x9 lattice of
            # sample points (edges curve under the inverse projection —
            # corners alone under-cover near high distortion), padded by
            # two source pixels for the sampling slack
            s = np.linspace(0.0, float(Wt), 9)
            PX, PY = np.meshgrid(minx + s * gt.res, maxy - s * gt.res)
            lon, lat = unproject(PX.ravel(), PY.ravel(), gt.crs)
            pad = 2.0 * src.geobox.res
            bbox = (
                max(float(lon.min()) - pad, sminx),
                max(float(lat.min()) - pad, sminy),
                min(float(lon.max()) + pad, smaxx),
                min(float(lat.max()) + pad, smaxy),
            )
        if bbox[0] >= bbox[2] or bbox[1] >= bbox[3]:
            continue  # target tile entirely outside the source extent
        for sx, sy in src.tiles_overlapping_bbox(*bbox):
            sid = int(sy) * src_nx + int(sx)
            pairs.append((int(txT), int(tyT), sid))
            covered_src.add(sid)
    if not pairs:
        raise ValueError("ROI does not intersect the cube extent")
    pairs_df = local_frame(
        spark,
        pd.DataFrame(pairs, columns=["t_tx", "t_ty", "tile_id"]).astype("int64"),
    )
    # ONE pruned source scan over the union of covering source tiles
    # (load's bbox enumeration would re-derive the same set; the pair
    # list IS the cover, so scope the scan by the source tiles' bbox)
    sx_ids = sorted(covered_src)
    sxs = [i % src_nx for i in sx_ids]
    sys_ = [i // src_nx for i in sx_ids]
    gs = src.geobox
    src_bbox = (
        gs.x0 + min(sxs) * Ws * gs.res,
        gs.y0 - (max(sys_) + 1) * Ws * gs.res,
        gs.x0 + (max(sxs) + 1) * Ws * gs.res,
        gs.y0 - min(sys_) * Ws * gs.res,
    )
    blocks = load(spark, path, src_bbox, toi_epochs, channels=channels).filter(
        F.col("tile_id").isin(sx_ids)
    )
    joined = blocks.join(F.broadcast(pairs_df), "tile_id").select(
        "t_tx", "t_ty", "time_idx", "channel",
        F.col("tile_x").alias("s_tx"), F.col("tile_y").alias("s_ty"),
        "block",
    )

    # plain floats/ints close over the kernel (picklable, no Spark refs)
    tx0, ty0, tres = gt.x0, gt.y0, gt.res
    sx0, sy0, sres = gs.x0, gs.y0, gs.res
    s_w, s_h = gs.width, gs.height
    t_nx = target.n_tiles_x
    t_crs = gt.crs
    mercator = cross_crs and t_crs in ("EPSG:3857", "3857")

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        txT = int(pdf["t_tx"].iloc[0])
        tyT = int(pdf["t_ty"].iloc[0])
        j = np.arange(Wt * Wt, dtype=np.float64)
        # EXACT mirror of regrid_index_sql (same op order per term)
        gcol = np.float64(txT * Wt) + (j % Wt) + 0.5
        grow = np.float64(tyT * Wt) + np.floor(j / Wt) + 0.5
        x = tx0 + gcol * tres
        y = ty0 - grow * tres
        if not cross_crs:
            lon, lat = x, y
        elif mercator:
            # written out (not unproject()) so the op order is the
            # byte-identical twin of regrid_index_sql's fragments
            import math as _math

            from smart_geocubes_spark.geo.projection import _A

            _deg = _math.degrees(1.0)
            lon = (x / _A) * _deg
            lat = (2.0 * np.arctan(np.exp(y / _A)) - _math.pi / 2.0) * _deg
        else:
            from smart_geocubes_spark.geo.projection import unproject as _unp

            lon, lat = _unp(x, y, t_crs)
        col = np.floor((lon - sx0) / sres).astype(np.int64)
        row = np.floor((sy0 - lat) / sres).astype(np.int64)
        inside = (col >= 0) & (col < s_w) & (row >= 0) & (row < s_h)
        sx = np.where(inside, col // Ws, -1)
        sy = np.where(inside, row // Ws, -1)
        off = (row % Ws) * Ws + (col % Ws)
        out = np.full(Wt * Wt, np.nan, dtype=np.float64)
        for r in pdf.itertuples():
            m = (sx == int(r.s_tx)) & (sy == int(r.s_ty))
            if m.any():
                arr = np.asarray(r.block, dtype=np.float64)
                out[m] = arr[off[m]]
        return pd.DataFrame(
            {
                "tile_y": [np.int64(tyT)],
                "tile_x": [np.int64(txT)],
                "tile_id": [np.int64(tyT * t_nx + txT)],
                "time_idx": [np.int32(pdf["time_idx"].iloc[0])],
                "channel": [pdf["channel"].iloc[0]],
                "block": [out],
            }
        )

    return joined.groupBy("t_tx", "t_ty", "time_idx", "channel").applyInPandas(
        assemble, schema=REGRID_SCHEMA
    )
