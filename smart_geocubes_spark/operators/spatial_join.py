"""Broadcast spatial join: points x patch catalog.

Reference analog: ``gpd.sjoin(tile_geometries, roi_gdf, predicate=
"intersects")`` (``accessors/gee.py:101-107``) and the ArcticDEM
extent-index intersects filter (``datasets/arcticdem.py:229-231``).

Scale design (10^12 points x 10^3..10^5 patches):
1. **cell prejoin** — the catalog is exploded onto the coarse grid
   cells its bbox overlaps (driver-side numpy, thousands of rows) and
   broadcast; points compute their cell with pure column math; the join
   is then a broadcast HASH equi-join on ``join_cell`` — never a
   nested-loop scan of every patch per point, and Catalyst keeps the
   whole point side pipelined in one stage with no shuffle.
2. **bbox filter** — exact envelope predicate, still JVM-side columns.
3. **exact refine** — ray-cast point-in-polygon in an Arrow pandas UDF,
   grouped per patch inside each batch so each polygon's edges are
   broadcast once per batch (geo/pip.py kernel).

Skew: dense web regions hammer a few cells. The prejoin key is a cell,
so AQE skew-join splitting handles the hash side; downstream groupBys
use two-level (salted partial -> final) aggregation — see
operators/skew.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_geocubes_spark.geo.pip import points_in_polygon
from smart_geocubes_spark.sources.local import local_frame

#: coarse prejoin grid: 3-degree cells, aligned to the patch layout.
CELL_DEG = 3.0


def _cell_of(lon_col, lat_col):
    cx = F.floor((lon_col + F.lit(180.0)) / F.lit(CELL_DEG)).cast("long")
    cy = F.floor((F.lit(90.0) - lat_col) / F.lit(CELL_DEG)).cast("long")
    return cx * F.lit(100000) + cy


def explode_catalog_to_cells(spark: SparkSession, catalog: DataFrame) -> DataFrame:
    """Catalog -> one row per (patch, overlapping coarse cell). Runs on
    the driver (catalog is small by contract — the reference's extent
    index is thousands of rows) and is broadcast by the join. Fully
    vectorized: per-patch cell spans are repeated/tiled with numpy, so
    a 10^5-patch catalog explodes without a Python row loop."""
    pdf = catalog.toPandas()
    # antimeridian-crossing bboxes (minx > maxx after wrap
    # normalization) cannot be a single cell span — split into the
    # west [minx, 180] and east [-180, maxx] halves (disjoint cell
    # sets, each half carrying its own correct bbox for the band
    # post-filter). Without this the span math goes negative and
    # np.repeat raises.
    wrap = pdf["minx"].to_numpy(np.float64) > pdf["maxx"].to_numpy(np.float64)
    if wrap.any():
        west = pdf[wrap].copy()
        west["maxx"] = 180.0
        east = pdf[wrap].copy()
        east["minx"] = -180.0
        pdf = pd.concat([pdf[~wrap], west, east], ignore_index=True)
    x_lo = np.floor((pdf["minx"].to_numpy(np.float64) + 180.0) / CELL_DEG).astype(np.int64)
    x_hi = np.floor((pdf["maxx"].to_numpy(np.float64) + 180.0) / CELL_DEG).astype(np.int64)
    y_lo = np.floor((90.0 - pdf["maxy"].to_numpy(np.float64)) / CELL_DEG).astype(np.int64)
    y_hi = np.floor((90.0 - pdf["miny"].to_numpy(np.float64)) / CELL_DEG).astype(np.int64)
    nx = x_hi - x_lo + 1
    ny = y_hi - y_lo + 1
    span = nx * ny
    # row i expands to span[i] cells: offsets 0..span-1 decompose as
    # (offset // ny, offset % ny) into the patch's (gx, gy) rectangle
    idx = np.repeat(np.arange(len(pdf), dtype=np.int64), span)
    off = np.arange(int(span.sum()), dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(span)[:-1])), span
    )
    gx = x_lo[idx] + off // ny[idx]
    gy = y_lo[idx] + off % ny[idx]
    out = pdf.iloc[idx].reset_index(drop=True)
    out.insert(0, "join_cell", gx * 100000 + gy)
    return local_frame(spark, out)


_UDF_CACHE: dict[str, object] = {}


def polygon_pip_udf():
    """Generic-polygon exact refine: candidate rows carry the patch's
    vertex arrays; rows are grouped per patch inside the batch and
    ray-cast with geo/pip.py (handles concave polygons)."""
    if "poly_pip" not in _UDF_CACHE:

        @F.pandas_udf("boolean")
        def _udf(
            lon: pd.Series,
            lat: pd.Series,
            patch_idx: pd.Series,
            poly_x: pd.Series,
            poly_y: pd.Series,
        ) -> pd.Series:
            lon_v = lon.to_numpy(dtype=np.float64)
            lat_v = lat.to_numpy(dtype=np.float64)
            pid = patch_idx.to_numpy()
            out = np.zeros(len(lon_v), dtype=bool)
            for g in np.unique(pid):
                sel = pid == g
                i = int(np.flatnonzero(sel)[0])
                vx = np.asarray(poly_x.iloc[i], dtype=np.float64)
                vy = np.asarray(poly_y.iloc[i], dtype=np.float64)
                out[sel] = points_in_polygon(lon_v[sel], lat_v[sel], vx, vy)
            return pd.Series(out)

        _UDF_CACHE["poly_pip"] = _udf.asNondeterministic()
    return _UDF_CACHE["poly_pip"]


def polygon_catalog_cells(spark: SparkSession, catalog: DataFrame) -> DataFrame:
    """Catalog with CONCAVE L-shaped footprints (non-rectangular
    geometries per FIXTURES.md): vertices derived from each patch's
    cell bounds, exploded to coarse cells like explode_catalog_to_cells."""
    pdf = catalog.select("patch_idx", "patch_id", "cminx", "cminy").toPandas()
    rows = []
    for r in pdf.itertuples(index=False):
        x0, y0 = float(r.cminx), float(r.cminy)
        # L-shape: [x0,x0+2)x[y0,y0+1.5) U [x0,x0+1)x[y0+1.5,y0+3)
        vx = [x0, x0 + 2.0, x0 + 2.0, x0 + 1.0, x0 + 1.0, x0]
        vy = [y0, y0, y0 + 1.5, y0 + 1.5, y0 + 3.0, y0 + 3.0]
        minx, miny, maxx, maxy = x0, y0, x0 + 2.0, y0 + 3.0
        x_lo = int(np.floor((minx + 180.0) / CELL_DEG))
        x_hi = int(np.floor((maxx + 180.0) / CELL_DEG))
        y_lo = int(np.floor((90.0 - maxy) / CELL_DEG))
        y_hi = int(np.floor((90.0 - miny) / CELL_DEG))
        for gx in range(x_lo, x_hi + 1):
            for gy in range(y_lo, y_hi + 1):
                rows.append(
                    (gx * 100000 + gy, r.patch_idx, r.patch_id, minx, miny, maxx, maxy, vx, vy)
                )
    out = pd.DataFrame(
        rows,
        columns=["join_cell", "patch_idx", "patch_id", "minx", "miny", "maxx", "maxy", "poly_x", "poly_y"],
    )
    return local_frame(spark, out)


def polygon_pip_join(points: DataFrame, poly_cells: DataFrame) -> DataFrame:
    """Generic-polygon spatial join: cell prejoin + bbox + concave
    ray-cast refine."""
    pts = points.withColumn("join_cell", _cell_of(F.col("lon"), F.col("lat")))
    cond = (
        (pts["join_cell"] == poly_cells["join_cell"])
        & (pts["lon"] >= poly_cells["minx"])
        & (pts["lon"] < poly_cells["maxx"])
        & (pts["lat"] >= poly_cells["miny"])
        & (pts["lat"] < poly_cells["maxy"])
    )
    cand = pts.join(F.broadcast(poly_cells), cond, "inner").drop(poly_cells["join_cell"])
    return cand.filter(
        polygon_pip_udf()(
            F.col("lon"), F.col("lat"), F.col("patch_idx"), F.col("poly_x"), F.col("poly_y")
        )
    )


def bbox_join(points: DataFrame, catalog_cells: DataFrame) -> DataFrame:
    """Stage 1+2: broadcast hash equi-join on coarse cell, then exact
    envelope predicate. Output: one row per (point, candidate patch)."""
    pts = points.withColumn("join_cell", _cell_of(F.col("lon"), F.col("lat")))
    cond = (
        (pts["join_cell"] == catalog_cells["join_cell"])
        & (pts["lon"] >= catalog_cells["minx"])
        & (pts["lon"] < catalog_cells["maxx"])
        & (pts["lat"] >= catalog_cells["miny"])
        & (pts["lat"] < catalog_cells["maxy"])
    )
    return pts.join(F.broadcast(catalog_cells), cond, "inner").drop(catalog_cells["join_cell"])


def pip_join(points: DataFrame, catalog_cells: DataFrame) -> DataFrame:
    """Full spatial join: cell prejoin + bbox + exact diamond refine.

    r6 (guide §4.1): the refine is the diamond's closed form
    ``|lon-cx|/rx + |lat-cy|/ry < 1`` as a JVM predicate — the exact
    expression (same term order, identical IEEE doubles) the DuckDB
    oracle has always used, so the whole join now runs inside
    WholeStageCodegen with ZERO Python nodes. The ray-cast Arrow
    kernel it replaced was pinned result-equal to this predicate by
    every green driver row; generic/concave footprints still take the
    ray-cast path (:func:`polygon_pip_join`), which has no closed form."""
    cand = bbox_join(points, catalog_cells)
    inside = (
        F.abs(F.col("lon") - F.col("cx")) / F.col("rx")
        + F.abs(F.col("lat") - F.col("cy")) / F.col("ry")
    ) < F.lit(1.0)
    return cand.filter(inside)
