"""Named engine queries + DuckDB oracle SQL (the driver contract).

Every entry returns a DataFrame whose (row multiset, column names)
must match the oracle exactly under the driver's order-insensitive
value hash — so every computed column is aliased identically on both
sides, floats only appear where both engines provably compute the
same IEEE doubles, and timestamps are exported as epoch BIGINTs
(session tz pinned to UTC).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_geocubes_spark.functions.sqlgen import morton_cell_sql, tile_assign_sql
from smart_geocubes_spark.operators.geoparse import (
    extract_text_udf,
    geoparse_url,
    geoparsed_points,
)
from smart_geocubes_spark.operators.spatial_join import (
    bbox_join,
    explode_catalog_to_cells,
    pip_join,
)
from smart_geocubes_spark.operators.tiles import (
    in_extent_filter,
    with_tiles_native,
)
from smart_geocubes_spark.sources.local import local_frame
from smart_geocubes_spark.sources.synth import (
    GRID,
    catalog_df,
    pages_df,
    pages_sql,
    patches_sql,
)

# ---------------------------------------------------------------------------
# shared oracle CTE prefix (DuckDB): pages + patches + geoparsed points
# ---------------------------------------------------------------------------

# imported, not copied (same rule as operators/tiles.py): the oracle
# must parse exactly what the engine's geoparse kernel parses
from smart_geocubes_spark.operators.geoparse import _GEO_URL_RE as _GEO_RE  # noqa: E402

ORACLE_PREFIX = f"""WITH pages AS ({pages_sql("orders")}),
patches AS ({patches_sql("duckdb")}),
pts AS (
  SELECT page_id, lat_e5 / 100000.0 AS lat, lon_e5 / 100000.0 AS lon,
         warc_epoch, host_id
  FROM pages WHERE has_geo
)"""


def _result_ckpt(df: DataFrame) -> DataFrame:
    """Store-path queries checkpoint their RESULT eagerly so the scratch
    cube can be deleted before the driver collects. ``dump_plans``
    swaps this for the identity inside its own process so PLANS.md
    shows the real shape instead of a bare ExistingRDD scan; such an
    un-checkpointed frame references the deleted store and is only
    ever explained, never executed."""
    return df.localCheckpoint(eager=True)


@contextmanager
def _scratch(prefix: str) -> Iterator[str]:
    """A fresh temp dir, removed however the block exits."""
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _filled_cube(
    spark: SparkSession,
    prefix: str,
    channels: tuple[str, ...],
    rois: list,
    read: Callable[[str, list[dict]], DataFrame],
    dtypes: tuple[str, ...] | None = None,
    time_epochs: tuple[int, ...] | None = None,
) -> DataFrame:
    """The store path under the driver's value-hash: create a scratch
    cube on GRID, fill each ROI in order with the real materialize
    kernel, and return ``read(path, fill_results)`` checkpointed so the
    cube is already deleted when the caller gets the frame."""
    from smart_geocubes_spark.plans.materialize import CubeSpec, create_cube, materialize

    with _scratch(prefix) as root:
        path = root + "/cube"
        create_cube(
            path,
            CubeSpec(grid=GRID, channels=channels, dtypes=dtypes, time_epochs=time_epochs),
        )
        fills = [materialize(spark, path, roi) for roi in rois]
        return _result_ckpt(read(path, fills))


def _block_stats(
    df: DataFrame,
    scale: int = 2,
    n_col: str = "n_px",
    block: str = "block",
    keys: tuple[str, ...] = ("tile_id", "channel"),
) -> DataFrame:
    """Per-chunk integer stats over the ``block`` array expression:
    its size and ``sum * scale`` as a BIGINT. The fixture values are
    half-steps (eighths after 2x2 pooling), so the scaled sum is exact
    in any accumulation order."""
    return df.select(
        *keys,
        F.expr(f"size({block})").cast("long").alias(n_col),
        F.expr(
            f"CAST(aggregate({block}, 0.0D, (a, x) -> a + x) * {float(scale)!r} AS BIGINT)"
        ).alias(f"sum_x{scale}"),
    )


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-side geoparsed points: REAL path (regex pandas UDF over
    url), not the generator's lat_e5 columns — the oracle cross-checks
    the parse. The driver parquet is one input split, so the source is
    spread across the session's parallelism before the UDF runs (at
    production scale the Iceberg table's splits do this)."""
    dp = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, sf_dir, parallelism=dp).select(
        "page_id", "url", "warc_epoch", "host_id"
    )
    return geoparsed_points(pages)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_geoparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _points(spark, sf_dir).select("page_id", "lat", "lon")


SQL_GEOPARSE = f"""{ORACLE_PREFIX}
SELECT page_id,
       CAST(regexp_extract(url, '{_GEO_RE}', 1) AS BIGINT) / 100000.0 AS lat,
       CAST(regexp_extract(url, '{_GEO_RE}', 2) AS BIGINT) / 100000.0 AS lon
FROM pages WHERE url LIKE '%/geo/%'
"""


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen html->text extractor run as an Arrow UDF over the
    html BINARY column; oracle reconstructs the closed-form text."""
    pages = pages_df(spark, sf_dir, parallelism=spark.sparkContext.defaultParallelism)
    return pages.select("page_id", extract_text_udf()(F.col("html")).alias("text"))


SQL_EXTRACT_TEXT = f"""{ORACLE_PREFIX}
SELECT page_id, text FROM pages
"""


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tile-id projection (JVM-side affine floor math) +
    per-tile page counts. The north-rule invariant query."""
    pts = _points(spark, sf_dir).filter(in_extent_filter(GRID))
    tiled = with_tiles_native(pts, GRID)
    return tiled.groupBy("tile_id").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("page_id").cast("long").alias("sum_page_id"),
    )


_TILE_EXPRS = tile_assign_sql("lon", "lat", GRID.geobox.x0, GRID.geobox.y0, GRID.tile_size, GRID.n_tiles_x)

SQL_TILE_ASSIGN = f"""{ORACLE_PREFIX}
SELECT {_TILE_EXPRS["tile_id"]} AS tile_id,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(page_id) AS BIGINT) AS sum_page_id
FROM pts
WHERE lon >= -180.0 AND lon < 180.0 AND lat > 60.0 AND lat <= 84.0
GROUP BY 1
"""


def q_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/quadkey cell encoding at res 12 (H3/S2 role); oracle
    recomputes the bit-interleave in pure SQL.

    ONE fused ArrowEvalPython hop: geoparse + encode run in a single
    Arrow UDF (operators.tiles.make_geoparse_cell_udf) because the
    output only needs (page_id, cell12) — chained pandas UDF hops
    measured 6x slower at 32 cores (CLAUDE.md rule 4; round-3 verdict
    item #2), and the r6 JVM-expression variant (regexp_extract parse
    + shared-dialect Morton SQL) measured ~40% slower still: the
    Morton macro textually duplicates its input expression per bit
    level, so the un-materialized parse gets folded into a mega-stage
    (guide §1: measured, then kept the faster plan). Same parse +
    exact float path as geoparsed_points, so the fixture's regex-match
    set equals the oracle's LIKE-filter set and the -1 no-parse
    sentinel filter is equivalent to has_geo."""
    from smart_geocubes_spark.operators.tiles import make_geoparse_cell_udf

    dp = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, sf_dir, parallelism=dp).select("page_id", "url")
    fused = make_geoparse_cell_udf(12)
    enc = pages.select("page_id", fused(F.col("url")).alias("cell12"))
    return enc.filter(F.col("cell12") >= 0)


SQL_CELL_ENCODE = f"""{ORACLE_PREFIX}
SELECT page_id, {morton_cell_sql("lon", "lat", 12)} AS cell12 FROM pts
"""


def q_spatial_join_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope spatial join via coarse-cell broadcast hash equi-join;
    per-patch counts. Patches overlap (0.5 deg margin) so border points
    hit several patches — the STAC-overlap case."""
    pts = _points(spark, sf_dir)
    cells = explode_catalog_to_cells(spark, catalog_df(spark))
    joined = bbox_join(pts, cells)
    return joined.groupBy("patch_id").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("page_id").cast("long").alias("sum_page_id"),
    )


SQL_SPATIAL_JOIN_BBOX = f"""{ORACLE_PREFIX}
SELECT p.patch_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(t.page_id) AS BIGINT) AS sum_page_id
FROM pts t JOIN patches p
  ON t.lon >= p.minx AND t.lon < p.maxx AND t.lat >= p.miny AND t.lat < p.maxy
GROUP BY 1
"""


def q_spatial_join_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact point-in-polygon join (ray-cast refine in Arrow UDF over
    diamond patch footprints); oracle uses the diamond's closed form
    |dx|/rx + |dy|/ry < 1 — a true independent check of the ray caster."""
    pts = _points(spark, sf_dir)
    cells = explode_catalog_to_cells(spark, catalog_df(spark))
    joined = pip_join(pts, cells)
    return joined.groupBy("patch_id").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("page_id").cast("long").alias("sum_page_id"),
    )


SQL_SPATIAL_JOIN_PIP = f"""{ORACLE_PREFIX}
SELECT p.patch_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(t.page_id) AS BIGINT) AS sum_page_id
FROM pts t JOIN patches p
  ON t.lon >= p.minx AND t.lon < p.maxx AND t.lat >= p.miny AND t.lat < p.maxy
WHERE abs(t.lon - p.cx) / p.rx + abs(t.lat - p.cy) / p.ry < 1.0
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# kNN with cell-ring expansion (exact, with brute-force fallback)
# ---------------------------------------------------------------------------

_KNN_K = 5


def _knn_queries_pdf(spark: SparkSession):
    pdf = (
        catalog_df(spark)
        .filter((F.col("patch_idx") % 48) == 13)
        .select(
            F.col("patch_idx").alias("qid"),
            (F.col("cx") + F.lit(0.123)).alias("qx"),
            (F.col("cy") - F.lit(0.217)).alias("qy"),
        )
        .toPandas()
    )
    return pdf


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.knn import knn_join

    pts = _points(spark, sf_dir).withColumnRenamed("page_id", "point_id")
    return knn_join(spark, pts, _knn_queries_pdf(spark), k=_KNN_K)


SQL_KNN = f"""{ORACLE_PREFIX},
q AS (
  SELECT patch_idx AS qid, cx + 0.123 AS qx, cy - 0.217 AS qy
  FROM patches WHERE patch_idx % 48 = 13
)
SELECT qid, neighbor_id, rank FROM (
  SELECT q.qid, t.page_id AS neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY q.qid
           ORDER BY (t.lon - q.qx) * (t.lon - q.qx) + (t.lat - q.qy) * (t.lat - q.qy) ASC,
                    t.page_id ASC
         ) AS BIGINT) AS rank
  FROM pts t CROSS JOIN q
) ranked WHERE rank <= {_KNN_K}
"""


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-radius spatial join (every page within 0.8 deg of each
    query page): cell-bucketed with a 3x3-disk coverage guarantee, then
    exact d2 filter. Oracle = brute-force theta join (small query side
    makes that tractable for DuckDB)."""
    from smart_geocubes_spark.operators.knn import distance_join

    pts = _points(spark, sf_dir)
    points = pts.select(F.col("page_id").alias("point_id"), "lon", "lat")
    queries = pts.filter(F.col("page_id") % 500 == 0).select(
        F.col("page_id").alias("qid"), F.col("lon").alias("qx"), F.col("lat").alias("qy")
    )
    j = distance_join(points, queries, radius=0.8)
    return j.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_neighbors"),
        F.sum("point_id").cast("long").alias("sum_ids"),
    )


SQL_DISTANCE_JOIN = f"""{ORACLE_PREFIX},
q AS (SELECT page_id AS qid, lon AS qx, lat AS qy FROM pts WHERE page_id % 500 = 0)
SELECT q.qid, CAST(count(*) AS BIGINT) AS n_neighbors,
       CAST(sum(t.page_id) AS BIGINT) AS sum_ids
FROM pts t JOIN q
  ON ((t.lon - q.qx) * (t.lon - q.qx) + (t.lat - q.qy) * (t.lat - q.qy)) <= {0.8 * 0.8!r}
WHERE t.page_id <> q.qid
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# temporal: as-of nearest + interval join
# ---------------------------------------------------------------------------

from smart_geocubes_spark.sources.synth import CUBE_TIME_EPOCHS  # noqa: E402

_AXIS_VALUES = ",".join(f"({i}, {e})" for i, e in enumerate(CUBE_TIME_EPOCHS))


def q_asof_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-time mapping (reference TOI semantics, core/toi.py:33-37):
    each page's warc_ts snapped to the nearest cube time step."""
    import pandas as pd

    from smart_geocubes_spark.operators.temporal import asof_nearest

    axis = local_frame(
        spark,
        pd.DataFrame(
            {"time_idx": range(len(CUBE_TIME_EPOCHS)), "epoch": list(CUBE_TIME_EPOCHS)}
        ),
    ).selectExpr("CAST(time_idx AS INT) AS time_idx", "CAST(epoch AS LONG) AS epoch")
    ev = _points(spark, sf_dir).select("page_id", "warc_epoch")
    return asof_nearest(ev, axis).selectExpr("page_id", "CAST(time_idx AS BIGINT) AS time_idx")


SQL_ASOF_TIME = f"""{ORACLE_PREFIX},
axis AS (SELECT * FROM (VALUES {_AXIS_VALUES}) ta(time_idx, epoch))
SELECT page_id, CAST(time_idx AS BIGINT) AS time_idx FROM (
  SELECT t.page_id, a.time_idx,
         row_number() OVER (
           PARTITION BY t.page_id
           ORDER BY abs(t.warc_epoch - a.epoch) ASC, a.time_idx ASC
         ) AS rn
  FROM pts t CROSS JOIN axis a
) x WHERE rn = 1
"""


def q_merge_asof_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed as-of join: each page matched to the latest patch start
    time <= its warc_ts within its key group (host_id % 8 -> patch
    row). Table-valued as-of (pandas merge_asof with by=), zero-shuffle
    event side via a per-key sorted-axis map literal. Oracle: correlated
    max() subquery."""
    from smart_geocubes_spark.operators.temporal import merge_asof_backward

    pts = _points(spark, sf_dir).select(
        "page_id", "warc_epoch", F.pmod(F.col("host_id"), F.lit(8)).alias("grp")
    )
    cat = catalog_df(spark).select("prow", "t_start_epoch").withColumnRenamed("prow", "grp")
    out = merge_asof_backward(pts, cat, by_col="grp", ts_col="warc_epoch", t_col="t_start_epoch")
    return out.select(
        "page_id", F.col("grp").cast("long").alias("grp"), F.col("asof_t").cast("long").alias("asof_t")
    )


SQL_MERGE_ASOF_BY = f"""{ORACLE_PREFIX}
SELECT t.page_id,
       CAST(t.host_id % 8 AS BIGINT) AS grp,
       (SELECT max(p.t_start_epoch) FROM patches p
        WHERE p.prow = t.host_id % 8 AND p.t_start_epoch <= t.warc_epoch) AS asof_t
FROM pts t
"""


def q_range_join_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: pages whose warc_ts falls inside a patch's
    validity window, as a bucketed hash equi-join (no theta NLJ)."""
    from smart_geocubes_spark.operators.temporal import bucketed_range_join

    pts = _points(spark, sf_dir).select("page_id", "warc_epoch")
    cat = catalog_df(spark).select("patch_id", "t_start_epoch", "t_end_epoch")
    j = bucketed_range_join(pts, cat)
    return j.groupBy("patch_id").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum("page_id").cast("long").alias("sum_page_id"),
    )


SQL_RANGE_JOIN_TIME = f"""{ORACLE_PREFIX}
SELECT p.patch_id,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(t.page_id) AS BIGINT) AS sum_page_id
FROM pts t JOIN patches p
  ON p.t_start_epoch IS NOT NULL
 AND t.warc_epoch >= p.t_start_epoch AND t.warc_epoch <= p.t_end_epoch
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# zonal stats over synthetic cube blocks (closed-form oracle)
# ---------------------------------------------------------------------------

ZONAL_ROIS = [
    (-150.7, 62.3, -148.2, 64.9),
    (19.3, 69.1, 23.8, 71.2),
    (99.2, 76.3, 103.7, 79.4),
]
_ZONAL_CHANNELS = [("dem", 0.0), ("slope", 500000.0)]


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.zonal import zonal_stats

    return zonal_stats(spark, GRID, ZONAL_ROIS, [c for c, _ in _ZONAL_CHANNELS])


def _tile_range(roi) -> str:
    """Oracle predicate on (tx, ty): the tile rectangle covering ``roi``."""
    t = GRID.tiles_overlapping_bbox(*roi)
    return (
        f"(tx BETWEEN {t[:, 0].min()} AND {t[:, 0].max()} "
        f"AND ty BETWEEN {t[:, 1].min()} AND {t[:, 1].max()})"
    )


_ZONAL_TILES = [_tile_range(roi) for roi in ZONAL_ROIS]
_ZONAL_TILES_ANY = " OR ".join(_ZONAL_TILES)


# every GRID tile as (tx, ty) — the body of each oracle's tile CTE
_ALL_TILES = f"""  SELECT range % {GRID.n_tiles_x} AS tx,
         CAST(floor(range / {GRID.n_tiles_x}.0) AS BIGINT) AS ty
  FROM range({GRID.n_tiles_x * GRID.n_tiles_y})"""


def _tile_cte(where: str, coords: bool = True) -> str:
    """Oracle tile enumeration: every GRID tile as ``zt`` (tx, ty), and
    the ones matching ``where`` as ``ztf`` (tile_id, plus tx, ty when
    ``coords``). Opens the WITH clause; the caller continues after
    ``ztf``'s closing paren."""
    return f"""WITH zt AS (
{_ALL_TILES}
),
ztf AS (
  SELECT ty * {GRID.n_tiles_x} + tx AS tile_id{", tx, ty" if coords else ""} FROM zt
  WHERE {where}
)"""


_N_PX = GRID.chunk_px * GRID.chunk_px
_ZONAL_CH_VALUES = ",".join(f"('{c}', {o!r})" for c, o in _ZONAL_CHANNELS)

SQL_ZONAL_STATS = f"""{_tile_cte(_ZONAL_TILES_ANY)},
zc AS (
  SELECT tile_id, tx, ty, channel, off
  FROM ztf CROSS JOIN (VALUES {_ZONAL_CH_VALUES}) ch(channel, off)
)
SELECT tile_id, channel,
       CAST(ty * 1000 + tx + off AS DOUBLE) + {0.5 * (_N_PX - 1) / 2.0!r} AS mean_val,
       CAST(ty * 1000 + tx + off AS DOUBLE) AS min_val,
       CAST(ty * 1000 + tx + off AS DOUBLE) + {0.5 * (_N_PX - 1)!r} AS max_val
FROM zc
"""


def q_zonal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile raster value histogram (bin = floor(value) mod 7):
    block arrays folded into counter arrays with one JVM aggregate —
    no pixel explode (the shuffle carries 7 longs per chunk, not 10k
    pixels). Oracle brute-enumerates every pixel of every ROI tile."""
    from smart_geocubes_spark.operators.zonal import zonal_value_histogram

    return zonal_value_histogram(spark, GRID, ZONAL_ROIS, [c for c, _ in _ZONAL_CHANNELS])


SQL_ZONAL_HISTOGRAM = f"""{_tile_cte(_ZONAL_TILES_ANY)},
zc AS (
  SELECT tile_id, tx, ty, channel, off
  FROM ztf CROSS JOIN (VALUES {_ZONAL_CH_VALUES}) ch(channel, off)
),
px AS (
  SELECT tile_id, channel,
         CAST(ty * 1000 + tx + off AS DOUBLE) + i * 0.5 AS val
  FROM zc, generate_series(0, {_N_PX - 1}) t(i)
)
SELECT tile_id, channel,
       CAST(CAST(floor(val) AS BIGINT) % 7 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_px
FROM px GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# lineage anti-join chunk plan (cache-skip, the reference's core optimization)
# ---------------------------------------------------------------------------

def q_pyramid_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution overviews over the ROI blocks (levels 1 and 2).
    Oracle: the pooled value has a closed form — the mean of pixel
    indices over a 2^L-aligned square is (k*r2 + (k-1)/2)*W + k*c2 +
    (k-1)/2 — and every quantity is dyadic, so the iterated numpy
    pooling and the direct SQL form agree exactly."""
    from smart_geocubes_spark.operators.zonal import pyramid_overview

    return pyramid_overview(
        spark, GRID, ZONAL_ROIS, [c for c, _ in _ZONAL_CHANNELS], levels=[1, 2]
    )


def _pyramid_sql() -> str:
    W = GRID.chunk_px
    return f"""{_tile_cte(_ZONAL_TILES_ANY)},
px AS (
  SELECT tile_id, channel, level, k,
         (ty * 1000.0 + tx + off)
         + 0.5 * ((k * r2 + (k - 1) / 2.0) * {W} + k * c2 + (k - 1) / 2.0) AS v
  FROM ztf
  CROSS JOIN (VALUES {_ZONAL_CH_VALUES}) ch(channel, off)
  CROSS JOIN (VALUES (1, 2), (2, 4)) lv(level, k),
       generate_series(0, {W // 2 - 1}) tr(r2),
       generate_series(0, {W // 2 - 1}) tc(c2)
  WHERE r2 < {W} / k AND c2 < {W} / k
)
SELECT tile_id, channel, CAST(level AS BIGINT) AS level,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) * 32 AS BIGINT) AS sum_x32
FROM px GROUP BY 1, 2, 3
"""


SQL_PYRAMID_OVERVIEW = _pyramid_sql()


def _zonal_candidates(roi):
    """The engine's driver-side chunk plan (``candidate_chunks``) of an
    atemporal cube over ``GRID`` with the zonal channels."""
    from smart_geocubes_spark.plans.materialize import CubeSpec, candidate_chunks

    spec = CubeSpec(grid=GRID, channels=tuple(c for c, _ in _ZONAL_CHANNELS), time_epochs=None)
    return candidate_chunks(spec, roi)


def q_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates (ROI tiles x channels) minus the committed chunk keys
    -> exactly the chunks a resume run must write
    (core/accessor.py:434-436 semantics): a pandas set difference, as
    ``plan_missing`` diffs a fill against its lineage."""
    cands = _zonal_candidates(ZONAL_ROIS[0])
    committed = cands[(cands["tile_id"] % 2 == 0) & (cands["channel"] == "dem")]
    plan = cands[~cands["chunk_key"].isin(committed["chunk_key"])]
    return local_frame(spark, plan[["tile_id", "channel"]], "tile_id long, channel string")


SQL_CHUNK_PLAN = f"""{_tile_cte(_ZONAL_TILES[0], coords=False)},
cands AS (
  SELECT tile_id, channel
  FROM ztf CROSS JOIN (VALUES ('dem'), ('slope')) ch(channel)
)
SELECT tile_id, channel FROM cands
WHERE NOT (tile_id % 2 = 0 AND channel = 'dem')
"""


# Concave U-shaped ROI over the arctic grid (reference load() geometry
# branch, core/accessor.py:331-358): every vertex is an exact binary
# double, and the notch edges sit mid-tile so no candidate rect merely
# touches the polygon boundary. Its bbox covers 11 x 6 tiles; the notch
# excludes the 4 x 3 interior block -> 54 tiles, strictly fewer.
_POLY_ROI = [
    (-9.75, 62.25), (4.5, 62.25), (4.5, 69.75), (1.125, 69.75),
    (1.125, 64.875), (-6.375, 64.875), (-6.375, 69.75), (-9.75, 69.75),
]


def q_chunk_plan_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk plan for a POLYGON ROI: bbox-enumerate candidate tiles,
    exact rect x polygon refine (geo/pip.py rects_intersect_polygon,
    driver-side — the tile set is metadata-sized), cross channels.
    The oracle re-derives the identical tile set in pure SQL through
    the shared predicate generator (rect_polygon_predicate_sql), so
    the numpy kernel and its SQL mirror are pinned against each other
    by the driver's value hash. Built by the engine's own
    :func:`candidate_chunks`, like :func:`q_chunk_plan`."""
    plan = _zonal_candidates(_POLY_ROI)[["tile_id", "tile_x", "tile_y", "channel"]]
    return local_frame(spark, plan, "tile_id long, tile_x long, tile_y long, channel string")


def _poly_window_cte(px, py) -> str:
    """Oracle CTEs ``t`` (every GRID tile) and ``tb`` (the tiles of the
    polygon's bbox window with their float bounds). Opens the WITH
    clause; the caller continues after ``tb``'s closing paren."""
    cand = GRID.tiles_overlapping_bbox(
        float(px.min()), float(py.min()), float(px.max()), float(py.max())
    )
    bx0, bx1 = int(cand[:, 0].min()), int(cand[:, 0].max())
    by0, by1 = int(cand[:, 1].min()), int(cand[:, 1].max())
    gb, t = GRID.geobox, GRID.tile_size
    # bound expressions mirror TileGrid.tile_bounds ASSOCIATIVITY
    # (miny = maxy - t, maxx = minx + t) — exact doubles either way on
    # this grid, but parity must not depend on that
    return f"""WITH t AS (
{_ALL_TILES}
),
tb AS (
  SELECT tx, ty, ty * {GRID.n_tiles_x} + tx AS tile_id,
         CAST({gb.x0!r} + tx * {t!r} AS DOUBLE) AS minx,
         CAST({gb.y0!r} - ty * {t!r} - {t!r} AS DOUBLE) AS miny,
         CAST({gb.x0!r} + tx * {t!r} + {t!r} AS DOUBLE) AS maxx,
         CAST({gb.y0!r} - ty * {t!r} AS DOUBLE) AS maxy
  FROM t
  WHERE tx BETWEEN {bx0} AND {bx1} AND ty BETWEEN {by0} AND {by1}
)"""


def _chunk_plan_polygon_sql() -> str:
    import numpy as _n

    from smart_geocubes_spark.geo.pip import rect_polygon_predicate_sql

    px = _n.array([p[0] for p in _POLY_ROI])
    py = _n.array([p[1] for p in _POLY_ROI])
    pred = rect_polygon_predicate_sql(px, py, "minx", "miny", "maxx", "maxy")
    return f"""{_poly_window_cte(px, py)}
SELECT tile_id, tx AS tile_x, ty AS tile_y, channel
FROM tb CROSS JOIN (VALUES ('dem'), ('slope')) ch(channel)
WHERE {pred}
"""


SQL_CHUNK_PLAN_POLYGON = _chunk_plan_polygon_sql()


def q_cell_polyfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-polyfill role (S2 RegionCoverer analog): Morton cells at
    res 8 covering the concave U polygon — bbox candidate window +
    exact rect x polygon refine, driver-side numpy (the covering is
    polygon-bounded metadata). The oracle re-derives the cover in
    pure SQL: the same rect predicate generator + the same
    bit-spread integer expressions the cell_encode oracle uses, so
    id construction AND geometry both sit under the value hash."""
    import numpy as _n
    import pandas as _pd

    from smart_geocubes_spark.geo.cells import cell_decode, cell_polyfill

    ids = cell_polyfill(
        _n.array([p[0] for p in _POLY_ROI]),
        _n.array([p[1] for p in _POLY_ROI]),
        res=8,
    )
    ix, iy, _res = cell_decode(ids)
    return local_frame(spark, _pd.DataFrame({"cell_id": ids, "ix": ix, "iy": iy}))


def _cell_polyfill_sql() -> str:
    import numpy as _n

    from smart_geocubes_spark.functions.sqlgen import _spread16
    from smart_geocubes_spark.geo.cells import lonlat_to_ixiy
    from smart_geocubes_spark.geo.pip import rect_polygon_predicate_sql

    res = 8
    n = 1 << res
    dx, dy = 360.0 / float(n), 180.0 / float(n)
    px = _n.array([p[0] for p in _POLY_ROI])
    py = _n.array([p[1] for p in _POLY_ROI])
    ix_lo, iy_lo = lonlat_to_ixiy(px.min(), py.min(), res)
    ix_hi, iy_hi = lonlat_to_ixiy(px.max(), py.max(), res)
    ncols = int(ix_hi - ix_lo + 1)
    nrows = int(iy_hi - iy_lo + 1)
    pred = rect_polygon_predicate_sql(px, py, "minx", "miny", "maxx", "maxy")
    return f"""WITH g AS (
  SELECT {int(ix_lo)} + range % {ncols} AS ix,
         {int(iy_lo)} + CAST(floor(range / {ncols}.0) AS BIGINT) AS iy
  FROM range({ncols * nrows})
),
b AS (
  SELECT ix, iy,
         CAST(-180.0 + ix * {dx!r} AS DOUBLE) AS minx,
         CAST(-90.0 + iy * {dy!r} AS DOUBLE) AS miny,
         CAST(-180.0 + ix * {dx!r} + {dx!r} AS DOUBLE) AS maxx,
         CAST(-90.0 + iy * {dy!r} + {dy!r} AS DOUBLE) AS maxy
  FROM g
)
SELECT ({_spread16("ix")} | ({_spread16("iy")} << 1)
        | (CAST({res} AS BIGINT) << 56)) AS cell_id,
       ix, iy
FROM b
WHERE {pred}
"""


SQL_CELL_POLYFILL = _cell_polyfill_sql()


def q_zonal_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-accurate polygon zonal stats: per (tile, channel) the
    count and exact integer-scaled sum of pixels whose CENTER is
    inside the concave U ROI — the per-pixel PIP mask runs inside JVM
    codegen (filter(block, (x,i) -> ...) with inlined vertices); the
    oracle replays every pixel through the SAME generated predicate
    string in DuckDB."""
    from smart_geocubes_spark.operators.zonal import polygon_zonal_stats

    return polygon_zonal_stats(
        spark, GRID, _POLY_ROI, [c for c, _ in _ZONAL_CHANNELS]
    )


def _zonal_polygon_sql() -> str:
    import numpy as _n

    from smart_geocubes_spark.functions.sqlgen import pixel_center_sql
    from smart_geocubes_spark.geo.pip import (
        point_in_polygon_predicate_sql,
        rect_polygon_predicate_sql,
    )

    px = _n.array([p[0] for p in _POLY_ROI])
    py = _n.array([p[1] for p in _POLY_ROI])
    gb, W = GRID.geobox, GRID.chunk_px
    rect_pred = rect_polygon_predicate_sql(px, py, "minx", "miny", "maxx", "maxy")
    # the SAME generator the engine's plan uses, with the oracle's
    # qualified column spellings — one math definition, two dialect uses
    pxe, pye = pixel_center_sql("k.tx", "k.ty", "p.i", gb.x0, gb.y0, gb.res, W)
    pip = point_in_polygon_predicate_sql(px, py, pxe, pye)
    return f"""{_poly_window_cte(px, py)},
keep AS (
  SELECT tile_id, tx, ty FROM tb WHERE {rect_pred}
),
inpix AS (
  SELECT k.tile_id, ch.channel,
         CAST(k.ty * 1000 + k.tx + ch.off AS DOUBLE)
           + 0.5 * CAST(p.i AS DOUBLE) AS val
  FROM keep k
  CROSS JOIN (VALUES {_ZONAL_CH_VALUES}) ch(channel, off)
  CROSS JOIN (SELECT range AS i FROM range({W * W})) p
  WHERE {pip}
)
SELECT tile_id, channel,
       CAST(count(*) AS BIGINT) AS n_in,
       CAST(sum(val) * 2.0 AS BIGINT) AS sum_x2
FROM inpix
GROUP BY 1, 2
"""


SQL_ZONAL_POLYGON_STATS = _zonal_polygon_sql()


def q_event_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-patch EVENT LOG (reference core/backend.py:23-28,59-93): fill
    a fresh cube over ZONAL_ROIS[0], then project the committed event
    rows' deterministic half — exactly ONE event per planned chunk with
    exact byte accounting (chunk set = tile coverage x channels, same
    closed form as chunk_plan_antijoin). The wall-clock half (start/end
    -> duration merge, per-partition lanes) is nondeterministic by
    nature and is pinned by tests/test_materialize.py instead."""
    from smart_geocubes_spark.plans.materialize import read_events

    def read(path, _fills):
        # the 'generate' half is deterministic (chunk set x exact byte
        # accounting); 'write' rows carry wall-clock/file-size values
        # pinned by tests/test_materialize.py instead of the oracle
        ev = read_events(spark, path)
        return ev.filter(F.col("action") == "generate").groupBy(
            "chunk_key", "tile_id", "channel", "action"
        ).agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
        )

    return _filled_cube(spark, "evcube_", ("dem", "slope"), [ZONAL_ROIS[0]], read)


def _event_durations_sql() -> str:
    return f"""{_tile_cte(_ZONAL_TILES[0])}
SELECT '-1-' || CAST(ty AS VARCHAR) || '-' || CAST(tx AS VARCHAR) || '-' || channel AS chunk_key,
       tile_id, channel,
       'generate' AS action,
       CAST(1 AS BIGINT) AS n_events,
       CAST({8 * _N_PX} AS BIGINT) AS n_bytes
FROM ztf CROSS JOIN (VALUES ('dem'), ('slope')) ch(channel)
"""


SQL_EVENT_DURATIONS = _event_durations_sql()


# ---------------------------------------------------------------------------
# antimeridian normalization (reference accessors/gee.py:211-215)
# ---------------------------------------------------------------------------

def q_antimeridian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shifted longitudes (some wrapped past +-180) are normalized and
    tile-assigned; oracle recomputes with fmod.

    ONE fused ArrowEvalPython hop (geoparse + shift-add + normalize in
    make_geoparse_norm_lon_udf; round-3 verdict item #6) — the shift is
    computed JVM-side from page_id and passed into the kernel; extent
    filter and tile floor math stay in whole-stage codegen."""
    from smart_geocubes_spark.operators.tiles import make_geoparse_norm_lon_udf

    dp = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, sf_dir, parallelism=dp).select("page_id", "url")
    shift = (
        F.when(F.col("page_id") % 5 == 0, F.lit(360.0))
        .when(F.col("page_id") % 5 == 1, F.lit(-360.0))
        .otherwise(F.lit(0.0))
    )
    g = pages.select(
        "page_id", make_geoparse_norm_lon_udf()(F.col("url"), shift).alias("g")
    )
    out = g.filter(F.col("g.has")).select(
        "page_id", F.col("g.lat").alias("lat"), F.col("g.lon_norm").alias("lon_n")
    )
    out = out.filter(in_extent_filter(GRID, lon="lon_n", lat="lat"))
    out = with_tiles_native(out, GRID, lon="lon_n", lat="lat")
    return out.select("page_id", F.col("lon_n").alias("lon_norm"), "tile_id")


_FMOD_NORM = (
    "CASE WHEN fmod(lon_shift + 180.0, 360.0) < 0 "
    "THEN fmod(lon_shift + 180.0, 360.0) + 360.0 "
    "ELSE fmod(lon_shift + 180.0, 360.0) END - 180.0"
)
_TILE_NORM = tile_assign_sql(
    "lon_norm", "lat", GRID.geobox.x0, GRID.geobox.y0, GRID.tile_size, GRID.n_tiles_x
)

SQL_ANTIMERIDIAN = f"""{ORACLE_PREFIX},
shifted AS (
  SELECT page_id, lat,
         lon + CASE WHEN page_id % 5 = 0 THEN 360.0
                    WHEN page_id % 5 = 1 THEN -360.0 ELSE 0.0 END AS lon_shift
  FROM pts
),
norm AS (
  SELECT page_id, lat, {_FMOD_NORM} AS lon_norm FROM shifted
)
SELECT page_id, lon_norm, {_TILE_NORM["tile_id"]} AS tile_id
FROM norm
WHERE lon_norm >= -180.0 AND lon_norm < 180.0 AND lat > 60.0 AND lat <= 84.0
"""


# ---------------------------------------------------------------------------
# training-data pipeline ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

from smart_geocubes_spark.operators.dedup import (  # noqa: E402
    CORPUS_SQL,
    N_BANDS,
    N_MINHASH,
    corpus_df,
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    simhash_signatures,
)
from smart_geocubes_spark.sources.synth import ensure_base_views  # noqa: E402

_SHINGLE_CTE = """
sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 12) AS shingle
  FROM corpus, generate_series(1, 600) t(i)
  WHERE i <= greatest(length(text) - 11, 1)
)"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_base_views(spark, sf_dir)
    return dedup_exact(corpus_df(spark))


SQL_DEDUP_EXACT = f"""WITH corpus AS ({CORPUS_SQL})
SELECT CAST(min(doc_id) AS BIGINT) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM corpus GROUP BY text
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_base_views(spark, sf_dir)
    return dedup_minhash_lsh(spark)


_SIG_COLS = ",\n         ".join(
    f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(N_MINHASH)
)
_BAND_SELECTS = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_idx, md5(h{2 * b} || h{2 * b + 1}) AS band_key FROM sig"
    for b in range(N_BANDS)
)

SQL_DEDUP_MINHASH = f"""WITH corpus AS ({CORPUS_SQL}),
{_SHINGLE_CTE},
sig AS (
  SELECT doc_id, {_SIG_COLS}
  FROM sh GROUP BY doc_id
),
bands AS (
{_BAND_SELECTS}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.n_inter,
       CAST(za.sz + zb.sz - i.n_inter AS BIGINT) AS n_union
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE i.n_inter * 2 >= za.sz + zb.sz - i.n_inter
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs ->
    (doc_id, cluster_id = min doc_id in component): the canonicalization
    step of a dedup pipeline. Spark side is ITERATIVE min-label
    propagation (checkpointed rounds); the oracle closes the same edge
    set transitively with a recursive CTE — a full-strength check of an
    iterative distributed algorithm against declarative SQL."""
    from smart_geocubes_spark.operators.dedup import dedup_clusters

    ensure_base_views(spark, sf_dir)
    pairs = dedup_minhash_lsh(spark).select("id_a", "id_b")
    return dedup_clusters(spark, pairs)


SQL_DEDUP_CLUSTERS = f"""WITH RECURSIVE corpus AS ({CORPUS_SQL}),
{_SHINGLE_CTE},
sig AS (
  SELECT doc_id, {_SIG_COLS}
  FROM sh GROUP BY doc_id
),
bands AS (
{_BAND_SELECTS}
),
cpairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cpairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
dup AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
  WHERE i.n_inter * 2 >= za.sz + zb.sz - i.n_inter
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM dup
  UNION
  SELECT id_b AS src, id_a AS dst FROM dup
),
reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs containing any
    "benchmark" needle (interior 40-char substrings of every 97th doc —
    the held-out set). The needle set is collected (benchmark suites
    are small by contract) and baked into ONE `exists(contains)` pass
    over the corpus — no join, no fan-out; the big side stays a
    single-pass projection. Oracle: EXISTS subquery over the same
    needles."""
    ensure_base_views(spark, sf_dir)
    corpus = corpus_df(spark)
    needles = [
        r[0]
        for r in spark.sql(
            f"SELECT substr(text, 21, 40) FROM ({CORPUS_SQL}) WHERE doc_id % 97 = 0"
            " AND length(text) >= 60"
        ).collect()
    ]
    needle_arr = F.array(*[F.lit(n) for n in sorted(needles)])
    hit = F.exists(needle_arr, lambda n: F.contains(F.col("text"), n))
    return corpus.select("doc_id", hit.alias("contaminated")).filter(
        F.col("contaminated")
    ).select(F.col("doc_id").cast("long").alias("doc_id"))


SQL_DECONTAMINATE = f"""WITH corpus AS ({CORPUS_SQL}),
needles AS (
  SELECT substr(text, 21, 40) AS needle FROM corpus
  WHERE doc_id % 97 = 0 AND length(text) >= 60
)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id
FROM corpus c
WHERE EXISTS (SELECT 1 FROM needles n WHERE contains(c.text, n.needle))
"""


def q_decontaminate_ac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-needle-set decontamination: the Aho-Corasick swap-in for
    held-out registries where exists(contains) goes quadratic — one
    automaton pass, O(len(text)) per doc independent of |needles| (a
    bigger needle set than q_decontaminate: every 11th doc). The oracle
    is the SAME EXISTS/contains subquery — the automaton is invisible
    to the gate."""
    from smart_geocubes_spark.operators.decontam import decontaminate_ac

    ensure_base_views(spark, sf_dir)
    corpus = corpus_df(spark)
    needles = [
        r[0]
        for r in spark.sql(
            f"SELECT substr(text, 21, 40) FROM ({CORPUS_SQL}) WHERE doc_id % 11 = 0"
            " AND length(text) >= 60"
        ).collect()
    ]
    return decontaminate_ac(corpus, needles)


SQL_DECONTAMINATE_AC = f"""WITH corpus AS ({CORPUS_SQL}),
needles AS (
  SELECT substr(text, 21, 40) AS needle FROM corpus
  WHERE doc_id % 11 = 0 AND length(text) >= 60
)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id
FROM corpus c
WHERE EXISTS (SELECT 1 FROM needles n WHERE contains(c.text, n.needle))
"""


def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style n-gram overlap decontamination — not a boolean
    substring hit but the FRACTION of a doc's distinct 13-gram-ish
    shingles that appear in the held-out set, flagged at >= 20% via the
    integer rule 5*overlap >= total. Scale shape: the needle shingle
    set is distinct + BROADCAST (held-out suites are small by
    contract); the corpus side is one shingle pass + two metadata-sized
    aggregations, no O(n^2) anywhere."""
    from smart_geocubes_spark.operators.dedup import shingles

    ensure_base_views(spark, sf_dir)
    # sh feeds three subtrees (needles, totals, overlap) — rule 6:
    # materialize the shingle pass once (r6, same fix as the dedup
    # family; ~5.0 -> ~2 s at sf0.1)
    sh = shingles(corpus_df(spark)).localCheckpoint(eager=True)
    needles = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    total = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    overlap = (
        sh.join(F.broadcast(needles), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        total.join(overlap, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_grams",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        )
        .withColumn("contaminated", 5 * F.col("n_overlap") >= F.col("n_grams"))
    )


SQL_CONTAMINATION_OVERLAP = f"""WITH corpus AS ({CORPUS_SQL}),{_SHINGLE_CTE},
needles AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
tot AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
ov AS (
  SELECT sh.doc_id, count(*) AS n_overlap
  FROM sh JOIN needles USING (shingle) GROUP BY sh.doc_id
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       5 * coalesce(ov.n_overlap, 0) >= t.n_grams AS contaminated
FROM tot t LEFT JOIN ov ON t.doc_id = ov.doc_id
"""


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_base_views(spark, sf_dir)
    return dedup_ngram_jaccard(spark)


SQL_DEDUP_NGRAM = f"""WITH corpus AS ({CORPUS_SQL}),
{_SHINGLE_CTE},
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) BETWEEN 2 AND 5
),
rsh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.n_inter,
       CAST(za.sz + zb.sz - i.n_inter AS BIGINT) AS n_union
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE i.n_inter * 10 >= (za.sz + zb.sz - i.n_inter) * 3
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_base_views(spark, sf_dir)
    return simhash_signatures(spark)


_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN sum(CASE WHEN ascii(substr(h, {j + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) > 0"
    f" THEN 1 ELSE 0 END) * {1 << j}"
    for j in range(16)
)

SQL_SIMHASH = f"""WITH corpus AS ({CORPUS_SQL}),
{_SHINGLE_CTE},
sh2 AS (SELECT doc_id, md5(shingle) AS h FROM sh)
SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash
FROM sh2 GROUP BY doc_id
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-hamming SimHash near-dup join (pigeonhole-complete — see
    operators.dedup.simhash_neardup). Oracle = ALL-PAIRS hamming join,
    so the gate verifies the banding misses nothing."""
    from smart_geocubes_spark.operators.dedup import simhash_neardup

    ensure_base_views(spark, sf_dir)
    return simhash_neardup(spark)


SQL_SIMHASH_NEARDUP = f"""WITH corpus AS ({CORPUS_SQL}),
{_SHINGLE_CTE},
sh2 AS (SELECT doc_id, md5(shingle) AS h FROM sh),
sig AS (
  SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash
  FROM sh2 GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.similarity import ann_cosine_topk

    ensure_base_views(spark, sf_dir)
    emb = spark.table("embeddings")
    return ann_cosine_topk(spark, emb, k=5)


_COS_EXPR = (
    "list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * q.v[i]))"
    " / (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])))"
    " * sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i]))))"
)

SQL_ANN_COSINE = f"""WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS qid, v FROM base WHERE vec_id % 25 = 0)
SELECT qid, neighbor_id, rank FROM (
  SELECT q.qid, a.vec_id AS neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY q.qid ORDER BY {_COS_EXPR} DESC, a.vec_id ASC
         ) AS BIGINT) AS rank
  FROM base a CROSS JOIN q
  WHERE a.vec_id <> q.qid
) r WHERE rank <= 5
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.similarity import embedding_neardup_pairs

    ensure_base_views(spark, sf_dir)
    emb = spark.table("embeddings")
    return embedding_neardup_pairs(spark, emb, tau=0.45)


SQL_EMBEDDING_NEARDUP = """WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, q.vec_id AS id_b
FROM base a JOIN base q ON a.vec_id < q.vec_id
WHERE list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * q.v[i]))
      / (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i])))
         * sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))) >= 0.45
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (LSH-bucketed, multiprobe) ANN. Fully oracle-checked:
    the seeded hyperplanes are inlined into the SQL as literal constants
    and the projection is accumulated in the same left-assoc order in
    both engines (operators.similarity.lsh_bucket_sql), so bucket ids —
    and therefore the candidate sets and ranks — agree bit-for-bit."""
    from smart_geocubes_spark.operators.similarity import ann_lsh_topk

    ensure_base_views(spark, sf_dir)
    emb = spark.table("embeddings")
    return ann_lsh_topk(spark, emb, k=5)


def _ann_lsh_sql() -> str:
    from smart_geocubes_spark.operators.similarity import lsh_bucket_sql

    cos = (
        "list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * p.qv[i]))"
        " / (sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))"
        " * sqrt(list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * p.qv[i]))))"
    )
    return f"""WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
bb AS (SELECT vec_id, v, {lsh_bucket_sql("v", 64)} AS bucket FROM base),
q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM bb WHERE vec_id % 25 = 0),
probes AS (
  SELECT qid, qv,
         CASE WHEN i = 0 THEN CAST(qb AS BIGINT)
              ELSE xor(CAST(qb AS BIGINT), CAST(1 AS BIGINT) << (i - 1)) END AS bucket
  FROM q, generate_series(0, 8) t(i)
)
SELECT qid, neighbor_id, rank FROM (
  SELECT p.qid, b.vec_id AS neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY p.qid ORDER BY {cos} DESC, b.vec_id ASC
         ) AS BIGINT) AS rank
  FROM bb b JOIN probes p ON CAST(b.bucket AS BIGINT) = p.bucket
  WHERE b.vec_id <> p.qid
) r WHERE rank <= 5
"""


SQL_ANN_LSH = _ann_lsh_sql()


def q_geoparse_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geoparse from the TEXT BODY (the input_hint's text path, vs the
    URL path of q_geoparse): html -> FROZEN extractor -> JVM regex over
    the extracted text. Cross-validates the whole extract+parse chain:
    the oracle parses the generator's text column, so any drift in the
    extractor OR the regex surfaces as a value mismatch."""
    dp = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, sf_dir, parallelism=dp).select("page_id", "html")
    # alias the UDF in its own projection so the extractor runs ONCE per
    # row (nondeterministic exprs aren't inlined into both consumers)
    ext = pages.select("page_id", extract_text_udf()(F.col("html")).alias("txt"))
    d = ext.select(
        "page_id",
        F.regexp_extract(F.col("txt"), r"geo (-?\d+),(-?\d+)", 1).alias("la"),
        F.regexp_extract(F.col("txt"), r"geo (-?\d+),(-?\d+)", 2).alias("lo"),
    )
    return d.filter(F.col("la") != "").select(
        "page_id",
        F.col("la").cast("long").alias("lat_e5_txt"),
        F.col("lo").cast("long").alias("lon_e5_txt"),
    )


SQL_GEOPARSE_TEXT = f"""{ORACLE_PREFIX}
SELECT page_id,
       CAST(regexp_extract(text, 'geo (-?\\d+),(-?\\d+)', 1) AS BIGINT) AS lat_e5_txt,
       CAST(regexp_extract(text, 'geo (-?\\d+),(-?\\d+)', 2) AS BIGINT) AS lon_e5_txt
FROM pages WHERE has_geo
"""


def q_redact_coordinates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geoprivacy scrub (the PII-redaction op of a webtext pipeline):
    coordinate mentions in the text body are replaced with a redaction
    token; output is the redacted text (byte-exact hash-compared, like
    the frozen extractor). Pure JVM regexp_replace — dialect-shared
    pattern, no Python."""
    pages = pages_df(spark, sf_dir).select("page_id", "text")
    red = F.regexp_replace(F.col("text"), r"geo -?\d+,-?\d+", "geo [REDACTED]")
    return pages.select(
        "page_id",
        red.alias("text_redacted"),
        (F.length("text") - F.length(red)).cast("long").alias("chars_removed"),
    )


SQL_REDACT_COORDINATES = f"""{ORACLE_PREFIX}
SELECT page_id,
       regexp_replace(text, 'geo -?\\d+,-?\\d+', 'geo [REDACTED]', 'g') AS text_redacted,
       CAST(length(text) - length(regexp_replace(text, 'geo -?\\d+,-?\\d+', 'geo [REDACTED]', 'g')) AS BIGINT)
         AS chars_removed
FROM pages
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric quantization of the embedding column (the storage
    op of a vector pipeline): scale = max|x| per vector, q_i =
    floor(x_i * 127 / scale). Entirely JVM higher-order functions —
    no Python — and the oracle recomputes the identical doubles (max is
    order-independent; the per-element expression matches term order),
    so the integer outputs are exact."""
    ensure_base_views(spark, sf_dir)
    emb = spark.table("embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # hoist max|x| into its own column: inlined inside the transform
    # lambda it would re-evaluate the O(d) max per ELEMENT (O(d^2)/row)
    # greatest(..., tiny) guards the all-zero vector (padding / failed
    # encodes): ANSI mode would throw DIVIDE_BY_ZERO; with the guard a
    # zero vector quantizes to all zeros in both engines.
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        v.alias("v"),
        F.greatest(
            F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
        ).alias("mx"),
    )
    q = F.transform(F.col("v"), lambda x: F.floor(x * F.lit(127.0) / F.col("mx")).cast("long"))
    return base.select(
        "vec_id",
        F.aggregate(q, F.lit(0).cast("long"), lambda a, b: a + b).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


SQL_EMBEDDING_QUANTIZE = """WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qq AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x * 127.0 / greatest(list_max(list_transform(v, y -> abs(y))), 1e-30)) AS BIGINT)) AS q
  FROM base
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       list_min(q) AS q_min,
       list_max(q) AS q_max
FROM qq
"""


def _duck_cos(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"
        f" / (sqrt(list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {a}[i])))"
        f" * sqrt(list_sum(list_transform(range(1, len({b}) + 1), i -> {b}[i] * {b}[i]))))"
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic sampled coarse quantizer, inverted lists
    via literal-centroid argmax (one-pass, codegen), nprobe=3 probe +
    exact re-rank. Oracle recomputes the same lists/probes with
    row_number over centroid cosine."""
    from smart_geocubes_spark.operators.similarity import ann_ivf_topk

    ensure_base_views(spark, sf_dir)
    emb = spark.table("embeddings")
    return ann_ivf_topk(spark, emb, k=5, nprobe=3)


SQL_ANN_IVF = f"""WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id % 50 = 0),
asg AS (
  SELECT vec_id, v, cid AS list_id FROM (
    SELECT b.vec_id, b.v, c.cid,
           row_number() OVER (
             PARTITION BY b.vec_id ORDER BY {_duck_cos("b.v", "c.cv")} DESC, c.cid ASC
           ) AS rn
    FROM base b CROSS JOIN cent c
  ) t WHERE rn = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id % 25 = 0),
probes AS (
  SELECT qid, qv, cid AS list_id FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (
             PARTITION BY q.qid ORDER BY {_duck_cos("q.qv", "c.cv")} DESC, c.cid ASC
           ) AS rn
    FROM q CROSS JOIN cent c
  ) t WHERE rn <= 3
)
SELECT qid, neighbor_id, rank FROM (
  SELECT p.qid, a.vec_id AS neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY p.qid ORDER BY {_duck_cos("a.v", "p.qv")} DESC, a.vec_id ASC
         ) AS BIGINT) AS rank
  FROM asg a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.qid
) r WHERE rank <= 5
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.textstats import lang_id

    ensure_base_views(spark, sf_dir)
    return lang_id(spark.table("documents"))


SQL_LANG_ID = r"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\b(the|a|of|and)\b')) AS BIGINT) AS n_en,
       CAST(len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS BIGINT) AS n_de,
       CAST(len(regexp_extract_all(text, '\b(le|la|et|des)\b')) AS BIGINT) AS n_fr,
       CASE WHEN len(regexp_extract_all(text, '\b(the|a|of|and)\b')) >= len(regexp_extract_all(text, '\b(der|die|das|und)\b'))
             AND len(regexp_extract_all(text, '\b(the|a|of|and)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|des)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(text, '\b(der|die|das|und)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|des)\b'))
            THEN 'de' ELSE 'fr' END AS pred_lang
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.textstats import quality_score

    ensure_base_views(spark, sf_dir)
    return quality_score(spark.table("documents"))


SQL_QUALITY = r"""WITH d AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
         CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in)\b')) AS BIGINT) AS n_stop
  FROM documents
)
SELECT *,
       CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stop_ratio,
       CAST(n_tokens AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)
         - CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS qscore
FROM d
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.textstats import token_counts

    ensure_base_views(spark, sf_dir)
    return token_counts(spark.table("documents"))


SQL_TOKEN_COUNT = r"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subtokens
FROM documents
"""


def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates, integer rules only. Engine: one
    zero-shuffle run-length fold per doc; oracle: the classic
    unnest + double-GROUP BY (same answer, the shape the engine
    deliberately avoids at scale)."""
    from smart_geocubes_spark.operators.textstats import repetition_quality

    ensure_base_views(spark, sf_dir)
    return repetition_quality(spark.table("documents"))


SQL_REPETITION_QUALITY = """WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
b AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words
  FROM w
),
bg AS (
  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS bigram
  FROM w, generate_series(1, 600) t(i)
  WHERE i <= len(ws) - 1
),
cnt AS (SELECT doc_id, count(*) AS c FROM bg GROUP BY doc_id, bigram),
top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram FROM cnt GROUP BY doc_id)
SELECT b.doc_id, b.n_words, b.n_distinct_words,
       CAST(coalesce(top.top_bigram, 0) AS BIGINT) AS top_bigram_count,
       (2 * coalesce(top.top_bigram, 0) > b.n_words - 1)
        OR (3 * b.n_distinct_words < b.n_words) AS repetitive
FROM b LEFT JOIN top ON b.doc_id = CAST(top.doc_id AS BIGINT)
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.textstats import doc_fingerprint

    ensure_base_views(spark, sf_dir)
    return doc_fingerprint(spark.table("documents"))


SQL_DOC_FINGERPRINT = """SELECT doc_id, min(md5(substr(text, CAST(i AS INT), 8))) AS fingerprint
FROM documents, generate_series(1, 600) t(i)
WHERE i <= greatest(length(text) - 7, 1)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# relational breadth (SURVEY §2.3-2.8 mappings over the TPC-H-ish tables)
# ---------------------------------------------------------------------------
# Float SUMs differ across engines by summation order, so money/values
# are aggregated as integer cents (exact in both) and ratios are single
# double divisions of those integers.


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data preprocessing funnel COMPOSED from the
    individual operators: exact dedup (keeper = min doc_id per text) ->
    lang-ID -> quality gate (qscore >= 0.18, n_chars >= 100) -> per-lang
    doc/token/char rollup. One narrow pipeline: every stage is JVM
    built-ins chained as projections (keep=True) — no joins at all;
    the only shuffles are the dedup groupBy and the final rollup."""
    from smart_geocubes_spark.operators.dedup import corpus_df
    from smart_geocubes_spark.operators.textstats import (
        lang_id,
        quality_score,
        token_counts,
    )

    ensure_base_views(spark, sf_dir)
    corpus = corpus_df(spark)
    keepers = corpus.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id", "text")
    # single-pass composition: the three feature ops are projections of
    # text, chained with keep=True — ZERO joins between stages; the only
    # shuffles are the dedup groupBy and the final rollup.
    feats = token_counts(quality_score(lang_id(keepers, keep=True), keep=True), keep=True)
    kept = feats.filter((F.col("qscore") >= 0.18) & (F.col("n_chars") >= 100))
    return kept.groupBy("pred_lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_ws_tokens").cast("long").alias("sum_tokens"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


SQL_CORPUS_FUNNEL = rf"""WITH corpus AS ({CORPUS_SQL}),
keepers AS (SELECT min(doc_id) AS doc_id, text FROM corpus GROUP BY text),
feat AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
         len(regexp_extract_all(text, '\b(the|a|of|and)\b')) AS n_en,
         len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS n_de,
         len(regexp_extract_all(text, '\b(le|la|et|des)\b')) AS n_fr
  FROM keepers
),
scored AS (
  SELECT *,
         CAST(n_tokens AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)
           - CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS qscore,
         CASE WHEN n_en >= n_de AND n_en >= n_fr THEN 'en'
              WHEN n_de >= n_fr THEN 'de' ELSE 'fr' END AS pred_lang
  FROM feat
)
SELECT pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_ws_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM scored WHERE qscore >= 0.18 AND n_chars >= 100
GROUP BY 1
"""


def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table star join (TPC-H Q5 shape): region -> nation -> customer
    -> orders -> lineitem with a segment filter, revenue per nation in
    integer cents. Exercises Catalyst's join ordering + broadcast
    selection across the dimension chain: region/nation/customer
    broadcast, the two fact tables hash-join — no dimension ever
    shuffles the fact side twice."""
    ensure_base_views(spark, sf_dir)
    cust = (
        spark.table("customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_nationkey")
    )
    nation = spark.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    region = spark.table("region").select("r_regionkey", "r_name")
    orders = spark.table("orders").select("o_orderkey", "o_custkey")
    li = spark.table("lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    rev_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
    )
    return j.groupBy("r_name", "n_name").agg(
        F.sum(rev_cents).alias("revenue_cents"),
        F.count("*").cast("long").alias("n_items"),
    )


SQL_STAR_JOIN_REVENUE = """SELECT r.r_name, n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-data mixing): keep
    1/2 of en, 1/4 of de, 1/8 of fr documents by a Knuth-hash coin on
    doc_id — reproducible across runs/engines (integer math only, no
    rand()). The mixing-ratio op of corpus construction; at scale it is
    a single filter projection, no shuffle at all."""
    from smart_geocubes_spark.operators.textstats import lang_id

    ensure_base_views(spark, sf_dir)
    from smart_geocubes_spark.functions.sqlgen import knuth_coin_sql

    d = lang_id(spark.table("documents"), keep=True).select("doc_id", "pred_lang")
    # the coin expression is THE shared string (sqlgen.knuth_coin_sql,
    # incl. the int64-overflow rationale) — engine and oracle evaluate
    # the identical text
    coin = F.expr(knuth_coin_sql("doc_id"))
    quota = (
        F.when(F.col("pred_lang") == "en", F.lit(2048))
        .when(F.col("pred_lang") == "de", F.lit(1024))
        .otherwise(F.lit(512))
    )
    return d.filter(coin < quota).select(
        F.col("doc_id").cast("long").alias("doc_id"), "pred_lang"
    )


SQL_STRATIFIED_SAMPLE = r"""WITH lang AS (
  SELECT doc_id,
         CASE WHEN len(regexp_extract_all(text, '\b(the|a|of|and)\b')) >= len(regexp_extract_all(text, '\b(der|die|das|und)\b'))
               AND len(regexp_extract_all(text, '\b(the|a|of|and)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|des)\b'))
              THEN 'en'
              WHEN len(regexp_extract_all(text, '\b(der|die|das|und)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|des)\b'))
              THEN 'de' ELSE 'fr' END AS pred_lang
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, pred_lang
FROM lang
WHERE __COIN__ <
      CASE pred_lang WHEN 'en' THEN 2048 WHEN 'de' THEN 1024 ELSE 512 END
"""

# spliced (not retyped): the coin is sqlgen.knuth_coin_sql — the SAME
# string the Spark side evaluates via F.expr
from smart_geocubes_spark.functions.sqlgen import knuth_coin_sql as _knuth  # noqa: E402

SQL_STRATIFIED_SAMPLE = SQL_STRATIFIED_SAMPLE.replace("__COIN__", _knuth("doc_id"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing plan (training batch construction): within each
    language, docs ordered by doc_id are packed into bins of <= 2000
    tokens via a running cumulative sum — bin = floor((cumsum - tokens)
    / budget) (each doc assigned by the budget position where it
    STARTS). One window over (lang, doc_id): a single shuffle on the
    stratum key, deterministic, no Python."""
    from pyspark.sql import Window

    from smart_geocubes_spark.operators.textstats import lang_id, token_counts

    ensure_base_views(spark, sf_dir)
    d = token_counts(
        lang_id(spark.table("documents"), keep=True), keep=True
    ).select("doc_id", "pred_lang", "n_ws_tokens")
    w = Window.partitionBy("pred_lang").orderBy("doc_id")
    cum = F.sum("n_ws_tokens").over(w)
    bin_id = F.floor((cum - F.col("n_ws_tokens")) / F.lit(2000)).cast("long")
    out = d.select("doc_id", "pred_lang", bin_id.alias("bin_id"))
    return out.groupBy("pred_lang", "bin_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


SQL_PACK_SEQUENCES = r"""WITH feat AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
         CASE WHEN len(regexp_extract_all(text, '\b(the|a|of|and)\b')) >= len(regexp_extract_all(text, '\b(der|die|das|und)\b'))
               AND len(regexp_extract_all(text, '\b(the|a|of|and)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|des)\b'))
              THEN 'en'
              WHEN len(regexp_extract_all(text, '\b(der|die|das|und)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|des)\b'))
              THEN 'de' ELSE 'fr' END AS pred_lang
  FROM documents
),
binned AS (
  SELECT doc_id, pred_lang,
         CAST(floor((sum(n_ws_tokens) OVER (PARTITION BY pred_lang ORDER BY doc_id)
                     - n_ws_tokens) / 2000) AS BIGINT) AS bin_id
  FROM feat
)
SELECT pred_lang, bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM binned GROUP BY 1, 2
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-measure hash aggregation with map-side
    partial aggregation (A1/A4 class)."""
    ensure_base_views(spark, sf_dir)
    li = spark.table("lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).cast("long").alias("sum_qty_c"),
            F.sum(cents("l_extendedprice")).cast("long").alias("sum_price_c"),
            F.count("*").cast("long").alias("n_rows"),
            (
                F.sum(cents("l_discount")).cast("double") / F.count("*").cast("double")
            ).alias("avg_disc_c"),
        )
    )


SQL_PRICING_SUMMARY = """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc_c
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY 1, 2
"""


def q_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast dim join + shuffle fact join + top-k
    (sort/limit with deterministic tie-break)."""
    ensure_base_views(spark, sf_dir)
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    rev = F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100).cast(
        "long"
    )
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("long").alias("revenue_c"))
    )
    return j.orderBy(F.col("revenue_c").desc(), F.col("o_orderkey").asc()).limit(10)


SQL_TOPK_REVENUE = """SELECT o_orderkey,
       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1
ORDER BY revenue_c DESC, o_orderkey ASC
LIMIT 10
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user cumulative sum (window, rows unbounded
    preceding; integer cents so both engines accumulate exactly)."""
    from pyspark.sql import Window

    ensure_base_views(spark, sf_dir)
    ev = spark.table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).cast("long").alias("run_cents"),
    )


SQL_WINDOW_RUNNING = """SELECT event_id, user_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS run_cents
FROM events
"""


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 streaming surface through the DRIVER gate: the availableNow
    watermarked tumbling-window aggregation (streaming/pipeline.py)
    actually RUNS as a Structured Streaming query draining into a
    memory sink; its batch-mode semantics are SQL-expressible, so the
    post-stream table is oracle-checked rows+schema+hash. Window starts
    export as epoch BIGINTs (1-day windows are epoch-aligned in both
    engines)."""
    from smart_geocubes_spark.streaming.pipeline import stream_windowed_event_counts

    with _events_source(sf_dir, "evstream_") as src:
        # availableNow terminates, so a FIXED sink name is safe and the
        # memory table is REPLACED across gate runs (a uuid-per-call
        # name would accumulate one driver-memory temp view per run)
        return stream_windowed_event_counts(
            spark, src, query_name="stream_event_counts_gate"
        )


@contextmanager
def _events_source(sf_dir: str, prefix: str) -> Iterator[str]:
    """FileStreamSource needs a DIRECTORY; the fixture ships events as a
    single file — expose it through a symlinked scratch dir (no copy)."""
    src = os.path.join(sf_dir, "events.parquet")
    with _scratch(prefix) as d:
        if os.path.isfile(src):
            os.symlink(src, os.path.join(d, "part-0.parquet"))
            src = d
        yield src


SQL_STREAM_WINDOW_COUNTS = """SELECT
  CAST(epoch_us(ts) // 86400000000 * 86400 AS BIGINT) AS w_start,
  event_type,
  CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


def q_window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EVENT-TIME window (RANGE frame, not ROWS): per event,
    the sum of value-cents over the user's current + previous HOUR
    BUCKET (order key = hour-floored epoch seconds, frame = 3600
    preceding). The hour bucketing GUARANTEES per-user order-key ties
    (426 tied (user, hour) groups at sf0.01 — raw timestamps are
    globally unique in the fixture, so ordering on them would never
    exercise peer-row semantics): under RANGE every peer in the same
    bucket is in every peer's frame, which is exactly where a
    ROWS-frame regression diverges and the gate catches it. Integer
    seconds and cents keep both engines exact."""
    from pyspark.sql import Window

    ensure_base_views(spark, sf_dir)
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    ev = spark.table("events").select(
        "event_id",
        "user_id",
        (sec - sec % 3600).alias("hsec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("hsec").asc())
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum("cents").over(w).cast("long").alias("hour_cents"),
    )


SQL_WINDOW_RANGE_TIME = """WITH e AS (
  SELECT event_id, user_id,
         CAST(epoch_us(ts) // 1000000 // 3600 * 3600 AS BIGINT) AS hsec,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
       CAST(sum(cents) OVER (
         PARTITION BY user_id ORDER BY hsec ASC
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS hour_cents
FROM e
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 STATEFUL streaming through the driver gate: exact dedup
    with watermark-bounded state (dropDuplicatesWithinWatermark). The
    source dir carries every 5th page REPLAYED byte-identically in a
    second file — a separate micro-batch under maxFilesPerTrigger=1 —
    so the survivor is payload-deterministic and the post-stream table
    equals the pages derivation exactly (rows+schema+hash). The
    watermark delay (1500 days) exceeds the fixture's full epoch span
    (_WARC_WRAP = 1461 days), so replays are always inside the dedup
    horizon and no row can be dropped as late REGARDLESS of file
    processing order (the bounded-state eviction behavior itself is
    pinned by tests/test_streaming.py)."""
    from smart_geocubes_spark.streaming.pipeline import stream_dedup_within_watermark

    ensure_base_views(spark, sf_dir)
    pages = spark.sql(
        f"SELECT page_id, host_id, warc_epoch FROM ({pages_sql('orders')})"
    )
    # the memory sink holds the rows driver-side; the source copy and
    # checkpoint are dead weight once the drain finishes
    with _scratch("dedupstream_") as root:
        # two appends into ONE flat dir = two part files = two
        # micro-batches under maxFilesPerTrigger=1; replays are
        # byte-identical, so the output is order-independent
        d = root + "/src"
        pages.coalesce(1).write.mode("append").parquet(d)
        pages.filter(F.col("page_id") % 5 == 0).coalesce(1).write.mode("append").parquet(d)
        # availableNow terminates, so a fixed sink name is safe and the
        # memory table is replaced (not accumulated) across gate runs
        return stream_dedup_within_watermark(
            spark, d, root + "/ckpt", query_name="gate_stream_dedup",
            delay="1500 days",
        )


SQL_STREAM_DEDUP = f"""WITH pages AS ({pages_sql("orders")})
SELECT CAST(page_id AS BIGINT) AS page_id,
       CAST(host_id AS BIGINT) AS host_id,
       CAST(warc_epoch AS BIGINT) AS warc_epoch
FROM pages
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative sum of session
    breaks, gap > 1800 s) — J6/streaming-sessionization analog in batch."""
    from pyspark.sql import Window

    ensure_base_views(spark, sf_dir)
    # parquet ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast
    # matches DuckDB's epoch_us on the naive value
    ev = spark.table("events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("us").asc(), F.col("event_id").asc())
    gap = F.col("us") - F.lag("us", 1).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0))
    return ev.withColumn(
        "session_seq",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
    ).select("event_id", "user_id", "session_seq")


SQL_SESSIONIZE = """WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
),
g AS (
  SELECT event_id, user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC)
                   > 1800 * 1000000
              OR lag(us) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM e
)
SELECT event_id, user_id,
       CAST(sum(is_new) OVER (
         PARTITION BY user_id ORDER BY us ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS session_seq
FROM g
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.6): customers with orders but no high-value
    order (EXCEPT), tagged against those with both (INTERSECT)."""
    ensure_base_views(spark, sf_dir)
    orders = spark.table("orders")
    any_c = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    high_c = (
        orders.filter(F.col("o_totalprice") > 200000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    exc = any_c.exceptAll(high_c).withColumn("tag", F.lit("low_only"))
    inter = any_c.intersect(high_c).withColumn("tag", F.lit("has_high"))
    return exc.unionByName(inter)


SQL_SET_OPS = """WITH any_c AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
high_c AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000)
SELECT custkey, 'low_only' AS tag FROM (SELECT custkey FROM any_c EXCEPT SELECT custkey FROM high_c)
UNION ALL
SELECT custkey, 'has_high' AS tag FROM (SELECT custkey FROM any_c INTERSECT SELECT custkey FROM high_c)
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (partial+final agg demo, §2.4)."""
    ensure_base_views(spark, sf_dir)
    return (
        spark.table("orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").cast("long").alias("n"))
    )


SQL_ROLLUP = """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (§2.7): string/date/math/JSON built-ins."""
    ensure_base_views(spark, sf_dir)
    ev = spark.table("events")
    return ev.select(
        "event_id",
        F.upper(F.col("event_type")).alias("etype_u"),
        F.substring(F.col("event_type"), 1, 3).alias("etype_3"),
        F.concat_ws("-", F.col("event_type"), F.col("user_id").cast("string")).alias("tag"),
        F.date_format(F.col("ts"), "yyyy-MM").alias("month_str"),
        F.year(F.col("ts")).cast("long").alias("yr"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        F.abs(F.round(F.col("value") * 100).cast("long")).alias("abs_cents"),
        F.pmod(F.col("event_id"), F.lit(7)).cast("long").alias("id_mod7"),
    )


SQL_SCALAR_FUNCS = """SELECT event_id,
       upper(event_type) AS etype_u,
       substr(event_type, 1, 3) AS etype_3,
       event_type || '-' || CAST(user_id AS STRING) AS tag,
       strftime(ts, '%Y-%m') AS month_str,
       CAST(year(ts) AS BIGINT) AS yr,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       abs(CAST(round(value * 100) AS BIGINT)) AS abs_cents,
       CAST(((event_id % 7) + 7) % 7 AS BIGINT) AS id_mod7
FROM events
"""


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (J2/J7 class) over customer/orders."""
    ensure_base_views(spark, sf_dir)
    cust = spark.table("customer")
    ok = spark.table("orders").select("o_custkey")
    semi = cust.join(ok, cust["c_custkey"] == ok["o_custkey"], "left_semi").select(
        "c_custkey"
    ).withColumn("tag", F.lit("active"))
    anti = cust.join(ok, cust["c_custkey"] == ok["o_custkey"], "left_anti").select(
        "c_custkey"
    ).withColumn("tag", F.lit("inactive"))
    return semi.unionByName(anti)


SQL_SEMI_ANTI = """SELECT c_custkey, 'active' AS tag FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, 'inactive' AS tag FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted aggregation over the Zipfian host_id key —
    result provably identical to the plain groupBy (the oracle IS the
    plain groupBy)."""
    from smart_geocubes_spark.operators.skew import salted_count_sum

    pages = pages_df(spark, sf_dir).select("page_id", "host_id")
    return salted_count_sum(pages, key="host_id", salt_src="page_id", sum_col="page_id")


SQL_SALTED_AGG = f"""WITH pages AS ({pages_sql("orders")})
SELECT host_id, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(page_id) AS BIGINT) AS sum_page_id
FROM pages GROUP BY 1
"""


def q_coalesce_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaN-coalesce block merge (reference O10, core/backend.py:266-271):
    an incoming patch with NaN border pixels must not clobber existing
    cube data — nanvl/zip_with merge, closed-form oracle."""
    from smart_geocubes_spark.operators.zonal import roi_tiles_df

    tiles = roi_tiles_df(spark, GRID, [ZONAL_ROIS[0]])
    n_px = GRID.chunk_px * GRID.chunk_px
    base = F.col("tile_y") * F.lit(1000.0) + F.col("tile_x")
    old_block = F.expr(f"transform(sequence(0, {n_px - 1}), p -> tile_y * 1000.0D + tile_x + p * 0.5D)")
    new_block = F.expr(
        f"transform(sequence(0, {n_px - 1}),"
        f" p -> CASE WHEN p % 97 = 0 THEN double('NaN')"
        f" ELSE tile_y * 1000.0D + tile_x + p * 0.5D + 100.0D END)"
    )
    merged = F.zip_with(new_block, old_block, lambda n, o: F.nanvl(n, o))
    df = tiles.select(
        "tile_id",
        F.aggregate(merged, F.lit(0.0), lambda a, x: a + x).alias("merged_sum"),
    )
    return df


# closed form: sum_p (base + 0.5 p) + 100 * |{p: p%97 != 0}|
_N_PX_Z = GRID.chunk_px * GRID.chunk_px
_N_NAN = (_N_PX_Z - 1) // 97 + 1
_MERGE_CONST = 0.5 * (_N_PX_Z - 1) * _N_PX_Z / 2 + 100.0 * (_N_PX_Z - _N_NAN)

SQL_COALESCE_MERGE = f"""{_tile_cte(_ZONAL_TILES[0])}
SELECT tile_id,
       (ty * 1000.0 + tx) * {_N_PX_Z} + {_MERGE_CONST!r} AS merged_sum
FROM ztf
"""


# ---------------------------------------------------------------------------
# polar-CRS tile assignment (P1 reprojection; reference reprojects every
# AOI to the cube CRS, core/accessor.py:373). Oracle: the EPSG:3413
# forward projection (Snyder 21-33..35) ported into DuckDB SQL with the
# engine's own constants inlined and the SAME expression order. Trig
# libm ulp differences only matter for a point within ~1e-10 relative of
# a 320 km tile boundary — the integer outputs (tile_id, count) are
# robust to that, and the projection itself is additionally pinned
# against closed-form values in pytest.
# ---------------------------------------------------------------------------


def q_tile_assign_polar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:3413 polar-stereographic tile assignment. ONE fused
    ArrowEvalPython hop (geoparse + projection + grid floor in
    make_geoparse_tile_udf; round-3 verdict item #6). The struct is
    aliased in its own projection with the UDF pinned nondeterministic
    so the 5 consuming expressions (has + extent x4 + group key) share
    one evaluation (CLAUDE.md rule 3)."""
    from smart_geocubes_spark.geo.geobox import polar_3413_grid
    from smart_geocubes_spark.operators.tiles import make_geoparse_tile_udf

    grid = polar_3413_grid()
    dp = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, sf_dir, parallelism=dp).select("url")
    t = make_geoparse_tile_udf(grid, "EPSG:3413")
    out = pages.select(t(F.col("url")).alias("t"))
    return (
        out.filter(
            F.col("t.has")
            & (F.col("t.px") >= grid.geobox.x0)
            & (F.col("t.px") < grid.geobox.x0 + grid.geobox.width * grid.geobox.res)
            & (F.col("t.py") <= grid.geobox.y0)
            & (F.col("t.py") > grid.geobox.y0 - grid.geobox.height * grid.geobox.res)
        )
        .groupBy(F.col("t.tile_id").alias("tile_id"))
        .agg(F.count("*").cast("long").alias("n_pages"))
    )


def _tile_assign_polar_sql() -> str:
    """EPSG:3413 forward projection + grid floor as DuckDB SQL, mirroring
    geo.projection.project('EPSG:3413') term by term: constants are the
    engine's own doubles (repr round-trips exactly) and every float op
    appears in the numpy evaluation order."""
    import numpy as _np

    from smart_geocubes_spark.geo import projection as _proj

    d2r = float(_np.radians(1.0))  # numpy radians == multiply by pi/180
    e = float(_proj._E)
    eh = float(_proj._E / 2.0)
    pi4 = float(_np.pi / 4.0)
    t_c = float(_proj._t_param(_np.radians(70.0)))
    a_mc = float(_proj._A * _proj._m_param(_np.radians(70.0)))  # (_A * m_c)

    t_expr = (
        f"tan({pi4!r} - (lat * {d2r!r}) / 2.0)"
        f" / pow((1.0 - {e!r} * sin(lat * {d2r!r})) / (1.0 + {e!r} * sin(lat * {d2r!r})), {eh!r})"
    )
    return f"""{ORACLE_PREFIX},
pp AS (
  SELECT page_id,
         (({a_mc!r} * ({t_expr})) / {t_c!r}) AS rho,
         ((lon - -45.0) * {d2r!r}) AS theta
  FROM pts
),
xy AS (SELECT page_id, rho * sin(theta) AS px, (-(rho)) * cos(theta) AS py FROM pp)
SELECT CAST(floor((4000000.0 - py) / 320000.0) AS BIGINT) * 25
       + CAST(floor((px - -4000000.0) / 320000.0) AS BIGINT) AS tile_id,
       CAST(count(*) AS BIGINT) AS n_pages
FROM xy
WHERE px >= -4000000.0 AND px < 4000000.0 AND py <= 4000000.0 AND py > -4000000.0
GROUP BY 1
"""


SQL_TILE_ASSIGN_POLAR = _tile_assign_polar_sql()


# ---------------------------------------------------------------------------
# temporal max-mosaic (A1: collapse the time axis with max, reference
# accessors/stac.py:141-142) over closed-form temporal blocks
# ---------------------------------------------------------------------------


def q_temporal_max_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (tile, channel): max over the 4 time steps of the block mean.
    Engine generates the temporal blocks (time shift +10/step) and
    reduces with a real groupBy-max; oracle is closed form (max = last
    step)."""
    import pandas as pd

    from smart_geocubes_spark.operators.zonal import roi_tiles_df

    tiles = roi_tiles_df(spark, GRID, [ZONAL_ROIS[1]])
    ch = local_frame(spark, pd.DataFrame({"channel": [c for c, _ in _ZONAL_CHANNELS]}))
    times = spark.range(len(CUBE_TIME_EPOCHS)).selectExpr("CAST(id AS INT) AS time_idx")
    cand = tiles.crossJoin(F.broadcast(ch)).crossJoin(F.broadcast(times))

    # temporal block = atemporal block + 10*time_idx (materialize.py rule)
    blocks = cand.mapInPandas(
        lambda batches: _temporal_blocks(batches, GRID.chunk_px),
        schema="tile_id long, channel string, time_idx int, mean_val double",
    )
    return blocks.groupBy("tile_id", "channel").agg(F.max("mean_val").alias("max_mean"))


def _temporal_blocks(batches, chunk_px):
    import numpy as np
    import pandas as pd

    from smart_geocubes_spark.plans.materialize import CHANNEL_OFFSETS, chunk_value_base

    n_px = chunk_px * chunk_px
    ramp = np.arange(n_px, dtype=np.float64) * 0.5
    for b in batches:
        off = b["channel"].map(CHANNEL_OFFSETS).fillna(0.0).to_numpy(dtype=np.float64)
        base = chunk_value_base(
            b["tile_y"].to_numpy(dtype=np.float64), b["tile_x"].to_numpy(dtype=np.float64), off
        ) + b["time_idx"].to_numpy(dtype=np.float64) * 10.0
        blocks = base[:, None] + ramp[None, :]
        out = b[["tile_id", "channel", "time_idx"]].copy()
        out["mean_val"] = blocks.mean(axis=1)
        yield out


SQL_TEMPORAL_MAX_MOSAIC = f"""{_tile_cte(_ZONAL_TILES[1])},
zc AS (
  SELECT tile_id, tx, ty, channel, off
  FROM ztf CROSS JOIN (VALUES {_ZONAL_CH_VALUES}) ch(channel, off)
)
SELECT tile_id, channel,
       CAST(ty * 1000 + tx + off AS DOUBLE) + {0.5 * (_N_PX - 1) / 2.0!r}
         + {(len(CUBE_TIME_EPOCHS) - 1) * 10.0!r} AS max_mean
FROM zc
"""


# ---------------------------------------------------------------------------
# multimodal binary columns (decode / resize / audio features / frame
# sampling as Arrow kernels over real binary payloads; the deterministic
# RAW format makes the oracles closed-form — see operators/multimodal.py)
# ---------------------------------------------------------------------------

_N_MEDIA = 200


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.multimodal import decode_image_stats, media_table

    return decode_image_stats(media_table(spark, _N_MEDIA, "image"))


SQL_IMAGE_DECODE = f"""WITH m AS (
  SELECT range AS media_id, 32 + range % 64 AS w, 24 + range % 48 AS h
  FROM range({_N_MEDIA})
)
SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(w * h AS BIGINT) AS n_pixels,
       CAST(sum((media_id * 7 + p * 13) % 256) AS BIGINT) AS sum_pixels
FROM m, generate_series(0, 6999) t(p)
WHERE p < w * h
GROUP BY 1, 2, 3, 4
"""


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.multimodal import media_table, resize_image_halve

    r = resize_image_halve(media_table(spark, _N_MEDIA, "image"))
    return r.select("media_id", "width", "height", "sum_pixels")


SQL_IMAGE_RESIZE = f"""WITH m AS (
  SELECT range AS media_id, 32 + range % 64 AS w, 24 + range % 48 AS h
  FROM range({_N_MEDIA})
),
m2 AS (
  SELECT media_id, w, h,
         CAST(floor(w / 2.0) AS BIGINT) AS w2,
         CAST(floor(h / 2.0) AS BIGINT) AS h2
  FROM m
)
SELECT media_id, CAST(w2 AS BIGINT) AS width, CAST(h2 AS BIGINT) AS height,
       CAST(sum(CAST(floor((
           ((media_id * 7 + ((2 * r) * w + 2 * c) * 13) % 256)
         + ((media_id * 7 + ((2 * r) * w + 2 * c + 1) * 13) % 256)
         + ((media_id * 7 + ((2 * r + 1) * w + 2 * c) * 13) % 256)
         + ((media_id * 7 + ((2 * r + 1) * w + 2 * c + 1) * 13) % 256)
       ) / 4.0) AS BIGINT)) AS BIGINT) AS sum_pixels
FROM m2, generate_series(0, 49) tr(r), generate_series(0, 59) tc(c)
WHERE r < h2 AND c < w2
GROUP BY 1, 2, 3
"""


def q_image_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route the REAL-codec seam: standards-conformant 8-bit grayscale
    BMP files (palette, padded bottom-up rows) decoded by the registered
    pure-numpy parser — same pixel content, same closed-form oracle as
    image_decode."""
    from smart_geocubes_spark.operators.multimodal import decode_image_stats, media_table

    return decode_image_stats(media_table(spark, _N_MEDIA, "image", fmt="bmp"))


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.multimodal import audio_features, media_table

    return audio_features(media_table(spark, _N_MEDIA, "audio"))


def q_audio_features_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec seam, audio side: PCM16 mono RIFF/WAVE files decoded
    by the registered chunk-walking parser — same samples, same oracle
    as audio_features."""
    from smart_geocubes_spark.operators.multimodal import audio_features, media_table

    return audio_features(media_table(spark, _N_MEDIA, "audio", fmt="wav"))


SQL_AUDIO_FEATURES = f"""WITH m AS (
  SELECT range AS media_id, 2000 + (range % 10) * 100 AS n
  FROM range({_N_MEDIA})
),
s AS (
  SELECT media_id, n, i,
         ((media_id * 31 + i * 17) % 4096) - 2048 AS v
  FROM m, generate_series(0, 2999) t(i)
  WHERE i < n
),
z AS (
  SELECT media_id, n, v,
         lag(v) OVER (PARTITION BY media_id ORDER BY i ASC) AS pv
  FROM s
)
SELECT media_id, CAST(n AS BIGINT) AS n_samples,
       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       CAST(sum(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
FROM z GROUP BY 1, 2
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from smart_geocubes_spark.operators.multimodal import media_table, sample_video_frames

    return sample_video_frames(media_table(spark, _N_MEDIA, "video"), every=3)


SQL_VIDEO_FRAMES = f"""WITH m AS (
  SELECT range AS media_id, 4 + range % 8 AS nf
  FROM range({_N_MEDIA})
)
SELECT media_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(sum((media_id * 7 + f * 11 + p * 13) % 256) AS BIGINT) AS frame_sum
FROM m, generate_series(0, 11) tf(f), generate_series(0, 255) tp(p)
WHERE f < nf AND f % 3 = 0
GROUP BY 1, 2
"""


def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key (ORDER-BY-free sort-based
    agg; approx sketches are tested separately in pytest since their
    estimates are engine-specific)."""
    ensure_base_views(spark, sf_dir)
    ev = spark.table("events")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.groupBy("event_type").agg(
        F.percentile(cents, F.lit(0.5)).alias("p50"),
        F.percentile(cents, F.lit(0.9)).alias("p90"),
        F.count("*").cast("long").alias("n"),
    )


SQL_PERCENTILE_STATS = """SELECT event_type,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS p50,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.9) AS p90,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (classic web-pipeline op): lowercase
    scheme+host, strip fragment and trailing slash, extract host and
    path — all JVM regexp built-ins."""
    pages = pages_df(spark, sf_dir).select("page_id", "url")
    canon = F.regexp_replace(F.col("url"), r"#.*$", "")
    canon = F.regexp_replace(canon, r"/$", "")
    return pages.select(
        "page_id",
        F.lower(F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)).alias("host"),
        F.regexp_extract(F.col("url"), r"^https?://[^/]+(/.*)?$", 1).alias("path"),
        canon.alias("url_canon"),
    )


SQL_URL_CANONICALIZE = f"""{ORACLE_PREFIX}
SELECT page_id,
       lower(regexp_extract(url, '^https?://([^/]+)', 1)) AS host,
       regexp_extract(url, '^https?://[^/]+(/.*)?$', 1) AS path,
       regexp_replace(regexp_replace(url, '#.*$', '', 'g'), '/$', '', 'g') AS url_canon
FROM pages
"""


def q_text_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of document lengths (floor bucketing, 50-char bins)."""
    ensure_base_views(spark, sf_dir)
    d = spark.table("documents")
    bucket = F.floor(F.length("text") / F.lit(50)).cast("long")
    return d.groupBy(bucket.alias("len_bucket")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
    )


SQL_TEXT_LEN_HISTOGRAM = """SELECT CAST(floor(length(text) / 50) AS BIGINT) AS len_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(length(text)) AS BIGINT) AS min_len,
       CAST(max(length(text)) AS BIGINT) AS max_len
FROM documents GROUP BY 1
"""


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical cell rollup: encode at res 12, roll up to res 8 via
    parent-of-Morton, count per parent. The oracle encodes DIRECTLY at
    res 8 — cross-checking that parent-of-res-12 equals encode-at-res-8
    for every point.

    The parent step is PURE JVM bit math (same identity as
    geo.cells.cell_parent, pytest-pinned there): coarsening a Morton
    code by s resolutions == dropping its low 2*s interleaved bits, so
    cell8 = (morton12 >> 8) | (8 << 56). ONE ArrowEvalPython total:
    geoparse + res-12 encode fused into a single hop — chained pandas
    UDFs measured 6x slower (CLAUDE.md rule 4), and the r6 all-JVM
    variant slower again (see q_cell_encode) — and the rollup stays
    inside whole-stage codegen."""
    from smart_geocubes_spark.operators.tiles import make_geoparse_cell_udf

    dp = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, sf_dir, parallelism=dp).select("url")
    fused = make_geoparse_cell_udf(12)
    enc = pages.select(fused(F.col("url")).alias("c12")).filter(F.col("c12") >= 0)
    morton8 = F.shiftright(F.col("c12").bitwiseAND(F.lit((1 << 56) - 1)), 8)
    cell8 = morton8.bitwiseOR(F.lit(8 << 56))
    return enc.select(cell8.alias("cell8")).groupBy("cell8").agg(
        F.count("*").cast("long").alias("n_pages")
    )


SQL_CELL_ROLLUP = f"""{ORACLE_PREFIX}
SELECT {morton_cell_sql("lon", "lat", 8)} AS cell8,
       CAST(count(*) AS BIGINT) AS n_pages
FROM pts GROUP BY 1
"""


def q_rolling_hash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Rabin-Karp rolling-hash fingerprint (numpy sliding window);
    oracle recomputes the polynomial with ascii()+integer arithmetic.
    NOTE: documents text is ASCII (byte == codepoint), asserted by the
    parity itself."""
    from smart_geocubes_spark.operators.textstats import rolling_hash_fingerprint

    ensure_base_views(spark, sf_dir)
    return rolling_hash_fingerprint(spark.table("documents"))


_RH_TERMS = " + ".join(
    f"CAST(ascii(substr(g, {j + 1}, 1)) AS BIGINT) * {131**j}" for j in range(8)
)

SQL_ROLLING_HASH_FP = f"""WITH w AS (
  SELECT doc_id,
         CASE WHEN length(text) >= 8 THEN substr(text, CAST(i AS INT), 8)
              ELSE rpad(text, 8, chr(0)) END AS g
  FROM documents, generate_series(1, 600) t(i)
  WHERE i <= greatest(length(text) - 7, 1)
)
SELECT doc_id, CAST(min(({_RH_TERMS}) % 2147483647) AS BIGINT) AS min_rh
FROM w GROUP BY doc_id
"""


def q_spatial_join_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONCAVE polygon spatial join: L-shaped patch footprints refined
    by the generic ray caster. Oracle: the L as a union of half-open
    rectangles — exactly the even-odd ray-cast boundary convention, so
    this cross-checks concave + boundary semantics end to end."""
    from smart_geocubes_spark.operators.spatial_join import (
        polygon_catalog_cells,
        polygon_pip_join,
    )

    pts = _points(spark, sf_dir)
    cells = polygon_catalog_cells(spark, catalog_df(spark))
    joined = polygon_pip_join(pts, cells)
    return joined.groupBy("patch_id").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("page_id").cast("long").alias("sum_page_id"),
    )


SQL_SPATIAL_JOIN_POLYGON = f"""{ORACLE_PREFIX}
SELECT p.patch_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(t.page_id) AS BIGINT) AS sum_page_id
FROM pts t JOIN patches p
  ON (   (t.lon >= p.cminx AND t.lon < p.cminx + 2.0
          AND t.lat >= p.cminy AND t.lat < p.cminy + 1.5)
      OR (t.lon >= p.cminx AND t.lon < p.cminx + 1.0
          AND t.lat >= p.cminy + 1.5 AND t.lat < p.cminy + 3.0))
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_host_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document quota (domain capping): keep at most 40 pages
    per host, selected by a deterministic Knuth-hash coin on page_id
    (reproducible "random" sample, no rand()). The host-balancing op
    every crawl corpus applies before training. One window = one
    shuffle on host_id; skewed hosts are bounded by the quota itself —
    the per-group state row_number carries is O(1)."""
    from pyspark.sql import Window

    ensure_base_views(spark, sf_dir)
    pages = spark.sql(pages_sql("orders"))
    p = pages.select("page_id", "host_id").withColumn("coin", F.expr(_knuth("page_id")))
    w = Window.partitionBy("host_id").orderBy("coin", "page_id")
    wc = Window.partitionBy("host_id")
    ranked = p.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_total", F.count("*").over(wc)
    )
    return (
        ranked.filter(F.col("rn") <= 40)
        .groupBy("host_id")
        .agg(
            F.max("n_total").cast("long").alias("n_total"),
            F.count("*").cast("long").alias("n_kept"),
            F.sum("page_id").cast("long").alias("kept_sum"),
        )
    )


SQL_HOST_QUOTA_SAMPLE = f"""WITH pages AS ({pages_sql("orders")}),
r AS (
  SELECT host_id, page_id,
         row_number() OVER (
           PARTITION BY host_id
           ORDER BY {_knuth("page_id")}, page_id
         ) AS rn,
         count(*) OVER (PARTITION BY host_id) AS n_total
  FROM pages
)
SELECT host_id,
       CAST(max(n_total) AS BIGINT) AS n_total,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(page_id) AS BIGINT) AS kept_sum
FROM r WHERE rn <= 40
GROUP BY host_id
"""


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two PageRank rounds over the host->host link graph in scaled
    BIGINT fixed point (operators/graph.py docstring has the exactness
    proof). Host ranking is the web-corpus prioritization op the
    reference's geospatial scope stops short of; the join-per-round
    shape is the standard Pregel-as-DataFrames plan."""
    from smart_geocubes_spark.operators.graph import host_link_edges, pagerank_fixed_point

    ensure_base_views(spark, sf_dir)
    pages = spark.sql(pages_sql("orders"))
    return pagerank_fixed_point(host_link_edges(pages), n_iter=2)


def _pagerank_oracle_sql(n_iter: int = 2) -> str:
    """Unrolled-CTE replay of pagerank_fixed_point: the per-step
    expressions are interpolated from the SAME constants the operator
    evaluates, so the fixed-point arithmetic cannot drift."""
    from smart_geocubes_spark.operators.graph import (
        CONTRIB_EXPR,
        DAMP_EXPR,
        N_HOSTS,
        PR_SCALE,
    )

    ctes = [
        f"""edges AS (
  SELECT DISTINCT host_id AS src, h2 % {N_HOSTS} AS dst
  FROM pages WHERE host_id <> h2 % {N_HOSTS}
), outdeg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
), indeg AS (
  SELECT dst, CAST(count(*) AS BIGINT) AS indeg FROM edges GROUP BY dst
), nodes AS (
  SELECT DISTINCT src AS host_id FROM edges
  UNION
  SELECT DISTINCT dst AS host_id FROM edges
), pr0 AS (
  SELECT host_id, CAST({PR_SCALE} AS BIGINT) AS pr FROM nodes
)"""
    ]
    for i in range(n_iter):
        ctes.append(
            f"""m{i} AS (
  SELECT e.dst AS host_id, CAST(SUM({CONTRIB_EXPR}) AS BIGINT) AS mass
  FROM edges e
  JOIN pr{i} p ON e.src = p.host_id
  JOIN outdeg o ON e.src = o.src
  GROUP BY e.dst
), mm{i} AS (
  SELECT n.host_id, CAST(COALESCE(m.mass, 0) AS BIGINT) AS mass
  FROM nodes n LEFT JOIN m{i} m ON n.host_id = m.host_id
), pr{i + 1} AS (
  SELECT host_id, CAST({DAMP_EXPR} AS BIGINT) AS pr FROM mm{i}
)"""
        )
    return (
        f"{ORACLE_PREFIX}, "
        + ", ".join(ctes)
        + f"""
SELECT p.host_id, p.pr AS pr_scaled,
       CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS outdeg,
       CAST(COALESCE(i.indeg, 0) AS BIGINT) AS indeg
FROM pr{n_iter} p
LEFT JOIN outdeg o ON p.host_id = o.src
LEFT JOIN indeg i ON p.host_id = i.dst
"""
    )


def q_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-neighbor prefix dedup over documents: dedup key = the first
    8 + doc_id % 24 chars of the text (varying lengths force real
    prefix containments in the fixture — 65/500 docs flagged at
    sf0.01, so both branches are exercised). See
    operators/dedup.py:prefix_superseded for the sortedness lemma and
    the bucket-partition exactness contract."""
    from smart_geocubes_spark.operators.dedup import prefix_superseded

    ensure_base_views(spark, sf_dir)
    d = spark.table("documents").select(
        "doc_id",
        F.expr("substring(text, 1, CAST(8 + doc_id % 24 AS INT))").alias("dedup_key"),
    )
    return prefix_superseded(d, key_col="dedup_key", bucket_chars=4)


SQL_PREFIX_DUP = """WITH k AS (
  SELECT doc_id, substr(text, 1, CAST(8 + doc_id % 24 AS INT)) AS key
  FROM documents
), s AS (
  SELECT doc_id, key,
         lead(key) OVER (PARTITION BY substr(key, 1, 4) ORDER BY key, doc_id) AS nxt
  FROM k
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(key) AS BIGINT) AS key_len,
       CAST(CASE WHEN nxt IS NOT NULL
                  AND substr(nxt, 1, CAST(length(key) AS INT)) = key
            THEN 1 ELSE 0 END AS BIGINT) AS is_superseded
FROM s
"""


BM25_TERMS = ["spark", "join", "window"]


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by rational-idf BM25 for a fixed seed query
    (operators/relevance.py docstring explains why this float IS
    exactly oracle-able). Retrieval-scored corpus mixing, TakeOrdered
    top-k — never a global-order window."""
    from smart_geocubes_spark.operators.relevance import bm25_topk

    ensure_base_views(spark, sf_dir)
    return bm25_topk(spark.table("documents"), BM25_TERMS, k=20)


def _bm25_oracle_sql(terms: list[str]) -> str:
    from smart_geocubes_spark.operators.relevance import bm25_score_expr

    tf_cols = ",\n    ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS tf_{t}"
        for t in terms
    )
    df_cols = ",\n    ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in terms
    )
    tf_out = ", ".join(f"CAST(tf_{t} AS BIGINT) AS tf_{t}" for t in terms)
    return f"""WITH feat AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
    {tf_cols}
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl,
    {df_cols}
  FROM feat
), scored AS (
  SELECT f.*, {bm25_score_expr(terms)} AS score
  FROM feat f CROSS JOIN stats
), top AS (
  SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score, dl, {tf_out}
FROM top
"""


# cell id from e5 coords: floor-degree grid, shifted non-negative. The
# floor(double/1e5) is exact for |e5| < 2^53 (see operators/graph.py
# exactness note); DIV/% are NOT used because Spark truncates toward
# zero while DuckDB floors on negatives.
KMV_CELL_EXPR = (
    "((CAST(floor(CAST(lat_e5 AS DOUBLE) / CAST(100000 AS DOUBLE)) AS BIGINT) + 90)"
    " * 3600 + "
    "(CAST(floor(CAST(lon_e5 AS DOUBLE) / CAST(100000 AS DOUBLE)) AS BIGINT) + 180))"
)


def q_kmv_distinct_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct-count sketch over the geo-cell ids of
    all geotagged pages: the k=64 smallest distinct hash values plus
    the (k-1)*M/h_k estimate — integer-deterministic sketch state,
    unlike HLL's double harmonic mean (operators/sketches.py)."""
    from smart_geocubes_spark.operators.sketches import kmv_bottom_k

    ensure_base_views(spark, sf_dir)
    pages = spark.sql(pages_sql("orders"))
    cells = pages.filter(F.col("has_geo")).select(F.expr(KMV_CELL_EXPR).alias("cell"))
    return kmv_bottom_k(cells, "cell", k=64)


def _kmv_oracle_sql() -> str:
    from smart_geocubes_spark.operators.sketches import (
        HASH_MULT,
        HASH_SPACE,
        kmv_est_expr,
    )

    return f"""{ORACLE_PREFIX},
h AS (
  SELECT DISTINCT ({KMV_CELL_EXPR} * {HASH_MULT}) % {HASH_SPACE} AS hval
  FROM pages WHERE has_geo
), mins AS (
  SELECT hval FROM h ORDER BY hval LIMIT 64
), kth AS (
  SELECT max(hval) AS h_k, CAST(count(*) AS BIGINT) AS n_kept FROM mins
)
SELECT CAST(row_number() OVER (ORDER BY hval) AS BIGINT) AS rank,
       CAST(hval AS BIGINT) AS hval,
       {kmv_est_expr(64)} AS est_distinct
FROM mins CROSS JOIN kth
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (web analytics): users bucketed by
    first-seen day, activity counted per day offset. Exact distinct
    counts, integer day arithmetic (epoch_us DIV 86400000000 — both
    engines truncate identically on non-negative epochs). The cohort
    day is a window-min over user_id — no first-seen join at all, so
    the plan is one user_id shuffle for the window plus the final
    aggregation (countDistinct dedups, so no pre-distinct pass is
    needed either)."""
    from pyspark.sql import Window

    ensure_base_views(spark, sf_dir)
    e = spark.table("events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").alias("day"),
    )
    cohort = F.min("day").over(Window.partitionBy("user_id"))
    return (
        e.withColumn("cohort_day", cohort)
        .groupBy(
            F.col("cohort_day").cast("long").alias("cohort_day"),
            (F.col("day") - F.col("cohort_day")).cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


SQL_COHORT_RETENTION = """WITH e AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events
), c AS (
  SELECT user_id, day,
         min(day) OVER (PARTITION BY user_id) AS cohort_day
  FROM e
)
SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
       CAST(day - cohort_day AS BIGINT) AS day_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM c
GROUP BY 1, 2
"""


FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WINDOW_US = 86_400_000_000  # 24 h conversion window per step


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed ordered-funnel analysis: users who did view, then click
    strictly after their first view but within 24 h, then purchase
    within 24 h of that click (min-after semantics: t_k = earliest
    step-k event with t_{k-1} < ts <= t_{k-1} + window; equivalent to
    the greedy single-scan funnel, but — unlike a fold over a
    time-sorted array — free of cross-engine tie-order ambiguity when
    two events share a timestamp). The window makes the fixture
    discriminate: 150 -> 60 -> 25 users at sf0.01 (an unwindowed
    funnel converts everyone over a 30-day trace). Output: one row per
    step with the surviving user count. Each phase is a filtered
    conditional agg + an equi-join on user_id; all three phases hash
    partition on the same key."""
    ensure_base_views(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    )
    return funnel_counts(ev, FUNNEL_STEPS, window_us=FUNNEL_WINDOW_US)


def funnel_counts(
    ev: DataFrame, steps: list[str], window_us: int | None = None
) -> DataFrame:
    """Min-after funnel over (user_id, event_type, us) rows; one output
    row per step with the surviving user count.  ``window_us`` bounds
    each conversion step (None = unbounded)."""
    prev = None
    stage_frames = []
    for k, step in enumerate(steps):
        cur = ev.filter(F.col("event_type") == step)
        if prev is not None:
            cur = cur.join(prev, "user_id").filter(F.col("us") > F.col("t_prev"))
            if window_us is not None:
                cur = cur.filter(F.col("us") <= F.col("t_prev") + F.lit(window_us))
        # each stage's survivors feed TWO subtrees (the next stage's
        # join and this stage's count row): checkpoint so the stage
        # shuffle runs once — unioning lazy frames would otherwise
        # recompute stage k's whole ancestry k more times in one action
        # (CLAUDE.md rule: 2+ consumers -> eager localCheckpoint)
        cur = cur.groupBy("user_id").agg(F.min("us").alias("t_prev")).localCheckpoint(eager=True)
        prev = cur
        stage_frames.append(
            cur.agg(F.count("*").cast("long").alias("n_users")).select(
                F.lit(k + 1).cast("long").alias("step"),
                F.lit(step).alias("event_type"),
                "n_users",
            )
        )
    out = stage_frames[0]
    for frame in stage_frames[1:]:
        out = out.union(frame)
    return out


SQL_FUNNEL_STEPS = f"""WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), t1 AS (
  SELECT user_id, min(us) AS t1 FROM ev
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
), t2 AS (
  SELECT ev.user_id, min(us) AS t2 FROM ev JOIN t1 USING (user_id)
  WHERE event_type = '{FUNNEL_STEPS[1]}' AND us > t1
    AND us <= t1 + {FUNNEL_WINDOW_US} GROUP BY ev.user_id
), t3 AS (
  SELECT ev.user_id, min(us) AS t3 FROM ev JOIN t2 USING (user_id)
  WHERE event_type = '{FUNNEL_STEPS[2]}' AND us > t2
    AND us <= t2 + {FUNNEL_WINDOW_US} GROUP BY ev.user_id
)
SELECT CAST(1 AS BIGINT) AS step, '{FUNNEL_STEPS[0]}' AS event_type,
       CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_users
UNION ALL
SELECT CAST(2 AS BIGINT), '{FUNNEL_STEPS[1]}',
       CAST((SELECT count(*) FROM t2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT), '{FUNNEL_STEPS[2]}',
       CAST((SELECT count(*) FROM t3) AS BIGINT)
"""


# deterministic edge sampling for the census fixture: the TWO-target
# link graph saturates to the complete K50 at sf>=0.01 (every host pair
# observed), which is as degenerate as the bipartite single-target
# graph's structural zero — keep ~3/7 of canonical pairs by an integer
# hash so the census has real structure (525 edges / 1428 triangles at
# sf0.01). Graph-sketch edge sampling, same expression both engines.
TRIANGLE_EDGE_KEEP = "(least(src, dst) * 53 + greatest(src, dst)) % 7 < 3"


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the (two-target, hash-sampled) undirected
    host link graph (operators/graph.py:triangle_stats —
    compact-forward a<b<c counting, exact BIGINT wedge count; see
    host_link_edges_multi for why the single-target graph is
    structurally triangle-free)."""
    from smart_geocubes_spark.operators.graph import (
        host_link_edges_multi,
        triangle_stats,
    )

    ensure_base_views(spark, sf_dir)
    pages = spark.sql(pages_sql("orders"))
    edges = host_link_edges_multi(pages).filter(F.expr(TRIANGLE_EDGE_KEEP))
    return triangle_stats(edges)


def _triangle_oracle_sql() -> str:
    from smart_geocubes_spark.operators.graph import N_HOSTS

    return f"""{ORACLE_PREFIX},
dedges AS (
  SELECT host_id AS src, h2 % {N_HOSTS} AS dst
  FROM pages WHERE host_id <> h2 % {N_HOSTS}
  UNION
  SELECT host_id AS src, h3 % {N_HOSTS} AS dst
  FROM pages WHERE host_id <> h3 % {N_HOSTS}
), und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM dedges WHERE {TRIANGLE_EDGE_KEEP}
), deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
  ) GROUP BY v
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM und e1 JOIN und e2 ON e1.b = e2.a
       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles
"""


RESAMPLE_HOURS = 200  # bounded per-user grid length (hours)


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample + forward-fill (gap filling): for each user,
    an hourly grid of RESAMPLE_HOURS hours anchored at their first
    event; each hour carries the LAST event value (cents) in that hour,
    forward-filled across empty hours.  The hypertable
    `time_bucket_gapfill + locf` op, as two windows and a join:
    per-(user,hour) last-event pick, per-user explode of a constant
    sequence (no lateral range with column args — DuckDB trap), then
    `last(..., ignorenulls)` over the per-user hour order.  Every
    stage partitions on user_id; grid size is a constant, so output =
    n_users x RESAMPLE_HOURS, never data-dependent fan-out."""
    from pyspark.sql import Window

    ensure_base_views(spark, sf_dir)
    e = spark.table("events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    e = e.withColumn("hour", F.expr("us DIV 3600000000"))
    wpick = Window.partitionBy("user_id", "hour").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    hourly = (
        e.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour", "cents")
    )
    h0 = hourly.groupBy("user_id").agg(F.min("hour").alias("h0"))
    grid = h0.select(
        "user_id",
        "h0",
        F.explode(F.sequence(F.lit(0), F.lit(RESAMPLE_HOURS - 1))).alias("hour_idx"),
    ).withColumn("hour", F.col("h0") + F.col("hour_idx"))
    j = grid.join(hourly, ["user_id", "hour"], "left")
    wfill = (
        Window.partitionBy("user_id")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.col("hour_idx").cast("long").alias("hour_idx"),
        F.last("cents", ignorenulls=True).over(wfill).cast("long").alias(
            "filled_cents"
        ),
    )


SQL_RESAMPLE_FFILL = f"""WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour
  FROM events
), picked AS (
  SELECT user_id, hour, cents,
         row_number() OVER (PARTITION BY user_id, hour
                            ORDER BY us DESC, event_id DESC) AS rn
  FROM e
), hourly AS (
  SELECT user_id, hour, cents FROM picked WHERE rn = 1
), h0 AS (
  SELECT user_id, min(hour) AS h0 FROM hourly GROUP BY user_id
), grid AS (
  SELECT user_id, h0, i AS hour_idx, h0 + i AS hour
  FROM h0 CROSS JOIN (SELECT range AS i FROM range(0, {RESAMPLE_HOURS}))
), j AS (
  SELECT grid.user_id, grid.hour_idx, hourly.cents
  FROM grid LEFT JOIN hourly
    ON grid.user_id = hourly.user_id AND grid.hour = hourly.hour
)
SELECT user_id, CAST(hour_idx AS BIGINT) AS hour_idx,
       CAST(last_value(cents IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS filled_cents
FROM j
"""


# ---------------------------------------------------------------------------
# round-4 additions: corpus token rarity, patch overlap areas, URL rule filter
# ---------------------------------------------------------------------------


# THE whitespace tokenizer, one fragment per engine (token_rarity,
# cms_heavy_hitters, inverted_index): an explicit whitespace class,
# NOT \S — Java (Spark) and RE2 (DuckDB) disagree on \s membership
# (e.g. \x0B), the explicit class is identical in both regardless of
# fixture content.  Spark's regexp_extract_all needs the capture
# group + index; DuckDB's takes the bare pattern.  Edit BOTH together
# or parity breaks with a confusing value-hash diff.
TOKENIZE_SPARK = r"regexp_extract_all(text, '([^ \\t\\n\\r\\f]+)', 1)"
TOKENIZE_DUCK = r"regexp_extract_all(text, '[^ \t\n\r\f]+')"


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality signal: per doc, the count of
    whitespace tokens and the SUM of each token's corpus term
    frequency — integers only (the mean-rarity ratio is the caller's
    division; a float mean would drift between engines). Common-token-
    heavy docs score high tf_sum/n_tok; rare-vocabulary docs score low
    — the unigram-LM-quality proxy of a training-data pipeline.

    Plan shape: explode -> vocabulary-sized tf aggregate -> hash join
    back. The token frame feeds BOTH the aggregate and the join side,
    so it is eagerly checkpointed (CLAUDE.md rule: 2+ consumers). At
    100 TB the tf side is vocabulary-sized (<< corpus) and AQE
    broadcast-joins it; no windows, no per-row Python."""
    ensure_base_views(spark, sf_dir)
    corpus = corpus_df(spark)
    # explicit whitespace class, NOT \S: Java (Spark) and RE2 (DuckDB)
    # disagree on \s membership (e.g. \x0B) — the explicit class is
    # identical in both engines regardless of fixture content
    tok = corpus.select(
        "doc_id",
        F.explode(F.expr(TOKENIZE_SPARK)).alias("tok"),
    ).localCheckpoint(eager=True)
    tf = tok.groupBy("tok").agg(F.count("*").cast("long").alias("tf"))
    return (
        tok.join(tf, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum("tf").cast("long").alias("tf_sum"),
        )
    )


SQL_TOKEN_RARITY = f"""WITH corpus AS ({CORPUS_SQL}),
tok AS (
  SELECT doc_id, unnest({TOKENIZE_DUCK}) AS tok FROM corpus
),
tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY tok)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, CAST(sum(tf) AS BIGINT) AS tf_sum
FROM tok JOIN tf USING (tok) GROUP BY doc_id
"""


def q_patch_overlap_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise patch-envelope intersection areas (the STAC-overlap
    accounting behind J-family joins) in integer TENTH-DEGREE units —
    bbox corners are multiples of 0.5 deg, so x10 is exact and the
    whole area computation stays BIGINT.

    Plan shape: the sjoin discipline, not a theta self-join — each
    patch explodes to its 3x3 neighbor (prow, pcol) cells and pairs
    meet on an EQUI key (envelope margins are 0.5 deg < the 3 deg cell,
    so any overlapping pair is cell-adjacent: the prejoin is lossless).
    O(9n) rows instead of the O(n^2) BroadcastNestedLoopJoin a naive
    `a.minx < b.maxx AND ...` join plans; intersection width/height are
    greatest/least integer math in codegen."""
    pat = catalog_df(spark).select(
        "patch_idx",
        "prow",
        "pcol",
        (F.col("minx") * 10).cast("long").alias("x0"),
        (F.col("miny") * 10).cast("long").alias("y0"),
        (F.col("maxx") * 10).cast("long").alias("x1"),
        (F.col("maxy") * 10).cast("long").alias("y1"),
    )
    a = pat.select(
        F.col("patch_idx").alias("patch_a"),
        F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.explode(
            F.expr(
                "transform(sequence(0, 8),"
                " k -> struct(prow + k div 3 - 1 AS nr, pcol + k % 3 - 1 AS nc))"
            )
        ).alias("nb"),
    ).select("patch_a", "ax0", "ay0", "ax1", "ay1", "nb.nr", "nb.nc")
    b = pat.select(
        F.col("patch_idx").alias("patch_b"),
        F.col("prow").alias("nr"), F.col("pcol").alias("nc"),
        F.col("x0").alias("bx0"), F.col("y0").alias("by0"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
    )
    j = a.join(b, ["nr", "nc"]).filter(F.col("patch_a") < F.col("patch_b"))
    w = F.greatest(F.lit(0), F.least("ax1", "bx1") - F.greatest("ax0", "bx0"))
    h = F.greatest(F.lit(0), F.least("ay1", "by1") - F.greatest("ay0", "by0"))
    return (
        j.select("patch_a", "patch_b", (w * h).cast("long").alias("area10"))
        .filter(F.col("area10") > 0)
    )


SQL_PATCH_OVERLAP_AREA = f"""{ORACLE_PREFIX},
p AS (
  SELECT patch_idx, prow, pcol,
         CAST(minx * 10 AS BIGINT) AS x0, CAST(miny * 10 AS BIGINT) AS y0,
         CAST(maxx * 10 AS BIGINT) AS x1, CAST(maxy * 10 AS BIGINT) AS y1
  FROM patches
)
SELECT patch_a, patch_b, area10 FROM (
  SELECT a.patch_idx AS patch_a, b.patch_idx AS patch_b,
         CAST(greatest(0, least(a.x1, b.x1) - greatest(a.x0, b.x0))
            * greatest(0, least(a.y1, b.y1) - greatest(a.y0, b.y0)) AS BIGINT) AS area10
  FROM p a JOIN p b
    ON abs(a.prow - b.prow) <= 1 AND abs(a.pcol - b.pcol) <= 1
   AND a.patch_idx < b.patch_idx
) t WHERE area10 > 0
"""


def _url_rules_sql(dialect: str) -> str:
    """Shared robots-style per-host prefix rules (allow the host root;
    deny /about/ on every 3rd host, /geo/ on hosts ≡ 1 mod 5). One
    builder, both engines — prefix lengths are distinct per host, so
    longest-match-wins needs no tiebreak."""
    from smart_geocubes_spark.sources.synth import N_HOSTS, URL_ROOT_SQL

    if dialect == "spark":
        src = f"SELECT id AS host_id FROM range({N_HOSTS})"
    elif dialect == "duckdb":
        src = f"SELECT range AS host_id FROM range({N_HOSTS})"
    else:
        raise ValueError(dialect)
    # the ONE url-root fragment pages_sql builds urls from — a second
    # literal here would silently desync the rule prefixes from the
    # generated urls (review finding, round 4)
    root = URL_ROOT_SQL
    return f"""
SELECT host_id, prefix, verdict, CAST(length(prefix) AS BIGINT) AS plen FROM (
  SELECT host_id, {root} AS prefix, 'allow' AS verdict FROM ({src}) h
  UNION ALL
  SELECT host_id, {root} || 'about/' AS prefix, 'deny' AS verdict
  FROM ({src}) h WHERE host_id % 3 = 0
  UNION ALL
  SELECT host_id, {root} || 'geo/' AS prefix, 'deny' AS verdict
  FROM ({src}) h WHERE host_id % 5 = 1
) r
"""


def q_url_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-style longest-prefix URL policy (crawl-pipeline hygiene):
    every url is labeled by the most specific matching rule of its
    host (allow/deny + matched prefix length).

    Plan shape: rules are a per-host DIMENSION — one array row per
    host (collect_list of (plen, verdict, prefix) structs; the
    aggregate that picks the winner is order-independent, so the
    nondeterministic collect order is safe) — equi-joined on host_id,
    then the longest matching prefix is picked by array_max over the
    filtered struct array inside ONE codegen projection: zero fan-out,
    zero window, no per-url rule explosion. At web scale the rules
    side is host-count-sized, exactly what AQE broadcasts."""
    dp = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, sf_dir, parallelism=dp).select("page_id", "host_id", "url")
    rules = spark.sql(_url_rules_sql("spark"))
    per_host = rules.groupBy("host_id").agg(
        F.collect_list(F.struct("plen", "verdict", "prefix")).alias("rules")
    )
    j = pages.join(per_host, "host_id")
    best = F.array_max(F.expr("filter(rules, r -> startswith(url, r.prefix))"))
    # a url matching NO rule is DROPPED (same semantics as the oracle's
    # inner join + GROUP BY) — never emitted with NULL verdict; every
    # fixture url matches its host root, but the contract must not
    # depend on that
    return (
        j.withColumn("best", best)
        .filter(F.col("best").isNotNull())
        .select(
            "page_id",
            F.col("best.verdict").alias("verdict"),
            F.col("best.plen").cast("long").alias("plen"),
        )
    )


SQL_URL_RULES_FILTER = f"""{ORACLE_PREFIX},
rules AS ({_url_rules_sql("duckdb")})
SELECT p.page_id, arg_max(r.verdict, r.plen) AS verdict,
       CAST(max(r.plen) AS BIGINT) AS plen
FROM pages p JOIN rules r
  ON p.host_id = r.host_id AND starts_with(p.url, r.prefix)
GROUP BY p.page_id
"""


# deterministic DIRECTED edge sampler for the HITS fixture (same
# integer-hash idea as TRIANGLE_EDGE_KEEP but NOT canonicalized, so
# in/out degrees stay asymmetric): the unsampled graphs are degenerate
# for HITS — the single-target graph is REGULAR bipartite (uniform
# degrees -> uniform scores, verified) and the two-target graph
# saturates to near-complete at sf>=0.01.
HITS_EDGE_KEEP = "(src * 53 + dst) % 7 < 3"


def _multi_edges_nodes_cte(keep: str) -> str:
    """Shared edges+nodes CTE text: the SQL replay of
    operators.graph.host_link_edges_multi plus a keep-predicate sample.
    Both graph-round oracles (_hits_oracle_sql, _bfs_oracle_sql)
    interpolate THIS string, so a change to the edge derivation has one
    SQL copy to keep in lockstep with the Spark operator."""
    from smart_geocubes_spark.operators.graph import N_HOSTS

    return f"""edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT host_id AS src, h2 % {N_HOSTS} AS dst FROM pages
    UNION ALL
    SELECT host_id AS src, h3 % {N_HOSTS} AS dst FROM pages
  ) e WHERE src <> dst AND {keep}
), nodes AS (
  SELECT DISTINCT src AS host_id FROM edges
  UNION
  SELECT DISTINCT dst AS host_id FROM edges
)"""


def q_hits_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two UNNORMALIZED HITS rounds (Kleinberg hubs/authorities) over
    the sampled host link graph in pure BIGINT — the companion ranking
    to pagerank_hosts (normalization is a positive per-round scalar, so
    omitting it preserves the ranking and keeps the scores exactly
    oracle-able; see operators.graph.hits_fixed_point)."""
    from smart_geocubes_spark.operators.graph import (
        hits_fixed_point,
        host_link_edges_multi,
    )

    ensure_base_views(spark, sf_dir)
    pages = spark.sql(pages_sql("orders"))
    edges = host_link_edges_multi(pages).filter(F.expr(HITS_EDGE_KEEP))
    return hits_fixed_point(edges, n_iter=2)


def _hits_oracle_sql(n_iter: int = 2) -> str:
    """Unrolled-CTE replay of hits_fixed_point (all-integer, so the
    only contract is the same join/sum structure)."""
    ctes = [
        _multi_edges_nodes_cte(HITS_EDGE_KEEP)
        + ", h0 AS (SELECT host_id, CAST(1 AS BIGINT) AS hub FROM nodes)"
    ]
    prev_h = "h0"
    for k in range(1, n_iter + 1):
        ctes.append(
            f"""a{k}s AS (
  SELECT e.dst AS host_id, CAST(sum(p.hub) AS BIGINT) AS auth
  FROM edges e JOIN {prev_h} p ON e.src = p.host_id GROUP BY e.dst
), a{k} AS (
  SELECT n.host_id, CAST(coalesce(a.auth, 0) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN a{k}s a ON n.host_id = a.host_id
), h{k}s AS (
  SELECT e.src AS host_id, CAST(sum(a.auth) AS BIGINT) AS hub
  FROM edges e JOIN a{k} a ON e.dst = a.host_id GROUP BY e.src
), h{k} AS (
  SELECT n.host_id, CAST(coalesce(h.hub, 0) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN h{k}s h ON n.host_id = h.host_id
)"""
        )
        prev_h = f"h{k}"
    body = ",\n".join(ctes)
    return f"""{ORACLE_PREFIX},
{body}
SELECT h.host_id, h.hub, a.auth
FROM h{n_iter} h JOIN a{n_iter} a ON h.host_id = a.host_id
"""


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 SESSION-window streaming through the driver gate: the
    availableNow ``session_window`` aggregation (streaming/pipeline.py)
    runs as a real Structured Streaming query draining into a memory
    sink; its batch semantics are the classic lag/gap/cumsum
    sessionization, so the post-stream table is oracle-checked
    rows+schema+hash. Boundary rule verified empirically: an event at
    EXACTLY prev + gap MERGES into the session (Spark merges touching
    windows), so a new session starts only when gap > 1800 s — the
    same strict rule as the batch ``sessionize`` query."""
    from smart_geocubes_spark.streaming.pipeline import stream_session_windows

    with _events_source(sf_dir, "sessstream_") as src:
        # availableNow terminates, so a fixed sink name is safe and the
        # memory table is replaced (not accumulated) across gate runs
        return stream_session_windows(
            spark, src, gap_seconds=1800, query_name="gate_stream_sessions"
        )


SQL_STREAM_SESSION_WINDOWS = """WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
),
g AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us ASC) IS NULL
                OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us ASC)
                   > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM e
),
s AS (
  SELECT user_id, us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY us ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(min(us) AS BIGINT) AS s_start_us,
       CAST(max(us) + 1800 * 1000000 AS BIGINT) AS s_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, sid
"""


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters over the corpus token stream:
    tokens whose SKETCH estimate is >= 1% of all token occurrences,
    reported with both the estimate and the exact count (est >= tf
    always — CMS only over-counts, and W=16 forces real collisions at
    fixture vocabulary, so the gate covers the min-reduction path, not
    just est == tf).

    Plan shape: the two-pass bounded-memory heavy-hitters — counter
    build is ONE combining aggregate of d*n generator rows into d*W
    groups; the d*W counter table is KBs at any corpus size and joins
    the probe side broadcast. The token frame feeds three subtrees
    (counters, exact tf, total) -> eager checkpoint per CLAUDE.md."""
    from smart_geocubes_spark.operators.sketches import cms_counters, cms_estimate

    ensure_base_views(spark, sf_dir)
    corpus = corpus_df(spark)
    tok = corpus.select(
        F.explode(F.expr(TOKENIZE_SPARK)).alias("tok")
    ).localCheckpoint(eager=True)
    counters = cms_counters(tok, "tok")
    tf = tok.groupBy("tok").agg(F.count("*").cast("long").alias("tf"))
    tf = tf.localCheckpoint(eager=True)  # feeds the probe AND the final join
    est = cms_estimate(tf.select("tok"), "tok", counters)
    total = tok.agg(F.count("*").cast("long").alias("n_total"))
    return (
        tf.join(est, "tok")
        .crossJoin(F.broadcast(total))
        .filter(F.col("cms_est") * 100 >= F.col("n_total"))
        .select("tok", "tf", "cms_est")
    )


def _cms_oracle_sql() -> str:
    from smart_geocubes_spark.operators.sketches import CMS_D, cms_bucket_sql

    counter_branches = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS j, {cms_bucket_sql('tok', j)} AS bucket FROM tok"
        for j in range(CMS_D)
    )
    probe_branches = "\n  UNION ALL\n".join(
        f"  SELECT tok, {j} AS j, {cms_bucket_sql('tok', j)} AS bucket FROM tf"
        for j in range(CMS_D)
    )
    return f"""WITH corpus AS ({CORPUS_SQL}),
tok AS (
  SELECT unnest({TOKENIZE_DUCK}) AS tok FROM corpus
),
counters AS (
  SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
{counter_branches}
  ) u GROUP BY j, bucket
),
tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY tok),
est AS (
  -- LEFT + coalesce(0) mirrors cms_estimate's empty-cell contract
  -- (no-op for these in-stream probes, kept in lockstep regardless)
  SELECT p.tok, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est FROM (
{probe_branches}
  ) p LEFT JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY p.tok
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok)
SELECT tf.tok, tf.tf, e.cms_est
FROM tf JOIN est e ON e.tok = tf.tok, total
WHERE e.cms_est * 100 >= total.n_total
"""


# posting-list segment width (doc_ids per segment): bounds every
# postings array at SEG_DOCS entries regardless of token frequency
SEG_DOCS = 1000


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented inverted index over the corpus: (token, doc_id-range
    segment) -> sorted posting list + per-segment document frequency.

    Segmenting is the 100-TB shape: a stop-word's GLOBAL posting list
    does not fit one task, but per (token, segment) every array is
    capped at SEG_DOCS entries, the build stays one combining
    aggregate, and readers union a token's segments lazily — the
    standard sharded-postings layout. array_sort(collect_set(...))
    makes the array order deterministic (Spark's collect order is not),
    matching the oracle's list(... ORDER BY ...).

    Output contract: `postings` is a comma-joined STRING, not an
    array — the driver's canonicalizer sorts result rows with pandas,
    which cannot factorize list cells (r4: the one red driver row).
    tests/test_oracle_parity.py pins registry-wide that no query
    outputs array/struct/map columns."""
    ensure_base_views(spark, sf_dir)
    corpus = corpus_df(spark)
    pairs = corpus.select(
        "doc_id",
        F.explode(F.expr(TOKENIZE_SPARK)).alias("tok"),
    ).distinct()
    return (
        pairs.select(
            "tok",
            F.expr(f"doc_id div {SEG_DOCS}").cast("long").alias("segment"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
        .groupBy("tok", "segment")
        .agg(
            F.count("*").cast("long").alias("df_seg"),
            F.array_sort(F.collect_set("doc_id")).alias("plist"),
        )
        .select(
            "tok",
            "segment",
            "df_seg",
            F.expr(
                "array_join(transform(plist, x -> cast(x AS STRING)), ',')"
            ).alias("postings"),
        )
    )


SQL_INVERTED_INDEX = f"""WITH corpus AS ({CORPUS_SQL}),
tokp AS (
  SELECT doc_id, unnest({TOKENIZE_DUCK}) AS tok FROM corpus
),
pairs AS (SELECT DISTINCT doc_id, tok FROM tokp)
SELECT tok, CAST(doc_id // {SEG_DOCS} AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS df_seg,
       array_to_string(list(CAST(doc_id AS BIGINT) ORDER BY doc_id), ',') AS postings
FROM pairs
GROUP BY tok, doc_id // {SEG_DOCS}
"""


# THE rank-index formula (type-1/lower quantile), one fragment per
# engine — exact_quantiles AND approx_quantiles_hist select the SAME
# index, which is precisely what makes the sketch's pinned error bound
# hold; edit both fragments together or the coupling silently breaks.
def rank_idx_spark(q: int) -> str:
    return f"((n - 1) * {q}) div 100 + 1"


def rank_idx_duck(q: int) -> str:
    return f"((n - 1) * {q}) // 100 + 1"


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 (lower) percentiles of event value-cents per
    event_type by RANK SELECTION: idx_q = (n-1)*q div 100 + 1 in pure
    integer math, value picked where row_number == idx_q. Integer
    cents end to end, so both engines select the identical element.

    Scale note: exact selection needs the per-key sort (one window
    shuffle here); the production path for 100-TB percentiles is a
    mergeable rank sketch (percentile_approx / KLL) — this query is
    the exact baseline those estimates are judged against, same role
    as ann_cosine_topk vs the LSH/IVF paths."""
    from pyspark.sql import Window

    ensure_base_views(spark, sf_dir)
    ev = spark.table("events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").asc(), F.col("event_id").asc()
    )
    wc = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )

    def pick(q: int):
        return F.max(
            F.when(F.col("rn") == F.expr(rank_idx_spark(q)), F.col("cents"))
        ).cast("long")

    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        pick(50).alias("p50_cents"),
        pick(90).alias("p90_cents"),
        pick(99).alias("p99_cents"),
    )


SQL_EXACT_QUANTILES = f"""WITH e AS (
  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM e
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       CAST(max(CASE WHEN rn = {rank_idx_duck(50)} THEN cents END) AS BIGINT) AS p50_cents,
       CAST(max(CASE WHEN rn = {rank_idx_duck(90)} THEN cents END) AS BIGINT) AS p90_cents,
       CAST(max(CASE WHEN rn = {rank_idx_duck(99)} THEN cents END) AS BIGINT) AS p99_cents
FROM r GROUP BY event_type
"""


# sparsifier for the BFS fixture: ~2/23 of directed pairs keeps the
# average out-degree ~4, so 3 rounds produce a real 0..3 distance mix
# (the unsampled multi graph is near-complete at sf>=0.01 — every
# distance would be 0 or 1 and the min-propagation path untested)
BFS_EDGE_KEEP = "(src * 53 + dst) % 23 < 2"
BFS_SEED_MOD = 17  # seeds = nodes with host_id % 17 == 0


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round multi-source BFS (min forward-hop distance from the
    seed set) over the sparsified host link graph — the frontier-
    propagation member of the graph family beside pagerank_hosts /
    hits_hosts; see operators.graph.bfs_hops for the join shape."""
    from smart_geocubes_spark.operators.graph import bfs_hops, host_link_edges_multi

    ensure_base_views(spark, sf_dir)
    pages = spark.sql(pages_sql("orders"))
    # ONE evaluation of the edge derivation (pages scan + union +
    # distinct shuffle): it feeds both the seed derivation and the BFS
    # rounds, so checkpoint here and tell bfs_hops not to re-checkpoint
    edges = (
        host_link_edges_multi(pages)
        .filter(F.expr(BFS_EDGE_KEEP))
        .localCheckpoint(eager=True)
    )
    nodes = edges.select("src").union(edges.select(F.col("dst").alias("src"))).distinct()
    seeds = nodes.filter(F.col("src") % BFS_SEED_MOD == 0).select(
        F.col("src").alias("host_id")
    )
    return bfs_hops(edges, seeds, n_rounds=3, edges_checkpointed=True)


def _bfs_oracle_sql(n_rounds: int = 3) -> str:
    """Unrolled-CTE replay of bfs_hops (all-integer min-propagation)."""
    ctes = [
        _multi_edges_nodes_cte(BFS_EDGE_KEEP)
        + f""", d0 AS (
  SELECT host_id, CAST(0 AS BIGINT) AS dist FROM nodes
  WHERE host_id % {BFS_SEED_MOD} = 0
)"""
    ]
    prev = "d0"
    for k in range(1, n_rounds + 1):
        ctes.append(
            f"""d{k} AS (
  SELECT host_id, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT host_id, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS host_id, p.dist + 1 AS dist
    FROM edges e JOIN {prev} p ON e.src = p.host_id
  ) u GROUP BY host_id
)"""
        )
        prev = f"d{k}"
    body = ",\n".join(ctes)
    return f"""{ORACLE_PREFIX},
{body}
SELECT host_id, dist FROM {prev}
"""


# histogram-sketch bin width in cents; the estimate's worst-case error.
# MUST stay a power of two: the shared bin fragment divides as DOUBLE
# (exact for |cents| < 2^53 only because the divisor is 2^k) and floors,
# so bins are true FLOOR bins — bin * BIN_CENTS is the lower edge for
# NEGATIVE cents too (a truncating `div`/`//` would make bin 0 span
# (-BIN, BIN) and break the error-bound invariant below zero).
BIN_CENTS = 256
BIN_EXPR = f"CAST(floor(CAST(cents AS DOUBLE) / {float(BIN_CENTS)!r}) AS BIGINT)"


def q_approx_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketch: fixed-width histogram bins (integer
    cents div BIN_CENTS) per event_type, quantile read out as the lower
    edge of the bin where the cumulative count reaches the same rank
    index exact_quantiles selects — so |estimate - exact| < BIN_CENTS
    by construction (pinned by pytest against the exact baseline).

    This is the 100-TB quantile path exact_quantiles is the baseline
    for: bin counts are integers that ADD across shards (merge law
    pytest), the build is ONE combining aggregate (no per-key sort),
    and the readout window runs over ~value_range/BIN_CENTS bins per
    key — constant-sized state, same role as percentile_approx/KLL but
    deterministic and exactly oracle-able."""
    from pyspark.sql import Window

    ensure_base_views(spark, sf_dir)
    ev = spark.table("events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    b = ev.groupBy(
        "event_type", F.expr(BIN_EXPR).alias("bin")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bin").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wc = Window.partitionBy("event_type")
    cum = b.select(
        "event_type",
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wc).alias("n"),
    )

    def est(q: int):
        hit = F.when(
            F.col("cum") >= F.expr(rank_idx_spark(q)), F.col("bin")
        )
        return (F.min(hit) * BIN_CENTS).cast("long")

    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        est(50).alias("p50_est_cents"),
        est(90).alias("p90_est_cents"),
        est(99).alias("p99_est_cents"),
    )


SQL_APPROX_QUANTILES_HIST = f"""WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
b AS (
  SELECT event_type, {BIN_EXPR} AS bin, CAST(count(*) AS BIGINT) AS cnt
  FROM e GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM b
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= {rank_idx_duck(50)} THEN bin END) * {BIN_CENTS} AS BIGINT) AS p50_est_cents,
       CAST(min(CASE WHEN cum >= {rank_idx_duck(90)} THEN bin END) * {BIN_CENTS} AS BIGINT) AS p90_est_cents,
       CAST(min(CASE WHEN cum >= {rank_idx_duck(99)} THEN bin END) * {BIN_CENTS} AS BIGINT) AS p99_est_cents
FROM c GROUP BY event_type
"""


# collocation threshold: keep bigrams with likelihood ratio
# n_bigrams * c_ab / (c_a * c_b) >= PMI_K, compared CROSS-MULTIPLIED so
# the whole test stays in integers (PMI >= ln K).  ANSI int64 overflow
# is the loud guard: at corpus sizes where n_bg * c_ab or K * c_a * c_b
# could exceed 2^63 (~1e9+ token corpora with ~1e9-count stop words),
# reduce counts (e.g. per-shard PMI on sampled counts) first.
PMI_K = 2


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: ADJACENT-bigram PMI over the corpus —
    pairs (a, b) whose observed co-occurrence beats PMI_K times the
    unigram-independence expectation, all in integer cross-multiplied
    arithmetic (no log, no float drift).

    Scale shape: bigrams come from per-doc adjacent positions (ONE
    tokenize pass, checkpointed, feeds both unigram and bigram counts)
    — never a within-doc token cross join; the unigram table is
    vocabulary-sized and joins broadcast; n_bigrams is a 1-row cross
    join. Two combining aggregates total."""
    ensure_base_views(spark, sf_dir)
    corpus = corpus_df(spark)
    ta = corpus.select(
        "doc_id", F.expr(TOKENIZE_SPARK).alias("toks")
    ).localCheckpoint(eager=True)
    uni = (
        ta.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)  # joined twice below (c_a, c_b)
    )
    bg = (
        ta.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS a, toks[i] AS b))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .localCheckpoint(eager=True)  # feeds pair counts AND the total
    )
    cnt = bg.groupBy("tok_a", "tok_b").agg(F.count("*").cast("long").alias("c_ab"))
    total = bg.agg(F.count("*").cast("long").alias("n_bg"))
    ca = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    cb = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        cnt.join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_bg") * F.col("c_ab") >= PMI_K * F.col("c_a") * F.col("c_b"))
        .select("tok_a", "tok_b", "c_ab", "c_a", "c_b")
    )


SQL_PMI_COLLOCATIONS = f"""WITH corpus AS ({CORPUS_SQL}),
w AS (SELECT doc_id, {TOKENIZE_DUCK} AS toks FROM corpus),
uni AS (SELECT unnest(toks) AS tok FROM w),
ucnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok),
bg AS (
  SELECT toks[CAST(i AS INT)] AS tok_a, toks[CAST(i AS INT) + 1] AS tok_b
  FROM w, generate_series(1, 600) t(i)
  WHERE i <= len(toks) - 1
),
bcnt AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bg FROM bg)
SELECT b.tok_a, b.tok_b, b.c_ab, ca.c AS c_a, cb.c AS c_b
FROM bcnt b
JOIN ucnt ca ON ca.tok = b.tok_a
JOIN ucnt cb ON cb.tok = b.tok_b, tot
WHERE tot.n_bg * b.c_ab >= {PMI_K} * ca.c * cb.c
"""


# focal fixture: the first two zonal ROI rectangles (3x3 and 4x2 tile
# regions) x both channels. The ORACLE's integer offsets derive from
# THE single formula definition (materialize.CHANNEL_OFFSETS) — the
# engine side reads it directly via block_base_values, so neither copy
# can drift alone.
from smart_geocubes_spark.plans.materialize import CHANNEL_OFFSETS as _CH_OFF  # noqa: E402

FOCAL_ROIS = ZONAL_ROIS[:2]
FOCAL_OFFSETS = {c: int(o) for c, o in _CH_OFF.items()}
assert all(o == int(o) for o in _CH_OFF.values()), "non-integer channel offset"


def q_focal_mean3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 focal mean over cube chunks WITH HALO EXCHANGE — the
    neighborhood raster op zonal/pyramid don't cover. The kernel works
    on real block arrays and real exchanged strips (never the closed
    form), so the oracle — which recomputes every pixel's clipped
    3x3 mean from the synthetic formula in SQL — validates the entire
    halo plumbing bit-for-bit (x72 scaling keeps it integer-exact).
    See operators.focal for the plan shape."""
    from smart_geocubes_spark.operators.focal import focal_mean3_72

    return focal_mean3_72(spark, GRID, FOCAL_ROIS, ["dem", "slope"])


def _focal_oracle_parts(rois=None) -> tuple[str, str, str]:
    """Shared oracle scaffolding for BOTH focal oracles: the per-ROI
    global-pixel CTE body, the channel VALUES list, and the closed-form
    neighbor v2 expression — one copy, two aggregates."""
    w = GRID.chunk_px
    roi_parts = []
    for i, roi in enumerate(FOCAL_ROIS if rois is None else rois):
        t = GRID.tiles_overlapping_bbox(*roi)
        tx0, tx1 = int(t[:, 0].min()), int(t[:, 0].max())
        ty0, ty1 = int(t[:, 1].min()), int(t[:, 1].max())
        r0, r1 = ty0 * w, (ty1 + 1) * w - 1
        c0, c1 = tx0 * w, (tx1 + 1) * w - 1
        roi_parts.append(
            f"""  SELECT {i} AS roi_idx, R, C,
         {r0} AS r_lo, {r1} AS r_hi, {c0} AS c_lo, {c1} AS c_hi
  FROM generate_series({r0}, {r1}) tr(R), generate_series({c0}, {c1}) tc(C)"""
        )
    px_body = "\n  UNION ALL\n".join(roi_parts)
    ch_values = ", ".join(f"('{c}', {o})" for c, o in FOCAL_OFFSETS.items())
    v2_expr = (
        f"2 * (((R + dr) // {w}) * 1000 + ((C + dc) // {w}) + off)"
        f" + ((R + dr) % {w}) * {w} + ((C + dc) % {w})"
    )
    return px_body, ch_values, v2_expr


def _focal_oracle_body(agg_select: str, final_select: str, rois=None) -> str:
    px_body, ch_values, v2_expr = _focal_oracle_parts(rois)
    w = GRID.chunk_px
    nx = GRID.n_tiles_x
    return f"""WITH px AS (
{px_body}
),
nb AS (
  SELECT roi_idx, R, C, channel,
         {agg_select.format(v2=v2_expr)}
  FROM px,
       generate_series(-1, 1) a(dr),
       generate_series(-1, 1) b(dc),
       (VALUES {ch_values}) ch(channel, off)
  WHERE R + dr BETWEEN r_lo AND r_hi AND C + dc BETWEEN c_lo AND c_hi
  GROUP BY roi_idx, R, C, channel
)
SELECT CAST(roi_idx AS INT) AS roi_idx,
       CAST(-1 AS INT) AS time_idx,
       CAST((R // {w}) * {nx} + (C // {w}) AS BIGINT) AS tile_id,
       channel,
       {final_select}
FROM nb GROUP BY 1, 2, 3, 4
"""


def _focal_oracle_sql(rois=None) -> str:
    """Closed-form per-pixel replay of focal_mean3: f72 per pixel is
    (36 // cnt) * sum(v2) — all integer. ``rois`` restricts the replay
    (focal_cube reuses THIS builder for its single-ROI store run — one
    formula definition for both oracles)."""
    return _focal_oracle_body(
        "CAST(sum({v2}) AS BIGINT) AS s,\n         CAST(count(*) AS BIGINT) AS cnt",
        """CAST(sum((36 // cnt) * s) AS BIGINT) AS f72_sum,
       CAST(min((36 // cnt) * s) AS BIGINT) AS f72_min,
       CAST(max((36 // cnt) * s) AS BIGINT) AS f72_max""",
        rois=rois,
    )


def _focal_max_oracle_sql() -> str:
    """Same per-pixel lateral, max in place of the scaled sum."""
    return _focal_oracle_body(
        "CAST(max({v2}) AS BIGINT) AS m",
        """CAST(sum(m) AS BIGINT) AS fmax_sum,
       CAST(min(m) AS BIGINT) AS fmax_min,
       CAST(max(m) AS BIGINT) AS fmax_max""",
    )


def q_focal_max3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 focal max (morphological dilation) through the same halo
    pipeline as focal_mean3 — natively integer in the v2 domain, so
    no scaling is needed; columns renamed to the fmax_* family."""
    from smart_geocubes_spark.operators.focal import focal_max3

    out = focal_max3(spark, GRID, FOCAL_ROIS, ["dem", "slope"])
    return out.select(
        "roi_idx", "time_idx", "tile_id", "channel",
        F.col("f72_sum").alias("fmax_sum"),
        F.col("f72_min").alias("fmax_min"),
        F.col("f72_max").alias("fmax_max"),
    )


# LPA fixture sampler: reuse the BFS sparsifier (community structure
# needs a sparse graph; the unsampled multi graph is near-complete)
LPA_EDGE_KEEP = BFS_EDGE_KEEP


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of deterministic label propagation (community
    detection) over the sparsified host graph — min-tie-break LPA is
    bit-reproducible, so the oracle replays it with unrolled CTEs
    using the identical packed-min trick (see
    operators.graph.label_propagation)."""
    from smart_geocubes_spark.operators.graph import (
        host_link_edges_multi,
        label_propagation,
    )

    ensure_base_views(spark, sf_dir)
    pages = spark.sql(pages_sql("orders"))
    edges = host_link_edges_multi(pages).filter(F.expr(LPA_EDGE_KEEP))
    return label_propagation(edges, n_rounds=2)


def _lpa_oracle_sql(n_rounds: int = 2) -> str:
    """Unrolled-CTE replay: symmetrized edges, per-round neighbor-label
    counts, winner = min(-c * 2^31 + label) unpacked with the shared
    double-mod (both engines' % is sign-of-dividend)."""
    ctes = [
        _multi_edges_nodes_cte(LPA_EDGE_KEEP)
        + """, und AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
), l0 AS (SELECT host_id, CAST(host_id AS BIGINT) AS label FROM nodes)"""
    ]
    prev = "l0"
    m = 1 << 31
    for k in range(1, n_rounds + 1):
        ctes.append(
            f"""n{k} AS (
  SELECT e.src AS node, p.label, count(*) AS c
  FROM und e JOIN {prev} p ON e.dst = p.host_id
  GROUP BY e.src, p.label
), b{k} AS (
  SELECT node AS host_id,
         CAST(((min(-c * {m} + label) % {m}) + {m}) % {m} AS BIGINT) AS new_label
  FROM n{k} GROUP BY node
), l{k} AS (
  SELECT p.host_id,
         CAST(coalesce(b.new_label, p.label) AS BIGINT) AS label
  FROM {prev} p LEFT JOIN b{k} b ON b.host_id = p.host_id
)"""
        )
        prev = f"l{k}"
    body = ",\n".join(ctes)
    return f"""{ORACLE_PREFIX},
{body}
SELECT host_id, label FROM {prev}
"""


def q_focal_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORE PATH itself under the driver's value-hash: create a
    temp cube, FILL it with the real materialize kernel, read it back
    through load(), run the halo pipeline over the loaded blocks —
    and compare the whole chain against the same closed-form focal
    oracle. Until now store correctness was pytest-only; this row
    puts create -> fill -> commit -> load -> halo end-to-end under
    rows+schema+hash. The result is eagerly checkpointed so the temp
    cube can be deleted before the gate collects."""
    from smart_geocubes_spark.operators.focal import focal_mean3_cube

    return _filled_cube(
        spark, "focalcube_", ("dem", "slope"), [FOCAL_ROIS[0]],
        lambda path, _: focal_mean3_cube(spark, path, FOCAL_ROIS[0]),
    )


def q_typed_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CHANNEL DTYPES under the driver's value-hash: create a temp
    cube with float32/bool/int16 channels (reference
    datasets/arcticdem.py:169-172 declares exactly such per-channel
    encodings), FILL it through the real materialize kernel — blocks
    land quantized in per-dtype dt-<elem> parquet leaves — read it
    back through load() (widen-on-read union of typed scans), and
    fold per-(tile, channel) integer stats. The oracle replays every
    pixel with the quantization math in SQL: float32 is exact on the
    half-step fixture values, bool is ``x != 0``, int16 truncates —
    so a wrong cast, a missed dtype leaf, or a double round-trip in
    the store shows up as a hash mismatch. Eagerly checkpointed so
    the temp cube can be deleted before the gate collects."""
    from smart_geocubes_spark.plans.materialize import load

    return _filled_cube(
        spark, "typedcube_", ("dem", "mask", "cls"), [FOCAL_ROIS[0]],
        lambda path, _: _block_stats(load(spark, path, FOCAL_ROIS[0])),
        dtypes=("float32", "bool", "int16"),
    )


def _typed_cube_sql() -> str:
    W = GRID.chunk_px
    return f"""{_tile_cte(_ZONAL_TILES[0])},
px AS (
  SELECT z.tile_id, ch.channel,
         CASE ch.channel
           WHEN 'mask' THEN CASE WHEN CAST(z.ty * 1000 + z.tx AS DOUBLE)
                + 0.5 * CAST(p.i AS DOUBLE) <> 0.0 THEN 1.0 ELSE 0.0 END
           WHEN 'cls' THEN CAST(z.ty * 1000 + z.tx AS DOUBLE)
                + CAST(floor(0.5 * CAST(p.i AS DOUBLE)) AS DOUBLE)
           ELSE CAST(z.ty * 1000 + z.tx AS DOUBLE) + 0.5 * CAST(p.i AS DOUBLE)
         END AS val
  FROM ztf z
  CROSS JOIN (VALUES ('dem'), ('mask'), ('cls')) ch(channel)
  CROSS JOIN (SELECT range AS i FROM range({W * W})) p
)
SELECT tile_id, channel,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(val) * 2.0 AS BIGINT) AS sum_x2
FROM px
GROUP BY 1, 2
"""


SQL_TYPED_CUBE_STATS = _typed_cube_sql()


# zone-map range scan: prune on per-chunk (v_min, v_max) bounds, then
# exact per-pixel filter. Bounds picked so pruning is REAL for ROI 0:
# chunks span [ty*1000+tx, ty*1000+tx + 4999.5]; [18500, 19000] touches
# only the ty=14 row (3 of 9 tiles), and inside those chunks only a
# pixel subrange matches — so a pruning bug (dropped survivor) or a
# stats bug (kept pixel outside bounds) both move the hash.
RS_LO, RS_HI = 18500.0, 19000.0


def q_range_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP pruned value scan over the cube store: fill a cube
    through the real materialize kernel (write path computes per-chunk
    v_min/v_max/n_valid in-plan, carried inside the block files like
    the event columns), read it back with ``load(value_range=...)`` —
    the metadata pass reads ONLY the stats columns, drops every chunk
    whose bounds miss the range, and narrows both the pushed tile_id
    IN list and the visible set — then fold exact per-pixel
    membership stats. The oracle replays every ROI pixel in SQL with
    the same range predicate, so both a false prune (missing rows) and
    a stale/wrong bound (extra rows) break the hash."""
    from smart_geocubes_spark.plans.materialize import load

    def read(path, _fills):
        df = load(spark, path, ZONAL_ROIS[0], value_range=(RS_LO, RS_HI))
        m = df.select(
            "tile_id",
            "channel",
            F.expr(f"filter(block, x -> x >= {RS_LO!r} AND x <= {RS_HI!r})").alias("m"),
        )
        return _block_stats(m, n_col="n_in", block="m").filter(F.col("n_in") > 0)

    return _filled_cube(spark, "rangescan_", ("dem", "mask"), [ZONAL_ROIS[0]], read)


def _range_scan_sql() -> str:
    W = GRID.chunk_px
    return f"""{_tile_cte(_ZONAL_TILES[0])},
px AS (
  SELECT z.tile_id, ch.channel,
         CAST(z.ty * 1000 + z.tx AS DOUBLE) + 0.5 * CAST(p.i AS DOUBLE) AS val
  FROM ztf z
  CROSS JOIN (VALUES ('dem'), ('mask')) ch(channel)
  CROSS JOIN (SELECT range AS i FROM range({W * W})) p
)
SELECT tile_id, channel,
       CAST(count(*) AS BIGINT) AS n_in,
       CAST(sum(val) * 2.0 AS BIGINT) AS sum_x2
FROM px
WHERE val >= {RS_LO!r} AND val <= {RS_HI!r}
GROUP BY 1, 2
"""


SQL_RANGE_SCAN_STATS = _range_scan_sql()


# CDC fixture geometry: ROI B overlaps ZONAL_ROIS[0] (tx 19-21 x
# ty 12-14) on 4 tiles; its delta is the ty=15 strip (2 tiles).
CDC_ROI_B = (-149.7, 61.3, -147.2, 63.9)


def q_store_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROVENANCE CDC under the driver hash: fill ROI A (snapshot),
    fill overlapping ROI B, then ``load_changes(B, since=A)`` must
    return EXACTLY the chunks the second fill created — the overlap
    (cached, content unchanged) and the A-only tiles must not appear.
    Exercises the src_batch lineage column end-to-end: a winner-
    identity diff (instead of provenance) or a broken anti-join
    changes the row set; the per-pixel oracle replays the B-minus-A
    tile set in SQL."""
    from smart_geocubes_spark.plans.materialize import load_changes

    return _filled_cube(
        spark, "cdccube_", ("dem", "mask"), [ZONAL_ROIS[0], CDC_ROI_B],
        lambda path, fills: _block_stats(
            load_changes(spark, path, CDC_ROI_B, fills[0]["batch_id"])
        ),
    )


def _store_changes_sql() -> str:
    W = GRID.chunk_px
    b_not_a = _tile_range(CDC_ROI_B) + " AND NOT " + _ZONAL_TILES[0]
    return f"""{_tile_cte(b_not_a)},
px AS (
  SELECT z.tile_id, ch.channel,
         CAST(z.ty * 1000 + z.tx AS DOUBLE) + 0.5 * CAST(p.i AS DOUBLE) AS val
  FROM ztf z
  CROSS JOIN (VALUES ('dem'), ('mask')) ch(channel)
  CROSS JOIN (SELECT range AS i FROM range({W * W})) p
)
SELECT tile_id, channel,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(val) * 2.0 AS BIGINT) AS sum_x2
FROM px
GROUP BY 1, 2
"""


SQL_STORE_CHANGES = _store_changes_sql()


def q_overview_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORE-BACKED PYRAMID under the driver hash: fill a cube, build
    the factor-2 overview level (valid-aware 2x2 mean, one all-JVM
    codegen projection — no Python, no shuffle), read it back through
    load_overview and fold integer stats. Overview values are exact
    eighths (mean of 4 half-step values), so sum*8 is an exact BIGINT
    in any accumulation order; the oracle re-derives every overview
    pixel from the closed form base + 100*r0 + c0 + 25.25 (the 2x2
    window's average source index) — an independent derivation, not a
    replay of the engine expression."""
    from smart_geocubes_spark.plans.materialize import build_overviews, load_overview

    def read(path, _fills):
        build_overviews(spark, path, factors=(2,))
        return _block_stats(load_overview(spark, path, ZONAL_ROIS[0], 2), scale=8)

    return _filled_cube(spark, "ovcube_", ("dem", "mask"), [ZONAL_ROIS[0]], read)


def _overview_store_sql() -> str:
    W2 = GRID.chunk_px // 2
    return f"""{_tile_cte(_ZONAL_TILES[0])},
px AS (
  SELECT z.tile_id, ch.channel,
         CAST(z.ty * 1000 + z.tx AS DOUBLE)
           + 100.0 * CAST(floor(CAST(p.j AS DOUBLE) / {W2}.0) AS DOUBLE)
           + CAST(p.j % {W2} AS DOUBLE) + 25.25 AS val
  FROM ztf z
  CROSS JOIN (VALUES ('dem'), ('mask')) ch(channel)
  CROSS JOIN (SELECT range AS j FROM range({W2 * W2})) p
)
SELECT tile_id, channel,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(val) * 8.0 AS BIGINT) AS sum_x8
FROM px
GROUP BY 1, 2
"""


SQL_OVERVIEW_STORE = _overview_store_sql()


def q_band_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP ALGEBRA over the store: fill a two-band cube (dem at offset
    0, slope at +500000 — distinct values per band), pair the bands
    with ONE hash aggregate on the chunk coordinate (no self-join; both
    bands ride the same pruned scan) and combine per pixel with a JVM
    zip_with (x + 2y — half-step-exact, so sum*2 is an exact BIGINT in
    any order). The oracle replays every pixel from the closed form
    3*base + 1000000 + 1.5*i."""
    from smart_geocubes_spark.operators.algebra import band_math
    from smart_geocubes_spark.plans.materialize import load

    def read(path, _fills):
        blocks = load(spark, path, ZONAL_ROIS[0])
        out = band_math(blocks, "dem", "slope", "(x, y) -> x + 2.0D * y")
        return _block_stats(out, keys=("tile_id",))

    return _filled_cube(spark, "bandmath_", ("dem", "slope"), [ZONAL_ROIS[0]], read)


def _band_math_sql() -> str:
    W = GRID.chunk_px
    return f"""{_tile_cte(_ZONAL_TILES[0])},
px AS (
  SELECT z.tile_id,
         3.0 * CAST(z.ty * 1000 + z.tx AS DOUBLE) + 1000000.0
           + 1.5 * CAST(p.i AS DOUBLE) AS val
  FROM ztf z
  CROSS JOIN (SELECT range AS i FROM range({W * W})) p
)
SELECT tile_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(val) * 2.0 AS BIGINT) AS sum_x2
FROM px
GROUP BY 1
"""


SQL_BAND_MATH = _band_math_sql()


def q_temporal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL COMPOSITE over the real store: fill a 4-step temporal
    cube through materialize (blocks shift +10/step), load it back, and
    reduce per pixel across time with the all-JVM lower-median gather
    (one shuffle; sort of T=4 values per pixel inside codegen). With
    monotone time shifts the lower median is exactly the t=1 step, so
    the oracle replays base + off + 0.5*i + 10 per pixel — a wrong
    sort, an off-by-one median index, or a missing time step all move
    the hash."""
    from smart_geocubes_spark.operators.algebra import temporal_composite
    from smart_geocubes_spark.plans.materialize import load

    return _filled_cube(
        spark, "tmedian_", ("dem", "slope"), [ZONAL_ROIS[2]],
        lambda path, _: _block_stats(
            temporal_composite(load(spark, path, ZONAL_ROIS[2]), stat="median")
        ),
        time_epochs=tuple(CUBE_TIME_EPOCHS),
    )


def _temporal_median_sql() -> str:
    W = GRID.chunk_px
    return f"""{_tile_cte(_ZONAL_TILES[2])},
px AS (
  SELECT z.tile_id, ch.channel,
         CAST(z.ty * 1000 + z.tx AS DOUBLE) + ch.off
           + 0.5 * CAST(p.i AS DOUBLE) + 10.0 AS val
  FROM ztf z
  CROSS JOIN (VALUES ('dem', 0.0), ('slope', 500000.0)) ch(channel, off)
  CROSS JOIN (SELECT range AS i FROM range({W * W})) p
)
SELECT tile_id, channel,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(val) * 2.0 AS BIGINT) AS sum_x2
FROM px
GROUP BY 1, 2
"""


SQL_TEMPORAL_MEDIAN = _temporal_median_sql()


def _regrid_target() -> "TileGrid":
    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid

    # same CRS/extent as GRID, coarser pixels (0.015 -> 0.025 deg) and a
    # different chunking (96 px) — exercises non-integer pixel ratios
    # AND chunk-boundary crossings in the cover join
    return TileGrid(
        geobox=GeoBox(crs="EPSG:4326", x0=-180.0, y0=84.0, res=0.025,
                      width=14400, height=960),
        chunk_px=96,
    )


def q_regrid_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-NEIGHBOR REGRID under the driver hash: fill a cube on
    GRID, resample it onto a coarser differently-chunked grid (the
    reference's reproject-match role) and fold per-(target tile,
    channel) integer stats. Engine and oracle derive the source index
    through the SAME generated affine fragments (regrid_index_sql /
    the numpy mirror in operators/regrid.py), so boundary pixels agree
    bit-for-bit; pixels over unfilled source chunks are NULL and
    excluded on both sides."""
    return _regrid_filled(spark, "regrid_", _regrid_target(), ZONAL_ROIS[0])


def _regrid_filled(spark: SparkSession, prefix: str, tgt: "TileGrid", roi) -> DataFrame:
    """Fill ZONAL_ROIS[0], regrid it onto ``tgt`` over ``roi`` and fold
    per-(target tile, channel) stats over the non-NULL, non-NaN pixels."""
    from smart_geocubes_spark.operators.regrid import regrid_nearest

    def read(path, _fills):
        out = regrid_nearest(spark, path, tgt, roi)
        valid = "filter(block, x -> x IS NOT NULL AND NOT isnan(x))"
        return _block_stats(out, n_col="n_valid", block=valid).filter(F.col("n_valid") > 0)

    return _filled_cube(spark, prefix, ("dem", "slope"), [ZONAL_ROIS[0]], read)


def _regrid_store_sql() -> str:
    from smart_geocubes_spark.operators.regrid import regrid_index_sql

    tgt = _regrid_target()
    frags = regrid_index_sql(tgt, GRID)
    Wt, Ws = tgt.chunk_px, GRID.chunk_px
    ta = GRID.tiles_overlapping_bbox(*ZONAL_ROIS[0])
    tt = tgt.tiles_overlapping_bbox(*ZONAL_ROIS[0])
    return f"""WITH tt AS (
  SELECT txT, tyT FROM (SELECT range AS txT FROM range({tt[:, 0].min()}, {tt[:, 0].max() + 1}))
  CROSS JOIN (SELECT range AS tyT FROM range({tt[:, 1].min()}, {tt[:, 1].max() + 1}))
),
px AS (
  SELECT t.txT, t.tyT, p.j, ch.channel, ch.off,
         {frags["col"]} AS scol,
         {frags["row"]} AS srow
  FROM tt t
  CROSS JOIN (VALUES ('dem', 0.0), ('slope', 500000.0)) ch(channel, off)
  CROSS JOIN (SELECT range AS j FROM range({Wt * Wt})) p
),
fx AS (
  SELECT txT, tyT, channel,
         CAST(floor(CAST(srow AS DOUBLE) / {Ws}.0) AS BIGINT) * 1000
           + CAST(floor(CAST(scol AS DOUBLE) / {Ws}.0) AS BIGINT)
           + off
           + 0.5 * CAST((srow % {Ws}) * {Ws} + (scol % {Ws}) AS DOUBLE) AS val
  FROM px
  WHERE CAST(floor(CAST(scol AS DOUBLE) / {Ws}.0) AS BIGINT)
          BETWEEN {ta[:, 0].min()} AND {ta[:, 0].max()}
    AND CAST(floor(CAST(srow AS DOUBLE) / {Ws}.0) AS BIGINT)
          BETWEEN {ta[:, 1].min()} AND {ta[:, 1].max()}
)
SELECT tyT * {tgt.n_tiles_x} + txT AS tile_id, channel,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(sum(val) * 2.0 AS BIGINT) AS sum_x2
FROM fx
GROUP BY 1, 2
"""


SQL_REGRID_STORE = _regrid_store_sql()


def _regrid_merc_target() -> "TileGrid":
    import numpy as np

    from smart_geocubes_spark.geo.geobox import GeoBox, TileGrid
    from smart_geocubes_spark.geo.projection import project

    px, py = project(
        np.array([-150.7, -148.2, -150.7, -148.2]),
        np.array([62.3, 62.3, 64.9, 64.9]),
        "EPSG:3857",
    )
    res = float(max(px.max() - px.min(), py.max() - py.min())) / 140.0
    return TileGrid(
        geobox=GeoBox(crs="EPSG:3857", x0=float(px.min()), y0=float(py.max()),
                      res=res, width=150, height=150),
        chunk_px=50,
    )


def q_regrid_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CRS regrid under the driver hash (the full reproject-match
    role): a web-mercator target grid over the 4326 cube. Both engines
    derive each target pixel's source index through the SAME generated
    inverse-mercator expression sequence (regrid_index_sql emits the
    atan/exp chain with every constant interpolated; the numpy kernel
    mirrors it term for term), so the gathered half-step values — and
    hence the integer stats — agree exactly."""
    tgt = _regrid_merc_target()
    return _regrid_filled(spark, "regridm_", tgt, tgt.geobox.extent)


def _regrid_mercator_sql() -> str:
    from smart_geocubes_spark.operators.regrid import regrid_index_sql

    tgt = _regrid_merc_target()
    frags = regrid_index_sql(tgt, GRID)
    Wt, Ws = tgt.chunk_px, GRID.chunk_px
    ta = GRID.tiles_overlapping_bbox(*ZONAL_ROIS[0])
    return f"""WITH tt AS (
  SELECT txT, tyT FROM (SELECT range AS txT FROM range({tgt.n_tiles_x}))
  CROSS JOIN (SELECT range AS tyT FROM range({tgt.n_tiles_y}))
),
px AS (
  SELECT t.txT, t.tyT, p.j, ch.channel, ch.off,
         {frags["col"]} AS scol,
         {frags["row"]} AS srow
  FROM tt t
  CROSS JOIN (VALUES ('dem', 0.0), ('slope', 500000.0)) ch(channel, off)
  CROSS JOIN (SELECT range AS j FROM range({Wt * Wt})) p
),
fx AS (
  SELECT txT, tyT, channel,
         CAST(floor(CAST(srow AS DOUBLE) / {Ws}.0) AS BIGINT) * 1000
           + CAST(floor(CAST(scol AS DOUBLE) / {Ws}.0) AS BIGINT)
           + off
           + 0.5 * CAST((srow % {Ws}) * {Ws} + (scol % {Ws}) AS DOUBLE) AS val
  FROM px
  WHERE CAST(floor(CAST(scol AS DOUBLE) / {Ws}.0) AS BIGINT)
          BETWEEN {ta[:, 0].min()} AND {ta[:, 0].max()}
    AND CAST(floor(CAST(srow AS DOUBLE) / {Ws}.0) AS BIGINT)
          BETWEEN {ta[:, 1].min()} AND {ta[:, 1].max()}
)
SELECT tyT * {tgt.n_tiles_x} + txT AS tile_id, channel,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(sum(val) * 2.0 AS BIGINT) AS sum_x2
FROM fx
GROUP BY 1, 2
"""


SQL_REGRID_MERCATOR = _regrid_mercator_sql()


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "geoparse": q_geoparse,
    "extract_text": q_extract_text,
    "tile_assign": q_tile_assign,
    "cell_encode": q_cell_encode,
    "spatial_join_bbox": q_spatial_join_bbox,
    "spatial_join_pip": q_spatial_join_pip,
    "spatial_join_polygon": q_spatial_join_polygon,
    "knn_ring": q_knn,
    "distance_join": q_distance_join,
    "asof_time_nearest": q_asof_time,
    "range_join_time": q_range_join_time,
    "merge_asof_by": q_merge_asof_by,
    "zonal_stats": q_zonal_stats,
    "zonal_histogram": q_zonal_histogram,
    "pyramid_overview": q_pyramid_overview,
    "chunk_plan_antijoin": q_chunk_plan,
    "chunk_plan_polygon": q_chunk_plan_polygon,
    "zonal_polygon_stats": q_zonal_polygon_stats,
    "typed_cube_stats": q_typed_cube_stats,
    "range_scan_stats": q_range_scan_stats,
    "store_changes": q_store_changes,
    "overview_store": q_overview_store,
    "band_math": q_band_math,
    "temporal_median": q_temporal_median,
    "regrid_store": q_regrid_store,
    "regrid_mercator": q_regrid_mercator,
    "cell_polyfill": q_cell_polyfill,
    "event_durations": q_event_durations,
    "antimeridian_norm": q_antimeridian,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_clusters": q_dedup_clusters,
    "decontaminate": q_decontaminate,
    "decontaminate_ac": q_decontaminate_ac,
    "contamination_overlap": q_contamination_overlap,
    "dedup_ngram_jaccard": q_dedup_ngram,
    "simhash": q_simhash,
    "simhash_neardup": q_simhash_neardup,
    "ann_cosine_topk": q_ann_cosine,
    "embedding_neardup": q_embedding_neardup,
    "ann_lsh_topk": q_ann_lsh,
    "ann_ivf_topk": q_ann_ivf,
    "geoparse_text": q_geoparse_text,
    "embedding_quantize": q_embedding_quantize,
    "redact_coordinates": q_redact_coordinates,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "repetition_quality": q_repetition_quality,
    "corpus_funnel": q_corpus_funnel,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "pricing_summary": q_pricing_summary,
    "topk_revenue": q_topk_revenue,
    "star_join_revenue": q_star_join_revenue,
    "window_running": q_window_running,
    "window_range_time": q_window_range_time,
    "sessionize": q_sessionize,
    "stream_window_counts": q_stream_window_counts,
    "stream_dedup": q_stream_dedup,
    "set_ops": q_set_ops,
    "rollup_counts": q_rollup,
    "scalar_funcs": q_scalar_funcs,
    "semi_anti_join": q_semi_anti,
    "salted_agg": q_salted_agg,
    "coalesce_merge": q_coalesce_merge,
    "percentile_stats": q_percentile_stats,
    "url_canonicalize": q_url_canonicalize,
    "text_len_histogram": q_text_len_histogram,
    "cell_rollup": q_cell_rollup,
    "rolling_hash_fp": q_rolling_hash_fp,
    "tile_assign_polar": q_tile_assign_polar,
    "temporal_max_mosaic": q_temporal_max_mosaic,
    "image_decode": q_image_decode,
    "image_decode_bmp": q_image_decode_bmp,
    "audio_features_wav": q_audio_features_wav,
    "image_resize": q_image_resize,
    "audio_features": q_audio_features,
    "video_frame_sample": q_video_frames,
    "host_quota_sample": q_host_quota_sample,
    "pagerank_hosts": q_pagerank_hosts,
    "prefix_dup": q_prefix_dup,
    "bm25_rank": q_bm25_rank,
    "kmv_distinct_cells": q_kmv_distinct_cells,
    "cohort_retention": q_cohort_retention,
    "funnel_steps": q_funnel_steps,
    "triangle_count": q_triangle_count,
    "resample_ffill": q_resample_ffill,
    "token_rarity": q_token_rarity,
    "patch_overlap_area": q_patch_overlap_area,
    "url_rules_filter": q_url_rules_filter,
    "hits_hosts": q_hits_hosts,
    "stream_session_windows": q_stream_session_windows,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "inverted_index": q_inverted_index,
    "exact_quantiles": q_exact_quantiles,
    "bfs_hops": q_bfs_hops,
    "approx_quantiles_hist": q_approx_quantiles_hist,
    "pmi_collocations": q_pmi_collocations,
    "focal_mean3": q_focal_mean3,
    "focal_max3": q_focal_max3,
    "focal_cube": q_focal_cube,
    "label_propagation": q_label_propagation,
}

ORACLES: dict[str, str] = {
    "hits_hosts": _hits_oracle_sql(2),
    "stream_session_windows": SQL_STREAM_SESSION_WINDOWS,
    "cms_heavy_hitters": _cms_oracle_sql(),
    "inverted_index": SQL_INVERTED_INDEX,
    "exact_quantiles": SQL_EXACT_QUANTILES,
    "bfs_hops": _bfs_oracle_sql(3),
    "approx_quantiles_hist": SQL_APPROX_QUANTILES_HIST,
    "pmi_collocations": SQL_PMI_COLLOCATIONS,
    "focal_mean3": _focal_oracle_sql(),
    "focal_max3": _focal_max_oracle_sql(),
    "focal_cube": _focal_oracle_sql(rois=FOCAL_ROIS[:1]),
    "label_propagation": _lpa_oracle_sql(2),
    "token_rarity": SQL_TOKEN_RARITY,
    "patch_overlap_area": SQL_PATCH_OVERLAP_AREA,
    "url_rules_filter": SQL_URL_RULES_FILTER,
    "host_quota_sample": SQL_HOST_QUOTA_SAMPLE,
    "pagerank_hosts": _pagerank_oracle_sql(2),
    "prefix_dup": SQL_PREFIX_DUP,
    "bm25_rank": _bm25_oracle_sql(BM25_TERMS),
    "kmv_distinct_cells": _kmv_oracle_sql(),
    "cohort_retention": SQL_COHORT_RETENTION,
    "funnel_steps": SQL_FUNNEL_STEPS,
    "triangle_count": _triangle_oracle_sql(),
    "resample_ffill": SQL_RESAMPLE_FFILL,
    "geoparse": SQL_GEOPARSE,
    "extract_text": SQL_EXTRACT_TEXT,
    "tile_assign": SQL_TILE_ASSIGN,
    "cell_encode": SQL_CELL_ENCODE,
    "spatial_join_bbox": SQL_SPATIAL_JOIN_BBOX,
    "spatial_join_pip": SQL_SPATIAL_JOIN_PIP,
    "spatial_join_polygon": SQL_SPATIAL_JOIN_POLYGON,
    "knn_ring": SQL_KNN,
    "distance_join": SQL_DISTANCE_JOIN,
    "asof_time_nearest": SQL_ASOF_TIME,
    "range_join_time": SQL_RANGE_JOIN_TIME,
    "merge_asof_by": SQL_MERGE_ASOF_BY,
    "zonal_stats": SQL_ZONAL_STATS,
    "zonal_histogram": SQL_ZONAL_HISTOGRAM,
    "pyramid_overview": SQL_PYRAMID_OVERVIEW,
    "chunk_plan_antijoin": SQL_CHUNK_PLAN,
    "chunk_plan_polygon": SQL_CHUNK_PLAN_POLYGON,
    "zonal_polygon_stats": SQL_ZONAL_POLYGON_STATS,
    "typed_cube_stats": SQL_TYPED_CUBE_STATS,
    "range_scan_stats": SQL_RANGE_SCAN_STATS,
    "store_changes": SQL_STORE_CHANGES,
    "overview_store": SQL_OVERVIEW_STORE,
    "band_math": SQL_BAND_MATH,
    "temporal_median": SQL_TEMPORAL_MEDIAN,
    "regrid_store": SQL_REGRID_STORE,
    "regrid_mercator": SQL_REGRID_MERCATOR,
    "cell_polyfill": SQL_CELL_POLYFILL,
    "event_durations": SQL_EVENT_DURATIONS,
    "antimeridian_norm": SQL_ANTIMERIDIAN,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "decontaminate": SQL_DECONTAMINATE,
    "decontaminate_ac": SQL_DECONTAMINATE_AC,
    "contamination_overlap": SQL_CONTAMINATION_OVERLAP,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM,
    "simhash": SQL_SIMHASH,
    "simhash_neardup": SQL_SIMHASH_NEARDUP,
    "ann_cosine_topk": SQL_ANN_COSINE,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "ann_lsh_topk": SQL_ANN_LSH,
    "ann_ivf_topk": SQL_ANN_IVF,
    "geoparse_text": SQL_GEOPARSE_TEXT,
    "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
    "redact_coordinates": SQL_REDACT_COORDINATES,
    "lang_id": SQL_LANG_ID,
    "quality_score": SQL_QUALITY,
    "token_count": SQL_TOKEN_COUNT,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "repetition_quality": SQL_REPETITION_QUALITY,
    "corpus_funnel": SQL_CORPUS_FUNNEL,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "topk_revenue": SQL_TOPK_REVENUE,
    "star_join_revenue": SQL_STAR_JOIN_REVENUE,
    "window_running": SQL_WINDOW_RUNNING,
    "window_range_time": SQL_WINDOW_RANGE_TIME,
    "sessionize": SQL_SESSIONIZE,
    "stream_window_counts": SQL_STREAM_WINDOW_COUNTS,
    "stream_dedup": SQL_STREAM_DEDUP,
    "set_ops": SQL_SET_OPS,
    "rollup_counts": SQL_ROLLUP,
    "scalar_funcs": SQL_SCALAR_FUNCS,
    "semi_anti_join": SQL_SEMI_ANTI,
    "salted_agg": SQL_SALTED_AGG,
    "coalesce_merge": SQL_COALESCE_MERGE,
    "percentile_stats": SQL_PERCENTILE_STATS,
    "url_canonicalize": SQL_URL_CANONICALIZE,
    "text_len_histogram": SQL_TEXT_LEN_HISTOGRAM,
    "cell_rollup": SQL_CELL_ROLLUP,
    "rolling_hash_fp": SQL_ROLLING_HASH_FP,
    "tile_assign_polar": SQL_TILE_ASSIGN_POLAR,
    "temporal_max_mosaic": SQL_TEMPORAL_MAX_MOSAIC,
    "image_decode": SQL_IMAGE_DECODE,
    "image_decode_bmp": SQL_IMAGE_DECODE,
    "audio_features_wav": SQL_AUDIO_FEATURES,
    "image_resize": SQL_IMAGE_RESIZE,
    "audio_features": SQL_AUDIO_FEATURES,
    "video_frame_sample": SQL_VIDEO_FRAMES,
}
