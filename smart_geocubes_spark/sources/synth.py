"""Deterministic synthetic sources: the Common-Crawl-style ``pages``
table and the raster ``patch_catalog``.

The BASELINE input_hint mandates the input shape
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``;
FIXTURES.md pins the generation rules (seeded LCG hashes, lat/lon
embedded in the url as integer micro-degrees, Zipfian-ish hot clusters
for skew, 3% geoparse-miss rows). The reference's analog of the
catalog is the ArcticDEM tile-extent GeoParquet
(``/root/reference/src/smart_geocubes/datasets/arcticdem.py:216``).

Parity strategy: the derivation is ONE SQL string valid in BOTH Spark
SQL and DuckDB (verified constructs: ``%``, ``CASE``, ``CAST AS
STRING/BIGINT``, ``||``, ``floor``, ``chr``, ``regexp_extract``,
``md5``, ``<< & |``). The Spark engine materializes it with
``spark.sql``; every ``oracle_sql()`` entry embeds the same string as a
DuckDB CTE, so engine and oracle agree bit-for-bit on the inputs and
any mismatch the driver finds is a real operator bug, not generator
drift.

All integer arithmetic stays below 2**62 (h1 < 2**31 times multiplier
< 2**31) so ANSI-mode Spark never overflows.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from smart_geocubes_spark.geo.geobox import TileGrid, arctic_4326_grid

#: The engine's cube grid for all fixture queries: lon [-180,180) x
#: lat (60,84], 0.015 deg pixels, 100 px chunks -> 240 x 16 tiles of
#: 1.5 deg (chunk-aligned, mirroring the reference's GeoboxTiles).
GRID: TileGrid = arctic_4326_grid()

#: Cube temporal axis: 4 yearly steps 2020..2023 (epoch seconds, UTC) —
#: analog of the reference's yearly temporal extents
#: (``datasets/alphaearth.py:36``).
CUBE_TIME_EPOCHS = [1577836800, 1609459200, 1640995200, 1672531200]

#: Seconds span of the warc_ts wrap (4 years).
_WARC_WRAP = 126230400

# host universe size; consumed by operators/graph.py (link targets are
# drawn from the same universe) — keep the derivation and the graph in
# lockstep through this ONE constant.
N_HOSTS = 50

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


#: THE url-root SQL fragment (shared by pages_sql and the URL-rule
#: derivation in queries._url_rules_sql): a second literal of this
#: would silently desync the rule prefixes from the generated urls
URL_ROOT_SQL = "'https://host' || CAST(host_id AS STRING) || '.example.com/'"


def pages_sql(orders_table: str = "orders", mult: int = 1) -> str:
    """Shared Spark/DuckDB SQL deriving the pages table from ``orders``.

    ``mult`` > 1 fans every order row out into ``mult`` pages (bench
    scaling); correctness queries use mult=1. Columns:
    page_id, h1..h3, has_geo, lat_e5, lon_e5, host_id, url, warc_epoch,
    lang, html_str, text  (html binary is added Spark-side only).
    """
    if mult == 1:
        src = f"SELECT o_orderkey AS page_id FROM {orders_table}"
    else:
        # Spark and DuckDB lateral explode differ; bench (Spark-only)
        # uses this branch, oracles always use mult=1.
        src = (
            f"SELECT o_orderkey * {mult} + rep AS page_id FROM {orders_table} "
            f"LATERAL VIEW explode(sequence(0, {mult - 1})) t AS rep"
        )
    return f"""
WITH p0 AS ({src}),
p1 AS (
  SELECT page_id,
         (page_id * 1103515245 + 12345) % 2147483648 AS h1
  FROM p0
),
p2 AS (
  SELECT page_id, h1,
         (h1 * 1103515245 + 54321) % 2147483648 AS h2
  FROM p1
),
p3 AS (
  SELECT page_id, h1, h2,
         (h2 * 1103515245 + 99991) % 2147483648 AS h3
  FROM p2
),
p4 AS (
  SELECT page_id, h1, h2, h3,
         (h3 % 100) < 97 AS has_geo,
         CASE WHEN h3 % 10 < 3 THEN
           CASE h3 % 3 WHEN 0 THEN 6500000 WHEN 1 THEN 7000000 ELSE 7800000 END
             + h1 % 50000
         ELSE 6000000 + h1 % 2400000 END AS lat_e5,
         CASE WHEN h3 % 10 < 3 THEN
           CASE h3 % 3 WHEN 0 THEN -15000000 WHEN 1 THEN 2000000 ELSE 10000000 END
             + h2 % 50000
         ELSE (h2 % 36000000) - 18000000 END AS lon_e5,
         h1 % {N_HOSTS} AS host_id,
         1577836800 + (page_id * 9973) % {_WARC_WRAP} AS warc_epoch,
         CASE page_id % 6 WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
                          WHEN 3 THEN 'es' WHEN 4 THEN 'ru' ELSE 'zh' END AS lang
  FROM p3
)
SELECT page_id, h1, h2, h3, has_geo, lat_e5, lon_e5, host_id, warc_epoch, lang,
       CASE WHEN has_geo THEN
         {URL_ROOT_SQL} || 'geo/'
           || CAST(lat_e5 AS STRING) || ',' || CAST(lon_e5 AS STRING)
           || '/page-' || CAST(page_id AS STRING)
       ELSE
         {URL_ROOT_SQL} || 'about/page-'
           || CAST(page_id AS STRING)
       END AS url,
       CASE WHEN has_geo THEN
         '<html><head><title>page ' || CAST(page_id AS STRING)
           || '</title></head><body><p>geo ' || CAST(lat_e5 AS STRING) || ','
           || CAST(lon_e5 AS STRING) || '</p><p>lorem ipsum dolor '
           || CAST(page_id AS STRING) || '</p></body></html>'
       ELSE
         '<html><head><title>page ' || CAST(page_id AS STRING)
           || '</title></head><body><p>lorem ipsum dolor '
           || CAST(page_id AS STRING) || '</p></body></html>'
       END AS html_str,
       CASE WHEN has_geo THEN
         'page ' || CAST(page_id AS STRING) || chr(10) || 'geo '
           || CAST(lat_e5 AS STRING) || ',' || CAST(lon_e5 AS STRING) || chr(10)
           || 'lorem ipsum dolor ' || CAST(page_id AS STRING)
       ELSE
         'page ' || CAST(page_id AS STRING) || chr(10)
           || 'lorem ipsum dolor ' || CAST(page_id AS STRING)
       END AS text
FROM p4
"""


# ---------------------------------------------------------------------------
# patch catalog: 120 x 8 grid of 3-deg patches over the arctic band, each a
# bbox (expanded 0.5 deg so neighbors overlap, like STAC tiles overlap
# chunks — docs/how_it_works.md:42-46) + a diamond polygon + an optional
# validity window. 960 rows — always broadcastable.
# ---------------------------------------------------------------------------

N_PATCH_COLS = 120
N_PATCH_ROWS = 8
N_PATCHES = N_PATCH_COLS * N_PATCH_ROWS


def _patches_body(src: str) -> str:
    return f"""
WITH s AS ({src}),
g AS (
  SELECT i,
         i % {N_PATCH_COLS} AS pcol,
         CAST(floor(i / {N_PATCH_COLS}.0) AS BIGINT) AS prow
  FROM s
)
SELECT i AS patch_idx,
       'p_' || CAST(prow AS STRING) || '_' || CAST(pcol AS STRING) AS patch_id,
       prow, pcol,
       CAST(-180.0 + pcol * 3.0 AS DOUBLE) AS cminx,
       CAST(84.0 - prow * 3.0 - 3.0 AS DOUBLE) AS cminy,
       CAST(-180.0 + pcol * 3.0 + 3.0 AS DOUBLE) AS cmaxx,
       CAST(84.0 - prow * 3.0 AS DOUBLE) AS cmaxy,
       CAST(-180.0 + pcol * 3.0 - 0.5 AS DOUBLE) AS minx,
       CAST(84.0 - prow * 3.0 - 3.5 AS DOUBLE) AS miny,
       CAST(-180.0 + pcol * 3.0 + 3.5 AS DOUBLE) AS maxx,
       CAST(84.0 - prow * 3.0 + 0.5 AS DOUBLE) AS maxy,
       CAST(-180.0 + pcol * 3.0 + 1.5 AS DOUBLE) AS cx,
       CAST(84.0 - prow * 3.0 - 1.5 AS DOUBLE) AS cy,
       CAST(2.0 AS DOUBLE) AS rx,
       CAST(1.6 AS DOUBLE) AS ry,
       CASE WHEN i % 7 = 0 THEN CAST(NULL AS BIGINT)
            ELSE 1577836800 + (i % 40) * 2592000 END AS t_start_epoch,
       CASE WHEN i % 7 = 0 THEN CAST(NULL AS BIGINT)
            ELSE 1577836800 + (i % 40) * 2592000 + 7776000 END AS t_end_epoch
FROM g
"""


def patches_sql(dialect: str) -> str:
    """Patch catalog SQL; only the 0..959 row source is dialect-specific."""
    if dialect == "spark":
        src = f"SELECT id AS i FROM range({N_PATCHES})"
    elif dialect == "duckdb":
        src = f"SELECT range AS i FROM range({N_PATCHES})"
    else:
        raise ValueError(dialect)
    return _patches_body(src)


# ---------------------------------------------------------------------------
# Spark-side builders
# ---------------------------------------------------------------------------

#: session-conf key recording which sf_dir's views are registered on a
#: session — registration is *metadata* (lazy logical plans over the
#: parquet files; every query still scans the files), so re-deriving it
#: per query only re-pays schema reads + file listing for all 10 tables
#: (measured 1.3-4 s per call at local[32], once per headline query —
#: guide §5 "the driver should do almost no data work" / §6 listing
#: reuse). Keyed by sf_dir: a session that switches fixtures (the test
#: suite does) re-registers; so does one whose views were dropped.
_VIEWS_KEY = "smart_geocubes.base_views_dir"


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without Spark's schema inference,
    which runs one Spark job per call: a single-file table's schema
    comes from its footer, read on the driver, as Spark would infer it
    (a timestamp without a time zone is TIMESTAMP_NTZ under
    ``spark.sql.parquet.inferTimestampNTZ.enabled``). A directory is
    left to Spark."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return spark.read.schema(from_arrow_schema(pq.read_schema(path), ntz)).parquet(path)


def ensure_base_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver parquet tables as temp views (idempotent) and
    pin UTC so timestamp semantics match the DuckDB oracle. Repeat
    calls with the same ``sf_dir`` on the same session are no-ops while
    every view still exists (catalog lookups); a registration reads the
    tables' footers on the driver (:func:`read_table`) — no Spark job
    either way."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get(_VIEWS_KEY, None) == sf_dir and all(map(spark.catalog.tableExists, TABLES)):
        return
    for t in TABLES:
        read_table(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark.conf.set(_VIEWS_KEY, sf_dir)


def pages_df(
    spark: SparkSession, sf_dir: str, mult: int = 1, parallelism: int | None = None
) -> DataFrame:
    """The pages table as a DataFrame, with the mandated physical schema
    ``(url, warc_ts timestamp, html binary, text, lang)`` plus the
    derivation columns kept for tests.

    ``parallelism``: repartition the *source* before the mult fan-out —
    the driver parquet is one small file (one input split), so without
    this the explode runs in a single task. At production scale the
    Iceberg table's splits make this unnecessary."""
    ensure_base_views(spark, sf_dir)
    src = "orders"
    if parallelism:
        # same metadata-only registration cache as ensure_base_views
        # (the repartition exchange itself still runs in every query
        # that reads the view — only the schema read is reused)
        tag = f"{sf_dir}|{parallelism}"
        cached = spark.conf.get("smart_geocubes.orders_spread", None) == tag
        if not (cached and spark.catalog.tableExists("orders_spread")):
            read_table(spark, f"{sf_dir}/orders.parquet").repartition(
                parallelism
            ).createOrReplaceTempView("orders_spread")
            spark.conf.set("smart_geocubes.orders_spread", tag)
        src = "orders_spread"
    df = spark.sql(pages_sql(src, mult=mult))
    return df.selectExpr(
        "page_id",
        "h1", "h2", "h3", "has_geo", "lat_e5", "lon_e5", "host_id", "warc_epoch",
        "url",
        "timestamp_seconds(warc_epoch) AS warc_ts",
        "CAST(html_str AS BINARY) AS html",
        "text",
        "lang",
    )


def catalog_df(spark: SparkSession) -> DataFrame:
    return spark.sql(patches_sql("spark"))
