"""Geoparse + text-extraction operators (Arrow pandas UDFs, batched).

Role analog in the reference: turning a user ROI into cube-CRS
coordinates before grid math (``core/accessor.py:372-373``). Here the
"ROI" is a web page: coordinates are parsed out of the url (FIXTURES.md
embeds them as integer micro-degrees) and the text is extracted from
html by the frozen extractor (byte-identical invariant, input_hint).

No per-row Python: regex extraction uses pandas' vectorized ``.str``
ops over each Arrow batch; html decoding is a per-batch list
comprehension over bytes (pure function, no Python object churn in the
plan itself).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smart_geocubes_spark.text.extract import extract_text

_GEO_URL_RE = r"/geo/(-?\d+),(-?\d+)/"
# the same pattern with its groups named, as ``pc.extract_regex`` needs
_GEO_URL_NAMED = re.sub(
    r"\((?!\?)", lambda g, names=iter(("lat", "lon")): f"(?P<{next(names)}>", _GEO_URL_RE
)

# pandas_udf with a DDL-string return type needs an active session to
# parse it, so UDFs are built lazily and memoized per process.
_UDF_CACHE: dict[str, object] = {}


def geoparse_url():
    """url -> (lat_e5, lon_e5, has_geo). Vectorized regex per batch."""
    if "geoparse" not in _UDF_CACHE:

        @F.pandas_udf("lat_e5 bigint, lon_e5 bigint, has_geo boolean")
        def _udf(url: pd.Series) -> pd.DataFrame:
            ext = url.str.extract(_GEO_URL_RE)
            lat = pd.to_numeric(ext[0], errors="coerce")
            lon = pd.to_numeric(ext[1], errors="coerce")
            has = lat.notna() & lon.notna()
            return pd.DataFrame(
                {"lat_e5": lat.astype("Int64"), "lon_e5": lon.astype("Int64"), "has_geo": has}
            )

        # The parse IS pure, but Catalyst treats deterministic UDFs as
        # free to duplicate: it pushes dependent filters below exchanges
        # and re-evaluates the UDF per consumer (observed: geoparse ran
        # twice, once in the serial pre-shuffle stage). Nondeterministic
        # pins one evaluation at its plan position.
        _UDF_CACHE["geoparse"] = _udf.asNondeterministic()
    return _UDF_CACHE["geoparse"]


def extract_text_udf():
    """FROZEN extractor over html bytes (see text/extract.py)."""
    if "extract" not in _UDF_CACHE:

        @F.pandas_udf("string")
        def _udf(html: pd.Series) -> pd.Series:
            return pd.Series([extract_text(h) for h in html], dtype="object")

        # see geoparse_url: prevent Catalyst duplicating the Python eval
        _UDF_CACHE["extract"] = _udf.asNondeterministic()
    return _UDF_CACHE["extract"]


def geoparsed_points(pages: DataFrame) -> DataFrame:
    """pages -> (page_id, lat, lon, warc_epoch, host_id) for rows whose
    url carries coordinates. lat/lon as float64 degrees.

    Deliberately a pandas-UDF parse, NOT JVM ``regexp_extract``
    (measured r6, guide §1 "measure first"): the vectorized
    ``.str.extract`` runs ONCE per row inside one ArrowEvalPython node
    whose output columns are MATERIALIZED, so every downstream
    consumer (join keys, tile floor math, extent filters) reads a
    concrete double. The JVM-expression variant inlines the parse into
    every referencing expression (Filter re-evaluates it, CollapseProject
    duplicates it into tile_x/tile_y/tile_id/extent predicates) and
    the resulting mega-stage measured 2-5x SLOWER on every headline
    shape (sjb 0.83 s UDF vs 4.15 s JVM; asof 0.89 vs 1.77; geoparse
    0.48 vs 1.42 — min-of-3, local[32], sf0.1). One Arrow hop that
    pins a single evaluation beats codegen that evaluates six times."""
    g = pages.withColumn("g", geoparse_url()(F.col("url")))
    return (
        g.filter(F.col("g.has_geo"))
        .select(
            "page_id",
            (F.col("g.lat_e5") / F.lit(100000.0)).alias("lat"),
            (F.col("g.lon_e5") / F.lit(100000.0)).alias("lon"),
            "warc_epoch",
            "host_id",
        )
    )


def parse_latlon_np(url):
    """THE shared url -> (lat, lon, has) parse for every fused Arrow
    kernel: numpy float64 degrees (NaN where ``has`` is False) from any
    ``url`` that ``pa.array`` accepts (a pandas Series, an Arrow string
    array). One definition: a second copy of this float path is an
    oracle-parity desync waiting to happen, exactly like a second copy
    of ``_GEO_URL_RE`` (see operators/tiles.py and operators/prep.py).

    The regex runs in Arrow's RE2, whose ``\\d`` is ASCII-only like
    Java's (Spark's ``regexp_extract``) and DuckDB's; Python's ``re``
    also matches non-ASCII digits. A match's digits are cast to int64
    and then to float64 and divided by 1e5: the same IEEE double the
    JVM path computes as ``CAST(.. AS BIGINT) / 100000.0``, so ``-0``
    gives +0.0 (a direct string -> float64 cast gives -0.0)."""
    m = pc.extract_regex(pa.array(url, type=pa.string()), _GEO_URL_NAMED)
    valid = m.is_valid()
    has = valid.to_numpy(zero_copy_only=False)
    # a non-matching row's children hold "", which no cast accepts:
    # only the matches are cast
    m = m.filter(valid)
    lat = np.full(len(has), np.nan)
    lon = np.full(len(has), np.nan)
    lat[has] = _e5_degrees(m.field("lat"))
    lon[has] = _e5_degrees(m.field("lon"))
    return lat, lon, has


def _e5_degrees(digits: pa.Array) -> np.ndarray:
    return digits.cast(pa.int64()).to_numpy().astype(np.float64) / 1e5
