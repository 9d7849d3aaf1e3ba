"""Fused page-prep kernel: ONE Arrow-native Python hop, one task per slot.

Chaining separate pandas UDFs (extract_text -> geoparse -> cell encode)
creates one ArrowEvalPython node — i.e. one Python worker + one Arrow
round trip — per UDF per task (observed: 4 chained nodes = 128 worker
processes at local[32], 6x slowdown). For the hot path the engine fuses
the whole per-page kernel into a single ``mapInArrow``: url -> lat/lon
(the shared RE2 parse, ``geoparse.parse_latlon_np``), html -> text for
the kept rows only, lon/lat -> Morton cell, all inside one Arrow batch
visit and with no pandas in it. The individual operators remain
available for composition and for per-operator oracle checks; this is
the physical fusion the reference gets for free inside one thread
(``download_patch`` does all per-patch work in one call,
``core/backend.py:274-293``).

Each Python task pays a fixed ~0.15-0.25 CPU-s before its first row
(SCALE.md, "Per-task Python init"), so the input is narrowed to the
session's task slots with a ``coalesce`` before the hop: a narrow
dependency, so no exchange is added and no html is shuffled, and a
frame with fewer partitions keeps its count.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from smart_geocubes_spark.geo.cells import cell_encode
from smart_geocubes_spark.operators.geoparse import parse_latlon_np
from smart_geocubes_spark.text.extract import extract_text

PREP_SCHEMA = pa.schema(
    [
        ("page_id", pa.int64()),
        ("text_len", pa.int64()),
        ("lat", pa.float64()),
        ("lon", pa.float64()),
        ("cell12", pa.int64()),
        ("warc_epoch", pa.int64()),
    ]
)


def _prep_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for b in batches:
        lat, lon, has = parse_latlon_np(b.column("url"))
        # subset FIRST: the kernel drops no-geo rows, and extract_text
        # (HTML parse per page) dominates the batch cost — running it
        # on rows that are discarded one line later is pure waste on
        # mostly-no-geo corpora
        keep = pa.array(np.flatnonzero(has))
        text_len = np.fromiter(
            (len(extract_text(h)) for h in b.column("html").take(keep).to_pylist()),
            dtype=np.int64,
            count=len(keep),
        )
        lat_k, lon_k = lat[has], lon[has]
        yield pa.RecordBatch.from_arrays(
            [
                b.column("page_id").take(keep),
                pa.array(text_len),
                pa.array(lat_k),
                pa.array(lon_k),
                pa.array(cell_encode(lon_k, lat_k, 12), type=pa.int64()),
                b.column("warc_epoch").take(keep),
            ],
            schema=PREP_SCHEMA,
        )


def prep_pages(pages: DataFrame) -> DataFrame:
    """pages (page_id, url, html, warc_epoch) -> geoparsed+encoded
    points in one fused Arrow pass over at most one task per slot;
    drops no-geo rows."""
    slots = pages.sparkSession.sparkContext.defaultParallelism
    return (
        pages.select("page_id", "url", "html", "warc_epoch")
        .coalesce(slots)
        .mapInArrow(_prep_batches, schema=from_arrow_schema(PREP_SCHEMA))
    )
