"""Local replica of the driver's Spark-vs-DuckDB correctness gate.

The driver compares row count + schema (column names) + an
order-insensitive value hash. We reproduce that: sort columns by name,
canonicalize every cell to a string (floats via shortest-roundtrip
repr, NaN/None normalized), sort rows, compare the full multiset.

Also :func:`spark_jobs`, the job counter that pins a code path's Spark
job budget, and :func:`spark_conf`, which sets runtime confs for a block.
"""

from __future__ import annotations

import math
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

import duckdb
import numpy as np
import pandas as pd

from smart_geocubes_spark.sources.synth import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the driver's pre-registered views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "<nan>"
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Return list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"schema mismatch: spark={sc} duck={dc}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count mismatch: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_rows = canonical_rows(spark_pdf)
    d_rows = canonical_rows(duck_pdf)
    if s_rows != d_rows:
        only_s = [r for r, t in zip(s_rows, d_rows) if r != t][:3]
        diff_count = sum(1 for r, t in zip(s_rows, d_rows) if r != t) + abs(
            len(s_rows) - len(d_rows)
        )
        problems.append(
            f"value mismatch on {diff_count} aligned rows; first spark-side diffs: {only_s}"
        )
    return problems


def run_gate(spark, sf_dir: str, name: str, query_fn, oracle: str | None) -> list[str]:
    df = query_fn(spark, sf_dir)
    # Driver-canonicalizer contract: the driver sorts result rows with
    # pandas sort_values, which cannot factorize list cells — an
    # array/struct/map output column crashes the driver gate even when
    # values match (r4: inverted_index, the one red row). Enforce
    # registry-wide here so the replica can never silently pass a
    # contract the driver would reject.
    complex_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("array", "struct", "map")
    ]
    if complex_cols:
        return [
            f"complex-typed output columns {complex_cols} violate the "
            "driver canonicalizer contract (join arrays to strings)"
        ]
    spark_pdf = df.toPandas()
    if oracle is None:
        return [] if len(spark_pdf) >= 0 else ["unreachable"]
    con = duckdb_connection(sf_dir)
    try:
        duck_pdf = con.execute(oracle).df()
    finally:
        con.close()  # no leak when the oracle itself raises
    return compare_frames(spark_pdf, duck_pdf)


@contextmanager
def spark_jobs(spark) -> Iterator[list[list[str]]]:
    """Yield a list that, once the ``with`` block exits, holds one
    entry per Spark job the CALLING thread ran inside it: the names of
    the job's stages (``"collect at <file>:<line>"``, ...). Counted
    through a job group, so jobs other threads submit are not in it."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    jobs: list[list[str]] = []
    sc.setJobGroup(group, "spark_jobs")
    try:
        yield jobs
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
        # the status store is fed by the async listener bus: drain it
        # so the last job of the block is already recorded
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job_id)
            stages = [tracker.getStageInfo(s) for s in (info.stageIds if info else [])]
            jobs.append([st.name for st in stages if st is not None])


@contextmanager
def spark_conf(spark, confs: dict[str, str]) -> Iterator[None]:
    """Set the runtime ``confs`` for the ``with`` block, then restore
    each to its previous value (or unset it)."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
