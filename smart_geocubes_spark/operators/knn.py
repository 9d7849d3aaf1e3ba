"""kNN lookup with cell-ring expansion + exactness fallback.

North-rule operator ("kNN tile lookups with cell-ring expansion").
Strategy for huge point tables x small query sets:

1. assign every point a coarse grid cell (pure column math, no UDF);
2. explode each query onto the (2R+1)^2 cell disk around its own cell
   (driver-side numpy — queries are small by contract) and BROADCAST;
3. hash equi-join points on cell -> candidates; squared distance as a
   JVM column; ``row_number`` over (d2, id) per query -> provisional
   top-k (tie-broken deterministically);
4. exactness guarantee: any point outside the searched disk is at
   least R*cell_size away (Chebyshev bound), so a query whose kth
   provisional distance d_k satisfies d_k < R*cell_size is EXACT.
   Queries that fail the bound (sparse neighborhoods) fall back to a
   brute-force broadcast cross join — correct for any distribution,
   and at scale the fallback set is a tiny fraction.

This is the pruning shape of distributed stream kNN-join literature
(see PAPERS.md) re-expressed as two DataFrame joins + one window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smart_geocubes_spark.sources.local import local_frame


def _cell_cols(lon_col, lat_col, cell_deg: float):
    cx = F.floor((lon_col + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    cy = F.floor((F.lit(90.0) - lat_col) / F.lit(cell_deg)).cast("long")
    return cx, cy


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("point_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("point_id").alias("neighbor_id"), "rank", "d2")
    )


def distance_join(
    points: DataFrame,
    queries: DataFrame,
    radius: float,
    cell_deg: float = 1.0,
    exclude_self: bool = True,
) -> DataFrame:
    """Distance-band (threshold) spatial join: all (query, point) pairs
    with Euclidean degree-distance <= ``radius``. The fixed-radius
    sibling of :func:`knn_join`: queries explode onto the 3x3 cell disk
    around their own cell (JVM explode — COVERAGE GUARANTEE: any point
    within radius <= cell_deg lies in that disk, asserted) and
    broadcast; points compute one cell, hash equi-join, exact d2
    filter. Big side: one pass, no shuffle beyond the broadcast join.

    ``exclude_self=True`` (default) drops pairs with point_id == qid —
    a SHARED-ID-SPACE contract for self-joins (queries drawn from the
    point set). Pass ``exclude_self=False`` when queries and points
    have unrelated id spaces, where a coincidental id match is a
    legitimate pair."""
    assert radius <= cell_deg, "3x3 disk only covers radius <= cell_deg"
    pcx, pcy = _cell_cols(F.col("lon"), F.col("lat"), cell_deg)
    pts = points.select("point_id", "lon", "lat", pcx.alias("cx"), pcy.alias("cy"))
    qcx, qcy = _cell_cols(F.col("qx"), F.col("qy"), cell_deg)
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    disk = (
        queries.select("qid", "qx", "qy", qcx.alias("qcx"), qcy.alias("qcy"))
        .withColumn("o", F.explode(offs))
        .select(
            "qid",
            "qx",
            "qy",
            (F.col("qcx") + F.col("o.dx")).alias("cx"),
            (F.col("qcy") + F.col("o.dy")).alias("cy"),
        )
    )
    d2 = (F.col("lon") - F.col("qx")) * (F.col("lon") - F.col("qx")) + (
        F.col("lat") - F.col("qy")
    ) * (F.col("lat") - F.col("qy"))
    joined = pts.join(F.broadcast(disk), ["cx", "cy"], "inner")
    if exclude_self:
        joined = joined.filter(F.col("point_id") != F.col("qid"))
    return joined.filter(d2 <= F.lit(radius * radius)).select("qid", "point_id")


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries_pdf: pd.DataFrame,
    k: int = 5,
    cell_deg: float = 0.5,
    radius_cells: int = 2,
) -> DataFrame:
    """EXACT kNN of each query point over ``points`` (cols: point_id,
    lon, lat). ``queries_pdf``: pandas (qid, qx, qy) — small. Returns
    (qid, neighbor_id, rank)."""
    # 1. points -> cells (JVM column math)
    pcx, pcy = _cell_cols(F.col("lon"), F.col("lat"), cell_deg)
    pts = points.select(
        F.col("point_id"), F.col("lon"), F.col("lat"), pcx.alias("cx"), pcy.alias("cy")
    )

    # 2. query disk cells (driver-side numpy; |Q| * (2R+1)^2 rows)
    qx = queries_pdf["qx"].to_numpy(dtype=np.float64)
    qy = queries_pdf["qy"].to_numpy(dtype=np.float64)
    qcx = np.floor((qx + 180.0) / cell_deg).astype(np.int64)
    qcy = np.floor((90.0 - qy) / cell_deg).astype(np.int64)
    r = np.arange(-radius_cells, radius_cells + 1, dtype=np.int64)
    dx, dy = np.meshgrid(r, r)
    dx, dy = dx.ravel(), dy.ravel()
    n_q, n_off = len(queries_pdf), len(dx)
    disk = pd.DataFrame(
        {
            "qid": np.repeat(queries_pdf["qid"].to_numpy(), n_off),
            "qx": np.repeat(qx, n_off),
            "qy": np.repeat(qy, n_off),
            "cx": (np.repeat(qcx, n_off) + np.tile(dx, n_q)),
            "cy": (np.repeat(qcy, n_off) + np.tile(dy, n_q)),
        }
    )
    disk_df = F.broadcast(local_frame(spark, disk))

    # 3. candidates via hash equi-join on (cx, cy)
    d2 = (F.col("lon") - F.col("qx")) * (F.col("lon") - F.col("qx")) + (
        F.col("lat") - F.col("qy")
    ) * (F.col("lat") - F.col("qy"))
    cand = pts.join(disk_df, ["cx", "cy"], "inner").withColumn("d2", d2)
    # provisional top-k feeds two consumers (the bound stats and the
    # result); localCheckpoint materializes it once (|Q|*k rows, executor
    # storage) so the candidate join+window doesn't run twice, with no
    # explicit unpersist to leak.
    prov = _topk(cand, k).localCheckpoint(eager=True)
    # 4. exactness bound: kth distance must beat the unexplored region.
    # Only the per-qid STATS (|Q| rows) come to the driver — the top-k
    # rows themselves stay distributed (a toPandas/createDataFrame
    # round-trip here would make the exact path driver-memory-bound in
    # |Q|*k). Filter on NOT-IN the FAILED set: typically almost every
    # query passes the bound, so the failed list is the tiny literal
    # (an In-list over `ok` would serialize thousands of ids into the
    # plan and scan them per row); no filter at all when nothing failed.
    bound = (radius_cells * cell_deg) ** 2
    stats = (
        prov.groupBy("qid")
        .agg(F.max("d2").alias("dk"), F.count("*").alias("n"))
        .collect()
    )
    ok = {r_.qid for r_ in stats if r_.n >= k and r_.dk < bound}
    failed = [q for q in queries_pdf["qid"] if q not in ok]

    exact = prov.select("qid", "neighbor_id", "rank")
    if not failed:
        return exact
    exact = exact.filter(~F.col("qid").isin([int(q) for q in failed]))

    # fallback: brute force for the (few) unguaranteed queries
    fq = queries_pdf[queries_pdf["qid"].isin(failed)]
    fq_df = F.broadcast(local_frame(spark, fq))
    fcand = points.select("point_id", "lon", "lat").crossJoin(fq_df).withColumn("d2", d2)
    fexact = _topk(fcand, k).select("qid", "neighbor_id", "rank")
    return exact.unionByName(fexact)
