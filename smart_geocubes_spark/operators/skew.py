"""Explicit skew handling: salted two-level aggregation.

North-rule requirement ("skew from dense web regions is handled
explicitly with salted repartitioning on cell prefix"). The fixture
pages table is deliberately Zipfian-ish: ~30% of pages live in 3 dense
clusters (FIXTURES.md), so a plain groupBy on a cell/host key ships
the hot keys to single reducers.

Pattern: stage 1 groups by (key, salt = pmod(hash(row_id), S)) — hot
keys split S ways, partial aggregate map-side combines; stage 2 merges
the S partials per key. Result is identical to the plain groupBy
(verified by the DuckDB oracle), but no reducer sees more than 1/S of a
hot key. AQE skew-join splitting (spark.sql.adaptive.skewJoin) covers
the join-side equivalent at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count_sum(
    df: DataFrame, key: str, salt_src: str, n_salts: int = 16, sum_col: str | None = None
) -> DataFrame:
    """Two-level agg: count(*) (+ optional integer sum) per ``key``,
    salted on ``pmod(hash(salt_src), n_salts)``."""
    salted = df.withColumn("_salt", F.pmod(F.hash(F.col(salt_src)), F.lit(n_salts)))
    partial_aggs = [F.count("*").alias("_pc")]
    if sum_col:
        partial_aggs.append(F.sum(sum_col).alias("_ps"))
    partial = salted.groupBy(key, "_salt").agg(*partial_aggs)
    final_aggs = [F.sum("_pc").cast("long").alias("n")]
    if sum_col:
        final_aggs.append(F.sum("_ps").cast("long").alias(f"sum_{sum_col}"))
    return partial.groupBy(key).agg(*final_aggs)

