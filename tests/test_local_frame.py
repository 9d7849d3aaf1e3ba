"""``sources.local_frame``: driver rows enter Spark as an Arrow table.

Every case is checked against PySpark's pickled ``createDataFrame``
path, the one the engine used before: same ``collect()`` rows (NaN
compared as NaN) and the same schema."""

from __future__ import annotations

import ast
import math
import os

import numpy as np
import pandas as pd
import pytest

from smart_geocubes_spark.sources import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "smart_geocubes_spark")


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "<nan>"
    if isinstance(v, list):
        return [_cell(x) for x in v]
    return v


def _rows(df):
    return [[_cell(v) for v in r] for r in df.collect()]


CASES = {
    "nan_stays_nan": (pd.DataFrame({"x": [1.5, np.nan, -0.0]}), None),
    "none_is_null": (pd.DataFrame({"s": ["a", None], "o": pd.Series([2.5, None], dtype=object)}), None),
    "int_widths": (
        pd.DataFrame({
            "i32": np.array([1, -2], dtype=np.int32),
            "i64": np.array([2**40, 3], dtype=np.int64),
            "f32": np.array([0.5, np.nan], dtype=np.float32),
        }),
        None,
    ),
    "int_widths_schema": (
        pd.DataFrame({"a": np.array([7, 8], dtype=np.int64), "b": np.array([1, 2], dtype=np.int32)}),
        "a int, b long",
    ),
    "ddl_positional": (pd.DataFrame({"p": [1, 2], "q": ["u", "v"]}), "tile_id long, channel string"),
    "empty_frame": (
        pd.DataFrame({"x": pd.Series([], dtype="int64"), "y": pd.Series([], dtype=object)}),
        "x long, y string",
    ),
    "empty_rows": ([], "x long, y string, z array<double>"),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_local_frame_matches_pickled_path(spark, name):
    pdf, schema = CASES[name]
    ref = spark.createDataFrame(pdf, schema) if schema else spark.createDataFrame(pdf)
    got = local_frame(spark, pdf, schema)
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)


def test_local_frame_array_column(spark):
    """An object column of numpy arrays becomes ``array<double>``, NaN
    elements included; the pickled path takes the same values as lists
    (it rejects numpy elements)."""
    arrs = [np.array([1.0, np.nan]), np.array([], dtype=np.float64), None]
    lists = [None if a is None else a.tolist() for a in arrs]
    ref = spark.createDataFrame(pd.DataFrame({"v": lists}), "v array<double>")
    got = local_frame(spark, pd.DataFrame({"v": arrs}), "v array<double>")
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref) == [[[1.0, "<nan>"]], [[]], [None]]
    # no schema: inferred from the elements, as the pickled path does
    # from the same values as lists
    inferred = local_frame(spark, pd.DataFrame({"v": arrs}))
    assert inferred.schema == spark.createDataFrame(pd.DataFrame({"v": lists})).schema


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, pd.DataFrame({"x": [1, 2]}))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_driver_frames_go_through_local_frame():
    """``createDataFrame`` is called in the package only by the helper:
    any other call takes the pickled path again."""
    calls = []
    for root, _, files in os.walk(PKG):
        for fn in sorted(f for f in files if f.endswith(".py")):
            p = os.path.join(root, fn)
            with open(p) as f:
                tree = ast.parse(f.read())
            calls += [
                f"{os.path.relpath(p, PKG)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
            ]
    assert len(calls) == 1 and calls[0].startswith("sources/local.py:"), calls
