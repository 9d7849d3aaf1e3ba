"""Driver-built frames: rows computed on the driver (a fill's chunk plan,
a catalog's cell explode, a kNN query disk, a channel list) enter Spark
as ONE Arrow table — a JVM ``LocalTableScan`` leaf.

``spark.createDataFrame(<pandas|list>)`` takes PySpark's pickled path
unless ``spark.sql.execution.arrow.pyspark.enabled`` is set (it is off
by default): a ``Scan ExistingRDD`` leaf that runs one Python-worker
task per ``defaultParallelism`` slot every time the frame is evaluated,
under a second Python worker daemon. A ``pyarrow.Table`` always takes
the Arrow path, whatever that conf says, so :func:`local_frame` is the
one way the engine turns driver rows into a frame.

Format contract — the pickled path's results, kept exactly:
- a float NaN stays NaN, also inside array cells (``Table.from_pandas``
  would turn it into null); ``None`` is null;
- without a schema, every integer column is ``bigint`` and every float
  column ``double`` (the pickled path infers from Python ints/floats);
- with a schema (DDL string or ``StructType``), columns map to its
  fields by POSITION, as the pickled path does.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def _arrow_column(s: pd.Series, widen: bool) -> pa.Array:
    if isinstance(s.dtype, pd.api.extensions.ExtensionDtype):
        return pa.array(s)  # masked dtypes: pd.NA -> null
    # from_pandas=False: NaN stays NaN (nested ones too), None is null
    arr = pa.array(s.to_numpy(), from_pandas=False)
    if widen and pa.types.is_integer(arr.type):
        return arr.cast(pa.int64())
    if widen and pa.types.is_floating(arr.type):
        return arr.cast(pa.float64())
    return arr


def local_frame(
    spark: SparkSession,
    pdf: pd.DataFrame | Sequence[tuple],
    schema: str | StructType | None = None,
) -> DataFrame:
    """``pdf`` (a pandas frame, or row tuples when ``schema`` is given)
    as a Spark frame over a ``LocalTableScan`` — no Python task when it
    is evaluated. See the module docstring for the format contract."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if not isinstance(pdf, pd.DataFrame):
        if schema is None:
            raise ValueError("row tuples need a schema")
        pdf = pd.DataFrame(list(pdf), columns=schema.names)
    if schema is not None and pdf.empty:
        table = to_arrow_schema(schema).empty_table()
    else:
        names = schema.names if schema is not None else [str(c) for c in pdf.columns]
        cols = [_arrow_column(pdf.iloc[:, i], schema is None) for i in range(pdf.shape[1])]
        table = pa.Table.from_arrays(cols, names=names)
    return spark.createDataFrame(table, schema)
