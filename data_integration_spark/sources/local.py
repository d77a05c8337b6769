"""Rows the driver already holds, as a Spark table with no Python worker.

``spark.createDataFrame(<python list>, ddl)`` parallelizes the rows as a
PythonRDD (``_createFromLocal`` → ``sc.parallelize`` → ``_reserialize``
adds ``map(lambda x: x)``), so every scan of the result starts Python
workers that unpickle the rows again, and a pandas frame takes that path
whenever it is empty or Arrow is switched off. ``local_table`` builds a
``pyarrow.Table`` against the Spark schema instead and hands it to
``createDataFrame``: the JVM reads the batches once on the driver and
the plan is a ``LocalRelation`` (``LocalTableScan``), which keeps the
driver's row order and runs no Python code. Above
``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by default)
Spark parallelizes the same Arrow batches in the JVM instead.

The path does not read ``spark.sql.execution.arrow.pyspark.enabled`` and
has no fallback: a value that does not fit its column's type raises.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier


def local_table(
    spark: SparkSession,
    rows: Iterable | pd.DataFrame,
    schema: StructType | str | None = None,
) -> DataFrame:
    """``rows`` as a Spark DataFrame of ``schema`` (a ``StructType`` or a
    DDL string), in the given row order.

    ``rows`` is either a pandas frame, whose columns are taken by name and
    whose NaN and None become NULL (pandas' missing-value rule, as on
    Spark's own Arrow path; without a ``schema`` the one that path infers
    from the dtypes), or an iterable of rows: mappings are read by
    field name, tuples, lists and ``Row`` objects by position, each row is
    type-checked as ``createDataFrame`` checks a list (an ``int`` is no
    ``double``, a ``float`` or ``bool`` no ``long``), and a float NaN stays
    NaN (only None is NULL)."""
    if schema is None:
        if not isinstance(rows, pd.DataFrame):
            raise ValueError("local_table needs a schema for a list of rows")
        schema = from_arrow_schema(pa.Schema.from_pandas(rows, preserve_index=False))
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    names = struct.names
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(
            rows[names], schema=arrow_schema, preserve_index=False
        )
    else:
        verify = _make_type_verifier(struct)
        columns: list[list] = [[] for _ in names]
        for row in rows:
            verify(row)
            values = [row[n] for n in names] if isinstance(row, Mapping) else row
            for col, v in zip(columns, values):
                col.append(v)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, struct)
