"""Driver-side rows as a Spark frame.

``spark.createDataFrame(<list of rows>)`` plans a ``Scan ExistingRDD``
over a Python RDD, so every action on it starts Python workers. A query
that collects a small result and returns it as a frame uses
:func:`local_frame` instead: the rows become one inline ``VALUES`` table,
whose plan is a ``LocalTableScan`` that the JVM answers without Python
workers (a ``collect()`` runs no job at all).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def sql_literal(v) -> str:
    """A Python value as Spark SQL literal text; floats are DOUBLE
    literals and strings are escaped, so the value parses back exactly."""
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str
) -> DataFrame:
    """``rows`` as a frame with the DDL ``schema`` (``"name type, ..."``)
    whose plan is a ``LocalTableScan``. Each column is cast to its
    declared type; an empty ``rows`` gives an empty frame."""
    fields = StructType.fromDDL(schema).fields
    rows = [tuple(r) for r in rows]
    where = ""
    if not rows:
        rows, where = [(None,) * len(fields)], " WHERE false"
    values = ", ".join("(" + ", ".join(map(sql_literal, r)) + ")" for r in rows)
    cols = ", ".join(f"c{i}" for i in range(len(fields)))
    select = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS `{f.name}`" for i, f in enumerate(fields)
    )
    return spark.sql(f"SELECT {select} FROM VALUES {values} AS t({cols}){where}")
