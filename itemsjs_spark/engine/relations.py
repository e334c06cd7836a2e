"""Driver-side relations planned as JVM-local scans.

``spark.createDataFrame(<python list>)`` plans as ``Scan ExistingRDD``
over a pickled Python RDD: every action that reads it starts
``defaultParallelism`` Python worker tasks — even for an empty list —
and each PySpark task carries a fixed start-up cost that dwarfs the few
rows it ships. ``local_relation`` ships the rows as one Arrow table
instead, which Spark plans as a ``LocalTableScan``: the rows live in the
plan itself, a broadcast of them needs no job, and no Python worker is
ever involved. The Arrow path is taken whatever the session's
``spark.sql.execution.arrow.pyspark.enabled`` setting is (a
``pyarrow.Table`` input always converts through Arrow).

Use it for every small relation the driver builds on a request path
(term weights, top-k heaps, tombstone sets, empty results).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Any, Iterable, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


@lru_cache(maxsize=256)
def _struct_of(ddl: str) -> StructType:
    st = _parse_datatype_string(ddl)
    if not isinstance(st, StructType):
        raise ValueError(f"schema must describe a struct: {ddl!r}")
    return st


def local_relation(
    spark: SparkSession,
    rows: Iterable[Sequence[Any]],
    schema: Union[str, StructType],
) -> DataFrame:
    """DataFrame of ``rows`` (tuples in ``schema`` field order) planned as
    a ``LocalTableScan``. ``schema`` is a DDL string or a StructType;
    ``rows`` may be empty."""
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _struct_of(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    if any(len(r) != len(arrow_schema) for r in rows):
        raise ValueError(f"every row needs {len(arrow_schema)} values")
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
