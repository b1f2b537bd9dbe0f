"""Driver-local DataFrames, built one way: a typed Arrow table.

``local_frame(spark, rows, schema)`` returns what
``spark.createDataFrame(rows, schema)`` returns for a list of driver rows,
but never through the ``parallelize()`` Python RDD (``Scan ExistingRDD``),
whose every use runs a task per slice through a Python worker. Every
input takes the same path:

- the check: each row goes through the tuple path's own verifier
  (``_make_type_verifier``), so a float in a bigint column, a NULL in a
  non-nullable field or a wrong arity raises here as it does there;
- the conversion: the tuple path's own converter and ``toInternal``, so
  tuples and Rows map by position, dicts by name, and timestamps and
  dates become the same internal values;
- the transport: one ``pyarrow.Table`` against ``to_arrow_schema(schema)``,
  handed to ``createDataFrame``, which plans it as a ``LocalTableScan``.
  Arrow keeps a NaN double as NaN, and empty input is an empty table.

A DDL-string schema is parsed (a py4j round trip) once per distinct
string: call sites pass constants.
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StructType, _create_converter, _make_type_verifier, _parse_datatype_string,
)


@lru_cache(maxsize=256)
def _parse_ddl(ddl: str) -> StructType:
    return _parse_datatype_string(ddl)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as one Arrow table: ``rows``
    are tuples, Rows or dicts, ``schema`` a DDL string or a StructType."""
    st = _parse_ddl(schema) if isinstance(schema, str) else schema
    verify, convert = _make_type_verifier(st), _create_converter(st)
    internal = []
    for row in rows:
        verify(row)
        internal.append(st.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(st)
    columns = zip(*internal) if internal else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(columns, arrow_schema.types)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=st)
