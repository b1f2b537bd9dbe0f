"""Driver-local DataFrames without the parallelize() Python-RDD path.

``spark.createDataFrame(list_of_tuples, ...)`` backs the frame with a
Python RDD split into ``defaultParallelism`` slices — every downstream
use schedules a 32-task stage in which each task round-trips through a
Python worker to deserialize a one-row slice. Profiling (r14) showed
these stages as the "run time high, JVM CPU ~0" pattern dominating the
ANN/index/lifecycle queries: ~0.3-0.5 s per use warm, 1-2 s cold, per
tiny centroid/query-literal frame.

``local_frame`` routes the same rows through a pandas DataFrame instead:
with Arrow enabled the driver serializes the batch once and the JVM
consumes it without any Python worker involvement (measured 6x faster in
a broadcast-probe loop at 32 cells x 64 dims). Accepts a DDL string or a
plain StructType (r15: the collected-rows re-frame pattern
``local_frame(spark, df.collect(), df.schema)`` previously fell back to
the 32-task parallelize path — profiled as ~50 s of summed zero-CPU task
wall in events_merge_on_read). Anything the pandas path cannot
faithfully represent falls back to the original ``createDataFrame``:

- non-list rows, shape mismatch (empty input goes through an empty
  Arrow table, so it plans as an empty ``LocalTableScan`` too);
- timestamp / struct / map / date / decimal fields (pandas coercions
  differ from the tuple path's);
- any float NaN cell: pandas→Arrow turns NaN into NULL while the tuple
  path keeps a NaN double — a value divergence (r14 ADVICE), so NaN
  rows take the tuple path;
- any cell the safe Arrow conversion refuses (the conversion runs under
  ``spark.sql.execution.pandas.convertToArrowArraySafely=true``, so a
  mistyped driver value — e.g. a float in a bigint column — raises
  inside the try and falls back to the tuple path's stricter
  verification instead of silently truncating; r14 ADVICE).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

_UNSAFE_DDL_TOKENS = ("timestamp", "struct<", "map<", "date", "decimal")
_SAFE_CONV = "spark.sql.execution.pandas.convertToArrowArraySafely"


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-local frame; drop-in for
    ``spark.createDataFrame(rows, schema)`` with a string DDL schema or
    a StructType."""
    from pyspark.sql.types import StructType

    if not isinstance(rows, (list, tuple)):
        return spark.createDataFrame(rows, schema)
    if isinstance(schema, str):
        low = schema.lower()
        if any(t in low for t in _UNSAFE_DDL_TOKENS):
            return spark.createDataFrame(rows, schema)
        try:
            from pyspark.sql.types import _parse_datatype_string

            st = _parse_datatype_string(schema)
        except Exception:
            return spark.createDataFrame(rows, schema)
    elif isinstance(schema, StructType):
        st = schema
        # check FIELD types (the root StructType itself always renders
        # as struct<...>); a nested struct/map/timestamp field anywhere
        # in a field's type string still falls back
        if any(
            t in f.dataType.simpleString().lower()
            for f in st.fields
            for t in _UNSAFE_DDL_TOKENS
        ):
            return spark.createDataFrame(rows, schema)
    else:
        return spark.createDataFrame(rows, schema)
    try:
        import pandas as pd

        if not rows:
            # an empty Arrow table plans as an empty LocalTableScan; the
            # pandas path would refuse the empty frame and parallelize
            from pyspark.sql.pandas.types import to_arrow_schema

            return spark.createDataFrame(to_arrow_schema(st).empty_table(), schema=st)
        names = [f.name for f in st.fields]
        first = rows[0]
        if not isinstance(first, (tuple, list)) or len(first) != len(names):
            return spark.createDataFrame(rows, schema)
        for r in rows:
            for v in r:
                if isinstance(v, float) and math.isnan(v):
                    # NaN would silently become NULL on the Arrow path
                    return spark.createDataFrame(rows, schema)
        pdf = pd.DataFrame.from_records(list(rows), columns=names)
        prev = spark.conf.get(_SAFE_CONV, "false")
        spark.conf.set(_SAFE_CONV, "true")
        try:
            return spark.createDataFrame(pdf, schema=st)
        finally:
            spark.conf.set(_SAFE_CONV, prev)
    except Exception:
        return spark.createDataFrame(rows, schema)
