"""Focused pins for functions/localframe.py, the one way the engine turns
driver rows into a DataFrame.

Two contracts matter: (1) every input returns exactly the rows and schema
``spark.createDataFrame(rows, schema)`` returns (NULLs, arrays, NaN,
timestamps, dict rows), and raises where it raises; (2) every input plans
as a ``LocalTableScan``, never a ``parallelize()``-backed ``ExistingRDD``."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.errors.exceptions.base import PySparkValueError

from cargo_chat_spark.functions.localframe import local_frame

_SCHEMA = "cell int, score double, name string, vec array<double>"
_ROWS = [
    (0, 1.5, "a", [1.0, 2.0]),
    (1, -0.25, None, [0.0]),
    (2, 0.0, "c", None),
]


def _collect_sorted(df):
    return sorted([tuple(r) for r in df.collect()])


def _assert_local_table_scan(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no parallelize()-backed scan, no Python workers
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan


def test_arrow_path_matches_createdataframe(spark):
    got = local_frame(spark, _ROWS, _SCHEMA)
    ref = spark.createDataFrame(_ROWS, _SCHEMA)
    assert got.schema == ref.schema
    assert _collect_sorted(got) == _collect_sorted(ref)


def test_arrow_path_plans_without_python_rdd(spark):
    _assert_local_table_scan(local_frame(spark, _ROWS, _SCHEMA))


def test_empty_rows_keep_the_schema(spark):
    df = local_frame(spark, [], _SCHEMA)
    assert df.schema == spark.createDataFrame([], _SCHEMA).schema
    assert df.count() == 0


def test_timestamp_rows_match_createdataframe(spark):
    schema = "id int, ts timestamp"
    rows = [(1, datetime.datetime(2024, 1, 2, 3, 4, 5))]
    got = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert _collect_sorted(got) == _collect_sorted(ref)


def test_structtype_schema_and_arity_mismatch_match_createdataframe(spark):
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    st = StructType([StructField("x", IntegerType())])
    got = local_frame(spark, [(7,)], st)  # non-string schema object
    assert _collect_sorted(got) == [(7,)]

    # row arity != schema arity: the original path RAISES; local_frame
    # must surface the same error, not silently truncate
    rows = [(1, 2.0, "extra")]
    with pytest.raises(PySparkValueError):
        spark.createDataFrame(rows, "a int, b double").collect()
    with pytest.raises(PySparkValueError):
        local_frame(spark, rows, "a int, b double").collect()


def test_structtype_schema_takes_arrow_path(spark):
    # collected-Row re-framing: local_frame(spark, df.collect(), df.schema)
    ref = spark.createDataFrame(_ROWS, _SCHEMA)
    rows = ref.collect()
    got = local_frame(spark, rows, ref.schema)
    assert got.schema == ref.schema
    assert _collect_sorted(got) == _collect_sorted(ref)
    _assert_local_table_scan(got)


def test_nan_cells_stay_nan_on_a_local_table_scan(spark):
    # a genuine NaN double comes back as NaN (not NULL), and the frame
    # stays a LocalTableScan
    rows = [(1, float("nan")), (2, 0.5)]
    df = local_frame(spark, rows, "a int, b double")
    _assert_local_table_scan(df)
    got = {r["a"]: r["b"] for r in df.collect()}
    assert math.isnan(got[1]) and got[2] == 0.5


def test_dict_rows_plan_as_local_table_scan(spark):
    # the classification-row shape: dicts in any key order, matched to
    # the DDL by name, with array columns and a NaN confidence
    ddl = ("query_id bigint, q_language string, intent string, wants_code boolean, "
           "confidence double, target_folders array<string>, "
           "target_extensions array<string>, exclude_patterns array<string>, k int")
    rows = [
        {"query_id": 0, "q_language": "rust", "intent": "implementation",
         "wants_code": True, "confidence": 0.85, "target_folders": ["src"],
         "target_extensions": [], "exclude_patterns": None, "k": 5},
        {"k": 3, "exclude_patterns": ["tests/"], "target_extensions": ["md"],
         "target_folders": [], "confidence": float("nan"), "wants_code": False,
         "intent": "explanation", "q_language": None, "query_id": 1},
    ]
    got = local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    _assert_local_table_scan(got)
    assert got.schema == ref.schema
    assert repr(_collect_sorted(got)) == repr(_collect_sorted(ref))


def test_mistyped_float_in_int_column_is_not_truncated(spark):
    # a float landing in a bigint column must behave like the tuple
    # path (which raises on verification), never silently floor via an
    # unsafe Arrow cast
    rows = [(1.7, "x")]
    try:
        ref = spark.createDataFrame(rows, "a bigint, s string").collect()
    except Exception:
        ref = None
    if ref is None:
        with pytest.raises(Exception):
            local_frame(spark, rows, "a bigint, s string").collect()
    else:
        got = local_frame(spark, rows, "a bigint, s string").collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_ddl_schema_is_parsed_once(spark, monkeypatch):
    """A second call with the same DDL string reuses its parse (a py4j
    round trip) instead of parsing it again."""
    from cargo_chat_spark.functions import localframe

    parses, real = [], localframe._parse_datatype_string

    def parse(ddl):
        parses.append(ddl)
        return real(ddl)

    monkeypatch.setattr(localframe, "_parse_datatype_string", parse)
    localframe._parse_ddl.cache_clear()
    ddl = "a bigint, b string"
    for rows in ([(1, "x")], [(2, "y"), (3, None)]):
        assert local_frame(spark, rows, ddl).collect() == [tuple(r) for r in rows]
    assert parses == [ddl]
