"""The scope filters F2-F4 in DuckDB (the oracle's emitters) against Spark
and against the driver's ``scope_keep``, over ``test_driver_ranking``'s
generated rows, which hold NULL scope elements; and the Column forms'
argument check."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cargo_chat_spark.operators import filters
from tests.test_driver_ranking import DDL, _questions

FILTERS = {  # name: (DuckDB emitter text, Spark Column form)
    "folder": (filters.folder_match_sql("file", "target_folders"),
               lambda: filters.folder_match(F.col("file"), F.col("target_folders"))),
    "extension": (filters.extension_match_sql("extension", "file", "target_extensions"),
                  lambda: filters.extension_match(F.col("extension"), F.col("file"),
                                                  F.col("target_extensions"))),
    "exclude": (filters.exclude_match_sql("file", "exclude_patterns"),
                lambda: filters.exclude_match(F.col("file"), F.col("exclude_patterns"))),
}


def test_duckdb_scope_filters_match_spark_and_scope_keep(spark):
    rows = _questions()
    scope = pa.list_(pa.string())
    table = pa.table({
        "chunk_id": pa.array([r[1] for r in rows], pa.int64()),
        "file": pa.array([r[2] for r in rows], pa.string()),
        "extension": pa.array([r[3] for r in rows], pa.string()),
        "target_folders": pa.array([r[11] for r in rows], scope),
        "target_extensions": pa.array([r[12] for r in rows], scope),
        "exclude_patterns": pa.array([r[13] for r in rows], scope),
    })
    con = duckdb.connect()
    con.register("cands", table)
    cols = ", ".join(f"{sql} AS {name}" for name, (sql, _) in FILTERS.items())
    duck = {r[0]: r[1:] for r in con.execute(f"SELECT chunk_id, {cols} FROM cands").fetchall()}

    df = spark.createDataFrame(rows, DDL)
    verdicts = df.select("chunk_id", *[col().alias(n) for n, (_, col) in FILTERS.items()])
    sparks = {r[0]: tuple(r[1:]) for r in verdicts.collect()}
    assert duck == sparks  # three-valued: TRUE, FALSE and NULL agree

    keep = {r[1]: filters.scope_keep(*r[2:4], *r[11:14]) for r in rows}
    assert {cid: all(v is True for v in vs) for cid, vs in duck.items()} == keep
    # the NULL verdicts are reached, for every filter
    assert all(any(vs[i] is None for vs in duck.values()) for i in range(len(FILTERS)))


def test_null_exclude_element_drops_the_row_in_duckdb():
    """``NOT exists`` over ``[NULL, 'zzz']`` with no match is NULL: the row
    is dropped, as in Spark and ``scope_keep``."""
    sql = filters.exclude_match_sql("file", "exclude_patterns")
    got = duckdb.sql(f"SELECT {sql} FROM (SELECT 'src/a.rs' AS file, "
                     "['zzz', NULL] AS exclude_patterns)").fetchone()[0]
    assert got is None
    assert filters.scope_keep("src/a.rs", "rs", None, None, [None, "zzz"]) is False


@pytest.mark.parametrize("bad", [
    pytest.param(lambda: F.lit("file"), id="literal"),
    pytest.param(lambda: F.lower(F.col("file")), id="expression"),
    pytest.param(lambda: F.col("file").alias("f"), id="alias"),
    pytest.param(lambda: "file", id="str"),
])
def test_column_forms_take_only_plain_column_names(spark, bad):
    with pytest.raises(TypeError, match="plain column name"):
        filters.folder_match(bad(), F.col("target_folders"))
    with pytest.raises(TypeError, match="plain column name"):
        filters.extension_match(F.col("extension"), F.col("file"), bad())
    with pytest.raises(TypeError, match="plain column name"):
        filters.exclude_match(F.col("file"), bad())
