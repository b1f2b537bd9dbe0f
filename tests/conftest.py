from __future__ import annotations

import time

import duckdb
import pytest

from cargo_chat_spark.session import get_spark
from cargo_chat_spark.sources.testdata import TABLES

SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="cargo_chat_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


def make_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Replicates the driver's oracle setup: each parquet table registered
    as a view under its bare name."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def duck_small():
    con = make_duckdb(SF_DIR_SMALL)
    yield con
    con.close()


def jobs_of(spark, group, call) -> list[int]:
    """The ids of the Spark jobs ``call()`` runs under job group ``group``,
    read once the listener bus has delivered them (two reads 0.2 s apart
    agree)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    last = None
    for _ in range(25):
        now = list(sc.statusTracker().getJobIdsForGroup(group))
        if now == last:
            break
        last = now
        time.sleep(0.2)
    return now
