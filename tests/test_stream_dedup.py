"""The event-dedup catalog entries (``events_dedup_collapse``,
``latest_event_per_user``) match their DuckDB oracles."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from cargo_chat_spark.queries.catalog import ORACLE_SQL, SPARK_QUERIES
from tests.conftest import SF_DIR_SMALL


@pytest.mark.parametrize(
    "name", ["events_dedup_collapse", "latest_event_per_user"]
)
def test_events_twin_oracles(spark, name):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR_SMALL}/events.parquet')"
    )
    want = con.execute(ORACLE_SQL[name]).df()
    got = SPARK_QUERIES[name](spark, SF_DIR_SMALL).toPandas()
    cols = sorted(got.columns)
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))