"""Physical pins for the merge-on-read delete layer (sources/deletes.py):
delete_keys never touches base files, and the MOR view equals
full-scan-minus-keys. The values contract is carried by the
``dedup_mor_apply`` gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cargo_chat_spark.sources.deletes import (
    delete_keys,
    read_merge_on_read,
)
from cargo_chat_spark.sources.sorted_layout import write_range_sorted
from cargo_chat_spark.sources.testdata import load_table
from tests.conftest import SF_DIR_SMALL


def _base_files(out: str) -> dict[str, tuple[int, float]]:
    return {
        f: (os.path.getsize(os.path.join(out, f)),
            os.path.getmtime(os.path.join(out, f)))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delete_is_o_keys_and_mor_matches_filter(spark, tmp_path):
    e = load_table(spark, SF_DIR_SMALL, "events")
    out = str(tmp_path / "mor")
    write_range_sorted(e, out, "user_id", n_files=8)
    before = _base_files(out)

    delete_keys(
        e.where(F.col("user_id").isin(7, 11)).select("event_id"),
        out, "event_id",
    )
    # base files untouched by the delete (names, sizes, mtimes identical)
    assert _base_files(out) == before
    assert os.path.isdir(os.path.join(out, "_tombstones"))

    got = _rows(read_merge_on_read(spark, out, "event_id"))
    want = _rows(e.where(~F.col("user_id").isin(7, 11)))
    assert got == want

