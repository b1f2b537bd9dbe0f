"""Physical pin for the range-sorted layout (sources/sorted_layout.py):
each file covers a disjoint, ascending range of the sort column, rows are
sorted within each file, and the layout loses or duplicates no row."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from cargo_chat_spark.sources.sorted_layout import write_range_sorted
from cargo_chat_spark.sources.testdata import load_table
from tests.conftest import SF_DIR_SMALL


def test_range_sorted_files_cover_disjoint_sorted_ranges(spark, tmp_path):
    e = load_table(spark, SF_DIR_SMALL, "events")
    out = str(tmp_path / "sorted")
    write_range_sorted(e, out, "user_id", n_files=8)

    files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    assert 1 < len(files) <= 8
    ranges = []
    for f in files:
        ids = pq.read_table(os.path.join(out, f), columns=["user_id"])
        ids = ids.column("user_id").to_pylist()
        assert ids == sorted(ids), f"{f} is not sorted"
        ranges.append((ids[0], ids[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, f"file ranges overlap: {ranges}"

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == sorted(tuple(r) for r in e.collect())
