"""Degenerate-input parity for the sampled-cutpoint machinery (ADVICE
r11): on a corpus where the key-modulus sample is EMPTY (m=0) the cut
arrays are empty, DuckDB's list indexing yields NULL cuts and every row
lands in bucket/phase 1 — Spark must agree (try_element_at), not throw
the ANSI INVALID_ARRAY_INDEX that plain element_at raises on an empty
array. Exercises curriculum_phase_assign (textstats.py) end-to-end
against its own oracle SQL on a fixture engineered so no key hits the
sample modulus.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cargo_chat_spark.queries import catalog


@pytest.fixture(scope="module")
def empty_sample_dir(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("degenerate_sf")
    good = (
        "the quick brown fox jumps over a lazy dog in the sunny field "
        "today with friends"
    )
    bad = "!!! ??? !!!"
    # no doc_id % 101 == 0 among KEPT docs -> the curriculum sample is
    # empty (ids chosen so none hit the modulus at all)
    documents = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 50, 100, 150], pa.int64()),
            "text": pa.array([good, bad, good + " again", good, bad, good]),
            "lang": pa.array(["en"] * 6),
            "source": pa.array(["web"] * 6),
            "n_chars": pa.array([len(good), len(bad), len(good) + 6,
                                 len(good), len(bad), len(good)], pa.int64()),
        }
    )
    pq.write_table(documents, tmp / "documents.parquet")
    return str(tmp)


def _oracle(sf_dir: str, tables: list[str], sql: str):
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con.execute(sql).df()
    finally:
        con.close()


def test_curriculum_empty_sample_matches_oracle(spark, empty_sample_dir):
    rows = catalog.SPARK_QUERIES["curriculum_phase_assign"](
        spark, empty_sample_dir
    ).collect()
    got = {r["doc_id"]: r["phase"] for r in rows}
    assert set(got.values()) <= {0, 1}, "empty sample != phases {0,1}"
    assert 1 in got.values(), "quality-kept docs must land in phase 1"
    ref = _oracle(
        empty_sample_dir,
        ["documents"],
        catalog.ORACLE_SQL["curriculum_phase_assign"],
    )
    want = dict(zip(ref["doc_id"].astype(int), ref["phase"].astype(int)))
    assert got == want
