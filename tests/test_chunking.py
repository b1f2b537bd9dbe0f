"""Chunking operator tests: char-window spec edge cases."""

from __future__ import annotations

from cargo_chat_spark.operators.chunking import chunk_text


def test_chunk_text_empty_and_exact_boundary(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "a" * 120), (3, "b" * 121)], "doc_id bigint, text string"
    )
    out = chunk_text(df, max_chars=120).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc  # empty text -> no chunks
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_len"] == 120
    assert len(by_doc[3]) == 2 and by_doc[3][1]["chunk_len"] == 1
