"""Opening an index (``sources/index_io.py``): ``read_index`` runs no Spark
job, its dim check runs inside whatever plan first reads the embeddings,
and ``write_index`` writes only frames of ``INDEX_SCHEMA``, zstd-compressed
(checked from the parquet footers, not through Spark)."""

from __future__ import annotations

import json
from functools import partial
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from cargo_chat_spark.functions.localframe import local_frame
from cargo_chat_spark.models.mock import MockProvider
from cargo_chat_spark.plans import retrieval
from cargo_chat_spark.plans.retrieval import retrieve
from cargo_chat_spark.sources.index_io import INDEX_SCHEMA, read_index, write_index
from cargo_chat_spark.streaming.incremental import incremental_index_stream
from tests.conftest import jobs_of

DIM = 64


def _rows(n: int = 6, short: tuple = ()) -> list[tuple]:
    """``n`` index rows; the ids in ``short`` get a vector one too short."""
    mock = MockProvider(DIM)
    return [(i, f"src/m{i}.rs", f"fn parse_{i}() {{}}", "Rust", "rs",
             mock.embed_one(f"fn parse_{i}")[: DIM - (i in short)]) for i in range(n)]


def _write(spark, path, rows) -> str:
    write_index(local_frame(spark, rows, INDEX_SCHEMA), str(path), DIM)
    return str(path)


def _codecs(index_dir) -> set[str]:
    """The codec of every column chunk of ``<index_dir>/index``'s files."""
    files = sorted(Path(index_dir, "index").glob("*.parquet"))
    assert files
    return {md.row_group(g).column(c).compression
            for md in (pq.ParquetFile(f).metadata for f in files)
            for g in range(md.num_row_groups) for c in range(md.num_columns)}


def test_read_index_runs_no_job_and_reads_back_exactly(spark, tmp_path):
    rows = _rows()
    index_dir = _write(spark, tmp_path / "idx", rows)
    out = []
    assert jobs_of(spark, "read-index", lambda: out.append(read_index(spark, index_dir))) == []
    index, meta = out[0]
    assert meta["dim"] == DIM
    assert index.schema.simpleString() == INDEX_SCHEMA.simpleString()
    assert sorted(tuple(r) for r in index.collect()) == rows


def test_wrong_dim_raises_where_the_embeddings_are_read(spark, tmp_path):
    """One vector of 63 in a dim-64 index: the scan path of ``retrieve()``,
    the driver-resident fill and a persisted index's first action each
    raise with the message."""
    index_dir = _write(spark, tmp_path / "bad", _rows(short=(3,)))
    provider = MockProvider(DIM)
    index, _ = read_index(spark, index_dir)
    with pytest.raises(Exception, match="dim != 64") as err:  # knn_join's scan
        retrieve(spark, index, "how does parse work", 5, provider)
    assert "USER_RAISED_EXCEPTION" in str(err.value)

    cached = read_index(spark, index_dir)[0].persist()
    try:
        with pytest.raises(Exception, match="dim != 64"):  # the resident fill
            retrieve(spark, cached, "how does parse work", 5, provider)
        assert retrieval._resident.get("index") is not cached
    finally:
        cached.unpersist()

    persisted = read_index(spark, index_dir)[0].persist()
    try:
        with pytest.raises(Exception, match="dim != 64"):
            persisted.count()
    finally:
        persisted.unpersist()


def test_null_embedding_passes_the_dim_check(spark, tmp_path):
    rows = _rows()
    rows[2] = (*rows[2][:5], None)
    index_dir = _write(spark, tmp_path / "nulls", rows)
    index = read_index(spark, index_dir)[0].persist()
    try:
        assert index.count() == len(rows)
        assert index.where(F.col("embedding").isNull()).count() == 1
    finally:
        index.unpersist()


def test_write_index_takes_only_index_schema_frames(spark, tmp_path):
    rows = _rows(2)
    wrong_type = local_frame(spark, [(int(r[0]), *r[1:]) for r in rows],
                             "chunk_id int, file string, code string, language string, "
                             "extension string, embedding array<double>")
    missing = local_frame(spark, [r[:3] + r[4:] for r in rows],
                          "chunk_id bigint, file string, code string, "
                          "extension string, embedding array<double>")
    for df in (wrong_type, missing):
        with pytest.raises(ValueError, match="expected struct<chunk_id:bigint"):
            write_index(df, str(tmp_path / "rejected"), DIM)
    assert not (tmp_path / "rejected").exists()

    # nullability aside: a non-nullable chunk_id is the same layout
    strict = StructType([StructField("chunk_id", LongType(), False), *INDEX_SCHEMA[1:]])
    write_index(local_frame(spark, rows, strict), str(tmp_path / "strict"), DIM)
    assert read_index(spark, str(tmp_path / "strict"))[0].count() == 2


def test_write_index_writes_every_column_chunk_zstd(spark, tmp_path):
    index_dir = _write(spark, tmp_path / "idx", _rows())
    assert _codecs(index_dir) == {"ZSTD"}


def test_snappy_index_still_reads_back(spark, tmp_path):
    """An index written before the codec changed: snappy parquet plus
    ``index_meta.json`` opens through ``read_index`` with identical rows."""
    rows = _rows()
    index_dir = tmp_path / "snappy"
    local_frame(spark, rows, INDEX_SCHEMA).write.parquet(
        str(index_dir / "index"), compression="snappy")
    (index_dir / "index_meta.json").write_text(
        json.dumps({"dim": DIM, "format": "parquet", "version": 1}))
    assert _codecs(index_dir) == {"SNAPPY"}
    index, meta = read_index(spark, str(index_dir))
    assert meta["dim"] == DIM
    assert sorted(tuple(r) for r in index.collect()) == rows


def test_incremental_stream_appends_zstd(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.txt").write_text("zstd streamed document " * 40)
    index_dir = tmp_path / "stream_index"
    q = incremental_index_stream(spark, str(drop), str(index_dir), str(tmp_path / "ckpt"),
                                 partial(MockProvider, DIM), DIM).start()
    assert q.awaitTermination(120)
    assert _codecs(index_dir) == {"ZSTD"}
