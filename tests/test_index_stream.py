"""Streaming IVF-index maintenance must EXACTLY equal a batch build over
the same final logical state: micro-batches (with overlapping, updated
chunk ids — including cross-cell moves) drained through
run_index_maintenance_stream, in two separate stream runs sharing a
checkpoint, yield the same table as write_index_partitioned over the
final data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cargo_chat_spark.sources.index_cells import write_index_partitioned
from cargo_chat_spark.sources.testdata import load_table
from cargo_chat_spark.streaming.index_stream import run_index_maintenance_stream
from tests.conftest import SF_DIR_SMALL


def _rows(df):
    return sorted(
        (r["chunk_id"], r["cell_id"], tuple(round(x, 9) for x in r["embedding"]))
        for r in df.select("chunk_id", "cell_id", "embedding").collect()
    )


@pytest.mark.slow
def test_streamed_upserts_match_batch_build(spark, tmp_path):
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")

    def as_index(df):
        return df.select(
            F.col("vec_id").alias("chunk_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )

    def negated(df):
        return as_index(df).select(
            "chunk_id", F.transform("embedding", lambda x: -x).alias("embedding")
        )

    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )

    # initial index: vec_id < 300
    idx_dir = str(tmp_path / "idx")
    write_index_partitioned(
        as_index(emb.where(F.col("vec_id") < 300)), idx_dir, 64, centroids
    )

    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    schema = "chunk_id bigint, embedding array<double>"

    # wave 1: inserts 300-399
    as_index(
        emb.where((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    ).coalesce(1).write.mode("append").parquet(src)
    run_index_maintenance_stream(spark, src, schema, idx_dir, ckpt)

    # wave 2: inserts 400-499 AND updates 250-299 with negated embeddings
    # (cross-cell moves included)
    as_index(emb.where(F.col("vec_id") >= 400)).unionByName(
        negated(emb.where((F.col("vec_id") >= 250) & (F.col("vec_id") < 300)))
    ).coalesce(1).write.mode("append").parquet(src)
    run_index_maintenance_stream(spark, src, schema, idx_dir, ckpt)

    streamed = spark.read.parquet(os.path.join(idx_dir, "index"))

    # batch-built reference over the same final logical state
    final_state = (
        as_index(emb.where(F.col("vec_id") < 250))
        .unionByName(
            negated(emb.where((F.col("vec_id") >= 250) & (F.col("vec_id") < 300)))
        )
        .unionByName(as_index(emb.where(F.col("vec_id") >= 300)))
    )
    ref_dir = str(tmp_path / "ref")
    write_index_partitioned(final_state, ref_dir, 64, centroids)
    reference = spark.read.parquet(os.path.join(ref_dir, "index"))

    assert _rows(streamed) == _rows(reference)
