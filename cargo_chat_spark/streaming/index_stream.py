"""Streaming maintenance of the cell-partitioned vector index.

The reference rebuilds its whole JSON index per ingest run
(main.rs:365-368: serialize everything, every time). At 100 TB the index
must instead absorb a continuous embedding feed; this module closes that
loop with Structured Streaming: each micro-batch of (chunk_id, embedding)
rows upserts into the IVF-cell-partitioned index via
``sources/index_cells.upsert_index_cells`` — only the touched cells'
partitions rewrite, and replaying a micro-batch converges to the same
table (the upsert is replace-by-chunk_id, hence idempotent), which is
exactly the at-least-once contract ``foreachBatch`` gives.

Scale posture: per micro-batch cost is O(new vectors + touched cells),
never O(index). Late/duplicate deliveries of the same chunk_id are safe
(last write wins per batch, replace across batches). The same
availableNow drain pattern as streaming/bitmap_dau.py: no timeout-bounded
wait, so callers never observe a half-applied batch.

``tests/test_index_stream.py`` pins exact equivalence with a batch-built
index over the same data, across multiple micro-batches with overlapping
(updated) chunk ids.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from cargo_chat_spark.sources.index_cells import upsert_index_cells


def run_index_maintenance_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain ``source_dir`` (availableNow) of (chunk_id, embedding) parquet
    batches, upserting each micro-batch into the cell-partitioned index at
    ``index_dir`` (which must already exist — built once with
    ``write_index_partitioned``; its sidecar carries the centroids)."""

    def _apply(batch_df, _batch_id: int) -> None:
        # collapse intra-batch duplicates to the latest row per chunk_id
        # deterministically (max embedding tuple would be arbitrary — use
        # last-by-input-order within the batch via max struct on a
        # monotonic id; micro-batches from a log are append-ordered)
        from pyspark.sql import functions as F

        deduped = (
            batch_df.withColumn("_ord", F.monotonically_increasing_id())
            .groupBy("chunk_id")
            .agg(F.max(F.struct("_ord", "embedding")).alias("_s"))
            .select("chunk_id", F.col("_s.embedding").alias("embedding"))
        )
        upsert_index_cells(spark, index_dir, deduped)

    q = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    # availableNow terminates on its own; unbounded wait so the caller
    # never reads a partially-maintained index
    q.awaitTermination()
