"""Structured-Streaming incremental indexing (SURVEY §2.9 — extension).

The reference has no data-plane streaming; its docs propose staleness
tracking and file-watch auto-reindex (/root/reference/docs/proposals.md:
3-114). Spark-native realization:

- ``incremental_index_stream``: file-source stream over a drop zone → the
  SAME chunk/embed pipeline as plans.indexing via foreachBatch → parquet
  index append. Checkpointed, exactly-once per micro-batch.
- ``windowed_event_counts``: watermarked tumbling-window aggregation (the
  late-data pattern) — exercised on the driver's ``events`` table both as
  a stream (tests) and as the batch-equivalent oracle query
  (queries/streaming_queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_chat_spark.plans.indexing import build_index
from cargo_chat_spark.sources.index_io import INDEX_COMPRESSION, write_index_meta


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Tumbling-window per-type counts/sums. In streaming mode the
    watermark bounds state (late rows beyond it are dropped); the batch
    form is the deterministic oracle for the same logical result."""
    df = events
    if streaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "event_count",
            "value_sum",
        )
    )


def incremental_index_stream(
    spark: SparkSession,
    drop_zone: str,
    index_dir: str,
    checkpoint_dir: str,
    provider_factory,
    dim: int,
):
    """readStream(text files) → chunk+embed (same batch pipeline) →
    append to the parquet index, one atomic transaction per micro-batch.
    Each batch first writes (or checks) ``index_meta.json``, so the index
    the stream builds opens through ``read_index``."""
    stream = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.txt")
        .load(drop_zone)
        .select(
            F.col("value").alias("content"),
            F.lit("txt").alias("extension"),
        )
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        files = batch_df.withColumn(
            "path", F.concat(F.lit(f"drop/{batch_id}/doc_"), F.monotonically_increasing_id().cast("string"), F.lit(".md"))
        ).withColumn("extension", F.lit("md"))
        index = build_index(files, provider_factory, dim)
        write_index_meta(index_dir, dim, append=True)
        index.write.parquet(f"{index_dir}/index", mode="append",
                            compression=INDEX_COMPRESSION)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
