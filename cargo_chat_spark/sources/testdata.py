"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under ``/root/testdata/sf*/``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # set defensively (runtime SQL confs) — the driver's own session may
        # not have gone through session.get_spark. nanosAsLong makes a
        # TIMESTAMP(NANOS) fixture readable at all (Spark otherwise refuses);
        # UTC keeps NTZ→LTZ normalization value-identical to the DuckDB
        # oracle's naive timestamps.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some fixture
        # generations (loaded as BIGINT nanos via nanosAsLong) and plain
        # timestamp[us] in others. Branch on the dtype actually loaded so
        # both generations work; output is always TIMESTAMP (LTZ, UTC).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer division — epoch nanos (~1.7e18) exceed double's 2^53;
            # truncate to micros exactly like DuckDB does when it reads ns.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        else:
            # timestamp[us] arrives as TIMESTAMP_NTZ (Spark infers NTZ for
            # isAdjustedToUTC=false); normalize to the session type under UTC
            # so downstream window/sessionize semantics are unchanged.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Approximate number of scan tasks Spark will give the table's
    parquet layout: ceil(file bytes / maxPartitionBytes) summed per file.
    Driver-side os.stat only — no Spark job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        # parse byte-unit suffixes ('128m', '64MB', '1g') — a bare
        # digits-only parse silently fell back to the 128 MB default for
        # unit-suffixed session values (r14 ADVICE), skewing the
        # fire/identity decision of load_table_spread
        raw = str(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        ).strip().lower().removesuffix("b")
        mult = 1
        for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
            if raw.endswith(suffix):
                raw = raw[:-1]
                mult = m
                break
        max_pb = int(raw) * mult if raw.isdigit() else 128 * 1024 * 1024
    except Exception:
        max_pb = 128 * 1024 * 1024
    try:
        if os.path.isfile(path):
            sizes = [os.path.getsize(path)]
        else:
            sizes = [
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
    except OSError:
        return 1
    return max(1, sum(-(-s // max_pb) for s in sizes))


def load_table_spread(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """``load_table`` + deterministic hash redistribution when the parquet
    layout supplies fewer scan tasks than the session's parallelism.

    Why (optimization guide §2.6/§6): a table that arrives as one small
    file is ONE scan task, so every expensive per-row stage downstream
    (md5 shingling, n-gram explode, tokenization) runs on one core while
    the rest idle — profiled as 1-task stages of 0.8-1.6 s dominating the
    document-corpus queries at bench SF. The redistribution is keyed on a
    stable column (hash partitioning — deterministic under task retry,
    no round-robin pre-sort) and sized to ``defaultParallelism``.

    Scale posture: fires ONLY when scan splits < half the parallelism —
    at production scale the layout supplies far more splits than cores
    and this is the identity, so nothing here is tuned to local[32]."""
    df = load_table(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    if scan_splits(spark, sf_dir, name) < max(1, par // 2):
        from pyspark.sql import functions as F

        df = df.repartition(par, F.col(key))
    return df


def parquet_rows(path: str) -> int:
    """Exact row count from the parquet footer — a driver-side metadata
    read (no Spark job). For plan-shaping decisions (block counts, bucket
    fan-out) where an eager ``df.count()`` would serialize a whole scan
    into every plan build. On a multi-file dataset this is one footer per
    file, still metadata-only."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows
