"""Index persistence (SURVEY §2.1 S4-S7).

The reference serializes the whole ANN (vectors ∥ metadata parallel arrays)
to ONE JSON file (/root/reference/src/main.rs:365-368 — pathological for
float arrays) and a pretty-printed profile.json (main.rs:373-376).

Spark-native replacement: a partitioned **parquet** index table with an
explicit chunk_id key (columnar float arrays, predicate pushdown, partition
pruning) + a JSON sidecar with table metadata (dim, count) standing in for
the DynamicAnn dim dispatch (ann.rs:92-113 → just metadata here).

The index table is parquet compressed with zstd at the writer's default
level (``INDEX_COMPRESSION``), not Spark's default snappy: snappy leaves
the float embeddings at about their raw size, and zstd writes the bulk
index in ~16% fewer bytes. Only the index table is written this way, not
the session (a session-wide codec would also re-encode the catalog's
snapshot and compaction stores). Reads need no setting, since parquet
records the codec of each column chunk, so snappy indexes written before
still open.

Opening an index runs no Spark job: ``read_index`` reads with the fixed
``INDEX_SCHEMA`` (no schema-inference job), and its dim check is a
projection of the scan, not a count over the index (see ``read_index``).

This module holds what the index build and the query read and write. The
catalog's index maintenance (cell-partitioned layout, Bloom sidecars,
upsert/compact/delete, ANN CDC sync, reference ``index.bin`` import) lives
in ``sources/index_cells.py``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

# The one index table layout: written by ``write_index``, read back by
# ``read_index`` with no inference.
INDEX_SCHEMA = StructType([
    StructField("chunk_id", LongType()),
    *[StructField(c, StringType()) for c in ("file", "code", "language", "extension")],
    StructField("embedding", ArrayType(DoubleType())),
])

# The codec of every file in the index table: ``write_index``'s overwrite
# and the appends of ``streaming/incremental.py`` alike, so the table keeps
# one layout.
INDEX_COMPRESSION = "zstd"


def write_index(df: DataFrame, index_dir: str, dim: int) -> None:
    """S6: persist the index table + sidecar metadata. A plain overwrite
    of ``<index_dir>/index`` with no repartition, so the parquet files
    follow ``df``'s partitioning, compressed with ``INDEX_COMPRESSION``
    (zstd: Spark's default snappy leaves the embeddings near their raw
    size); the dim goes to ``index_meta.json``.

    Raises ``ValueError`` when ``df``'s column names, order or types are
    not ``INDEX_SCHEMA``'s (nullability aside), so every index written
    here reads back exactly under that schema."""
    got = df.schema.simpleString()  # simpleString carries no nullability
    if got != INDEX_SCHEMA.simpleString():
        raise ValueError(
            f"index frame is {got}, expected {INDEX_SCHEMA.simpleString()}"
        )
    df.write.parquet(os.path.join(index_dir, "index"), mode="overwrite",
                     compression=INDEX_COMPRESSION)
    write_index_meta(index_dir, dim)


def write_index_meta(index_dir: str, dim: int, *, append: bool = False,
                     **extra) -> None:
    """Write ``<index_dir>/index_meta.json``, the sidecar ``read_index``
    takes the dim from, plus ``extra``'s fields (``sources/index_cells.py``
    records its cell layout). An append (``streaming/incremental.py``)
    keeps a sidecar of the same dim, and raises ``ValueError`` on one of
    another dim, whose rows would fail ``read_index``'s dim check."""
    path = os.path.join(index_dir, "index_meta.json")
    if append and os.path.isfile(path):
        with open(path) as fh:
            have = int(json.load(fh)["dim"])
        if have != dim:
            raise ValueError(f"{path} records dim {have}; cannot append dim-{dim} vectors")
        return
    os.makedirs(index_dir, exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"dim": dim, "format": "parquet", "version": 1, **extra}, fh, indent=2)


def read_index(spark: SparkSession, index_dir: str) -> tuple[DataFrame, dict]:
    """S4: load index + metadata, running no Spark job.

    The reference checks every vector's dim when it loads its index
    (ann.rs:128-161). Here the stored dim comes from ``index_meta.json``
    and the check is part of the scan: the ``embedding`` column is
    projected through ``raise_error('index contains vectors with dim !=
    <dim>')`` for a row of another size, so every row any plan reads is
    checked, on every read, at no extra job. A NULL embedding passes (its
    size is NULL), and ``knn_join`` rejects it. The error is Spark's
    ``USER_RAISED_EXCEPTION`` and comes when a plan first reads the
    embeddings: the ``knn_join`` scan, the driver-resident fill of
    ``plans.retrieval``, or the first action on a persisted index (which
    materializes every column)."""
    with open(os.path.join(index_dir, "index_meta.json")) as fh:
        meta = json.load(fh)
    dim = int(meta["dim"])
    df = spark.read.schema(INDEX_SCHEMA).parquet(os.path.join(index_dir, "index"))
    checked = (
        f"CASE WHEN size(embedding) <> {dim} THEN raise_error("
        f"'index contains vectors with dim != {dim}') ELSE embedding END AS embedding"
    )
    return df.selectExpr(*INDEX_SCHEMA.fieldNames()[:-1], checked), meta


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
