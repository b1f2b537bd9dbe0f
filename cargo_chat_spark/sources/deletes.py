"""Merge-on-read deletes over a plain-parquet table: tombstones.

The 100 TB problem this pins: deleting rows from an immutable columnar
table (GDPR "remove this user", dedup "drop these doc_ids", retraction of
a bad source) cannot afford a table rewrite per request. The lakehouse
answer (Iceberg equality-delete files, Delta deletion vectors) is
MERGE-ON-READ: a delete appends only the deleted KEYS (cost
O(deleted keys), base files untouched); every read anti-joins the
tombstone set (a broadcast for any realistic delete backlog).

Guarantees (pinned physically by ``tests/test_merge_on_read.py`` and by
value in the ``dedup_mor_apply`` gate):

- ``delete_keys`` never touches base files — it appends under the
  underscore-prefixed ``_tombstones/`` subdirectory, which Spark's file
  listing ignores, so plain readers of the directory are unaffected and
  the tombstone log rides inside the table path like Delta's ``_delta_log``.
- ``read_merge_on_read`` equals full-scan-minus-deleted-keys exactly
  (the anti-join is by key, so re-inserting a previously deleted key via
  a later append is visible again — equality-delete semantics apply to
  the files present when the read runs, matching Iceberg sequence rules
  for a single-writer maintenance model).

Scale posture: the tombstone set is broadcast (delete backlogs are MBs
against TBs of base data; if a backlog ever outgrew the broadcast limit
the same plan runs as a shuffled anti-join — semantics identical).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_chat_spark.sources._paths import strip_scheme as _local

_TOMB_DIR = "_tombstones"


def _tomb_path(path: str) -> str:
    return os.path.join(_local(path), _TOMB_DIR)


def delete_keys(keys: DataFrame, path: str, key_col: str) -> None:
    """Record the keys as deleted: append one small parquet file of
    distinct keys under ``path/_tombstones``. O(deleted keys) I/O; base
    files are not opened, moved, or rewritten."""
    (
        keys.select(key_col)
        .distinct()
        .coalesce(1)  # a delete request is small by contract
        .write.mode("append")
        .parquet(_tomb_path(path))
    )


def read_tombstones(
    spark: SparkSession, path: str, key_col: str
) -> DataFrame | None:
    """The distinct deleted-key set, or None when no log exists."""
    tomb = _tomb_path(path)
    if not os.path.isdir(tomb) or not any(
        f.endswith(".parquet") for f in os.listdir(tomb)
    ):
        return None
    return spark.read.parquet(tomb).select(key_col).distinct()


def read_merge_on_read(
    spark: SparkSession, path: str, key_col: str
) -> DataFrame:
    """The live view of the table: base scan minus tombstoned keys.
    Spark's listing skips the underscore-named tombstone directory, so
    the base scan stays a plain pruned parquet read; the anti-join
    broadcasts the (small) key set onto it."""
    base = spark.read.parquet(_local(path))
    tomb = read_tombstones(spark, path, key_col)
    if tomb is None:
        return base
    return base.join(F.broadcast(tomb), on=key_col, how="left_anti")

