"""Merge-on-read deletes over a plain-parquet table: tombstones + compaction.

The 100 TB problem this pins: deleting rows from an immutable columnar
table (GDPR "remove this user", dedup "drop these doc_ids", retraction of
a bad source) cannot afford a table rewrite per request. The lakehouse
answer (Iceberg equality-delete files, Delta deletion vectors) is
MERGE-ON-READ: a delete appends only the deleted KEYS (cost
O(deleted keys), base files untouched); every read anti-joins the
tombstone set (a broadcast for any realistic delete backlog); a periodic
COMPACTION folds the tombstones into the data by rewriting ONLY the files
that contain deleted keys, leaving the rest of the table byte-identical.

Guarantees (pinned physically by ``tests/test_merge_on_read.py`` and by
value in the ``events_merge_on_read`` gate):

- ``delete_keys`` never touches base files — it appends under the
  underscore-prefixed ``_tombstones/`` subdirectory, which Spark's file
  listing ignores, so plain readers of the directory are unaffected and
  the tombstone log rides inside the table path like Delta's ``_delta_log``.
- ``read_merge_on_read`` equals full-scan-minus-deleted-keys exactly
  (the anti-join is by key, so re-inserting a previously deleted key via
  a later append is visible again — equality-delete semantics apply to
  the files present when the read runs, matching Iceberg sequence rules
  for a single-writer maintenance model).
- ``compact_deletes`` rewrites only AFFECTED files (the bounded
  file-level semi-join decides which), deletes the tombstone log, and is
  a no-op when there is nothing to fold. Replaying a delete of already
  -absent keys after compaction is harmless: the anti-join removes
  nothing and the next compaction folds the stale tombstones away.

Scale posture: the tombstone set is broadcast (delete backlogs are MBs
against TBs of base data; if a backlog ever outgrew the broadcast limit
the same plan runs as a shuffled anti-join — semantics identical). The
affected-file discovery is one column-pruned scan of the key column
grouped by ``input_file_name`` — at 100 TB this reads one column, and a
range-sorted base layout (``sorted_layout.write_range_sorted``) keeps the
affected set small when deletes are key-local.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_chat_spark.sources._paths import strip_scheme as _local

_TOMB_DIR = "_tombstones"


def _tomb_path(path: str) -> str:
    return os.path.join(_local(path), _TOMB_DIR)


def affected_files(
    frame: DataFrame, keys: DataFrame, key_col: str
) -> set[str]:
    """Basenames of the physical files in ``frame``'s scan that contain
    any of ``keys`` — the bounded discovery step shared by every
    key-addressed file rewrite (MoR compaction, snapshot CoW delete and
    MERGE): one column-pruned scan of the key column grouped by
    ``input_file_name``, broadcast semi-join, one collected row per
    affected FILE."""
    k = F.broadcast(keys.select(key_col).distinct())
    return {
        os.path.basename(_local(r["f"]))
        for r in (
            frame.select(key_col, F.input_file_name().alias("f"))
            .join(k, on=key_col, how="left_semi")
            .select("f")
            .distinct()
            .collect()  # bounded: one row per affected FILE
        )
    }


def delete_keys(keys: DataFrame, path: str, key_col: str) -> None:
    """Record the keys as deleted: append one small parquet file of
    distinct keys under ``path/_tombstones``. O(deleted keys) I/O; base
    files are not opened, moved, or rewritten. Replays any crashed
    compaction first, so a pending journal (whose replay clears the
    tombstone log it folded) can never swallow keys recorded after it."""
    recover_compaction(path)
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
    recover_compaction(path)  # self-heal a crashed compaction first
    base = spark.read.parquet(_local(path))
    tomb = read_tombstones(spark, path, key_col)
    if tomb is None:
        return base
    return base.join(F.broadcast(tomb), on=key_col, how="left_anti")


_JOURNAL = "_compact_journal.json"
_STAGING = "_compact_staging"


def recover_compaction(path: str) -> bool:
    """Complete an interrupted compaction by replaying its journal
    (idempotent: every step is move/remove-if-exists). The journal is
    written ATOMICALLY before any base file is touched, so a crash at
    any later point leaves a directory that this replay converges to the
    committed post-compaction state — survivor rows can never end up
    duplicated (the failure mode of a journal-less multi-step mutation:
    crash between landing the compact-* copies and removing the
    originals, where a naive re-run would re-copy the survivors).
    Returns True if a journal was found and replayed."""
    root = _local(path)
    jp = os.path.join(root, _JOURNAL)
    if not os.path.exists(jp):
        return False
    with open(jp) as fh:
        j = json.load(fh)
    staging = os.path.join(root, _STAGING)
    for staged, final in j["moves"]:
        sp = os.path.join(staging, staged)
        if os.path.exists(sp):
            os.rename(sp, os.path.join(root, final))
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    for f in j["remove"]:
        for victim in (
            os.path.join(root, f),
            os.path.join(root, f".{f}.crc"),
        ):
            if os.path.exists(victim):
                os.remove(victim)
    tomb = _tomb_path(path)
    if os.path.isdir(tomb):
        shutil.rmtree(tomb)
    os.remove(jp)
    return True


def compact_deletes(
    spark: SparkSession, path: str, key_col: str
) -> list[str]:
    """Fold the tombstone log into the data: rewrite ONLY the base files
    containing deleted keys (survivor rows re-written, files whose rows
    are all deleted simply removed), leave every other file untouched,
    then clear the log. Returns the basenames of the files rewritten or
    removed (empty = no-op). Single-writer maintenance pass, like
    ``index_cells.compact_index_cells``; crash-safe via the journal —
    the survivor copies are staged (underscore-hidden, invisible to
    readers), then a journal of the exact moves+removals commits by
    atomic rename, then :func:`recover_compaction` applies it; any crash
    before the journal leaves the table untouched, any crash after it is
    completed by the next maintenance call (or ``recover_compaction``)."""
    recover_compaction(path)  # finish any interrupted predecessor first
    root = _local(path)
    tomb = read_tombstones(spark, path, key_col)
    if tomb is None:
        return []
    base = spark.read.parquet(root)
    affected = sorted(
        os.path.join(root, b) for b in affected_files(base, tomb, key_col)
    )
    if affected:
        survivors = spark.read.parquet(*affected).join(
            F.broadcast(tomb), on=key_col, how="left_anti"
        )
        staging = os.path.join(root, _STAGING)
        survivors.write.mode("overwrite").parquet(staging)
        moves = [
            (f, f"compact-{f}")
            for f in sorted(os.listdir(staging))
            if f.endswith(".parquet")
        ]
        jp = os.path.join(root, _JOURNAL)
        with open(jp + ".tmp", "w") as fh:
            json.dump(
                {
                    "moves": moves,
                    "remove": sorted(os.path.basename(f) for f in affected),
                },
                fh, indent=1,
            )
        os.rename(jp + ".tmp", jp)  # commit point: effects now inevitable
        recover_compaction(path)  # the journal replay IS the apply path
    else:
        shutil.rmtree(_tomb_path(path))
    return sorted(os.path.basename(f) for f in affected)
