"""Persisted MinHash band-signature store — INCREMENTAL near-duplicate
detection against the full historical corpus.

The batch near-dup pipeline (`queries/dedup.py::minhash_lsh_pairs`)
recomputes signatures for the whole corpus per run. A production
training-data pipeline ingests documents in waves and must answer "is
this new batch a near-dup of ANYTHING seen before" without touching the
history again — the standard answer is to PERSIST the banded LSH state
(doc_id, band, key) and probe it per wave:

- probe cost is O(new docs × bands) signature work plus one join whose
  STORE side never shuffles: the new batch's band rows broadcast, so
  the store scan is a map-side hash join (plan-pinned) — at 100 TB the
  store is petabyte-scale state and moving it per wave is the thing
  this module exists to avoid;
- the store layout is partitioned by `band` and range-clustered +
  sorted by `key` within each band partition, so parquet row-group
  min/max stats line up with the probe keys — Spark's runtime Bloom
  filter injection (`spark.sql.optimizer.runtime.bloomFilter.enabled`)
  then skips row groups the batch cannot touch;
- appending a wave is an O(wave) partition append (no rewrite of
  existing band files);
- hot-bucket capping (`operators/dedup.py::BUCKET_CAP`) applies WITHIN
  each ingested wave (a wave cannot know future doc_ids): every wave
  contributes at most CAP rows per (band, key), so a degenerate
  boilerplate bucket stays linear in waves, never quadratic in docs.

This is beyond-reference training-pipeline machinery (the reference's
index maintenance analog is the JSON-blob rebuild, main.rs:365-368);
the same incremental pattern as `index_cells.upsert_index_cells`, applied
to dedup state instead of ANN state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_chat_spark.operators import dedup as D
from cargo_chat_spark.functions.localframe import local_frame

_BANDS_SUBDIR = "bands"


def bands_of(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, band, key) band rows for ``docs`` — the same 16-perm /
    4-band MinHash pipeline as the batch dedup family, hot-bucket-capped
    within this frame (per-wave capping; see module docstring)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), D.tokens(F.col(text_col)).alias("toks")
    )
    hashes = toks.select(
        "doc_id", D.shingle_hashes_from_tokens(F.col("toks")).alias("h")
    )
    sigs = hashes.select(
        "doc_id", F.expr(D.minhash_signature_spark_sql("h")).alias("mh")
    )
    bands = sigs.select(
        "doc_id", F.explode(D.band_keys(F.col("mh"))).alias("bk")
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    return D.cap_hot_buckets(bands)


def _bands_path(path: str) -> str:
    return os.path.join(path, _BANDS_SUBDIR)


def _write(bands: DataFrame, path: str, mode: str, n_key_files: int) -> None:
    (
        bands.repartitionByRange(n_key_files, "key")
        .sortWithinPartitions("key")
        .write.mode(mode)
        .partitionBy("band")
        .parquet(_bands_path(path))
    )


def write_band_store(
    docs: DataFrame, path: str, n_key_files: int = 4
) -> None:
    """Create (or replace) the store from ``docs``. Layout: partitioned
    by band, key-range-clustered and key-sorted files within each band
    so probe-side runtime filters get aligned row-group stats."""
    _write(bands_of(docs), path, "overwrite", n_key_files)


def append_band_store(
    docs: DataFrame, path: str, n_key_files: int = 4
) -> None:
    """Ingest a wave: append its band rows. O(wave) — existing band
    files are immutable and untouched."""
    _write(bands_of(docs), path, "append", n_key_files)


def read_band_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(_bands_path(path))


def probe_band_store(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    include_new_new: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs between ``new_docs`` and everything in
    the store (plus, by default, within the new batch itself): docs
    sharing any (band, signature-slice) bucket. Returns canonical
    (doc_a < doc_b) distinct pairs.

    Plan shape: the new batch's band rows BROADCAST; the store side is
    scanned map-side without an exchange — the store never shuffles no
    matter how large the history grows (pinned by
    tests/test_band_store.py::test_probe_plan_store_never_shuffles)."""
    new_bands = bands_of(new_docs)
    if os.path.isdir(_bands_path(path)):
        # tombstone-aware when the store is CDC-maintained; identical to
        # the raw read otherwise
        targets = read_band_store_live(spark, path).select(
            "doc_id", "band", "key"
        )
        if include_new_new:
            targets = targets.unionByName(new_bands)
    elif include_new_new:
        # empty store (first wave): within-batch pairs only
        targets = new_bands
    else:
        return (
            local_frame(new_docs.sparkSession, 
                [], "doc_a bigint, doc_b bigint"
            )
        )
    n = F.broadcast(new_bands).alias("n")
    return (
        targets.alias("t")
        .join(n, ["band", "key"])
        .where(F.col("t.doc_id") != F.col("n.doc_id"))
        .select(
            F.least(F.col("t.doc_id"), F.col("n.doc_id")).alias("doc_a"),
            F.greatest(F.col("t.doc_id"), F.col("n.doc_id")).alias("doc_b"),
        )
        .distinct()
    )


# ------------------------------------------------ snapshot-CDC maintenance
# The dedup analog of inverted_index.sync/apply: the band store FOLLOWS a
# mutating snapshot corpus through its O(changed files) change feed —
# inserts/updated docs append re-signed band rows stamped with the synced
# version; deleted docs and updated docs' OLD generations become
# merge-on-read tombstones (band files are immutable; reads anti-join the
# bounded broadcast tombstone set; a reinserted doc's new generation
# outlives old tombstones via ver >= cutoff). Capping stays PER INGESTED
# WAVE (the store's incremental contract — a wave cannot know future
# doc_ids), so the CDC wave re-caps only within itself.

_SYNC_SUFFIX = ".sync.json"


def _sync_path(path: str) -> str:
    return path.rstrip("/") + _SYNC_SUFFIX


def _tombstones_path(path: str) -> str:
    return os.path.join(path, "tombstones")


def synced_band_version(path: str) -> int:
    # "never built" (callers rebuild) must not be conflated with "built
    # but the sidecar is unreadable" (sources/sidecar.py)
    from cargo_chat_spark.sources.sidecar import read_json_sidecar

    return int(
        read_json_sidecar(
            _sync_path(path),
            default=-1,
            field="synced_version",
            what="band-store sync sidecar",
            hint="re-run the full sync (overwrite) or repair the sidecar",
        )
    )


def _write_sync(path: str, version: int) -> None:
    import json

    tmp = _sync_path(path) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"synced_version": version}, fh)
    os.replace(tmp, _sync_path(path))


def sync_band_store_from_snapshot(
    spark: SparkSession,
    store_path: str,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_key_files: int = 4,
) -> int:
    """Initial full build from the table's LATEST snapshot; band rows
    are stamped with the synced version (the tombstone generation
    axis). Returns the synced version."""
    from cargo_chat_spark.sources.snapshots import manifest, snap_read

    v = int(manifest(table_path)["version"])
    docs = snap_read(spark, table_path).select(id_col, text_col)
    _write(
        bands_of(docs, id_col, text_col).withColumn("ver", F.lit(v)),
        store_path,
        "overwrite",
        n_key_files,
    )
    _write_sync(store_path, v)
    return v


def apply_band_cdc(
    spark: SparkSession,
    store_path: str,
    table_path: str,
    to_version: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_key_files: int = 4,
) -> int:
    """Advance the store from its synced version via the row-level
    change feed: O(changed files + changed docs' signatures), never
    O(corpus)."""
    from cargo_chat_spark.sources.snapshots import manifest, snap_changes, snap_read

    from_v = synced_band_version(store_path)
    if from_v < 0:
        raise ValueError(
            f"band store at {store_path} was not built by "
            "sync_band_store_from_snapshot"
        )
    to_v = (
        int(manifest(table_path)["version"])
        if to_version is None
        else int(to_version)
    )
    if to_v == from_v:
        return to_v
    # the change feed (a full-outer md5 hash join over the changed
    # files) feeds BOTH the tombstone write and the fresh-doc re-sign —
    # materialize it once instead of re-executing the diff per consumer
    # (guide §5: cut lineage of multi-consumed subtrees; O(changed docs)
    # rows, the same bound as the feed itself)
    ch = snap_changes(
        spark, table_path, from_v, to_v, id_col
    ).localCheckpoint(eager=True)
    dead = (
        ch.where(F.col("change").isin("deleted", "updated"))
        .select(F.col(id_col).alias("doc_id"))
        .distinct()
    )
    fresh = (
        ch.where(F.col("change").isin("inserted", "updated"))
        .select(F.col(id_col))
        .distinct()
    )
    # tombstone append and fresh-doc band write are independent given
    # the materialized feed — overlap them (guide §2.6). Replay safety
    # is unchanged: _write_sync still lands only after BOTH, and a
    # replayed wave's duplicate tombstones/band rows collapse in
    # read_band_store_live (max(cutoff)) / the probe's distinct().
    from cargo_chat_spark.functions.overlap import spawn_job

    ts = spawn_job(
        lambda: (
            dead.withColumn("cutoff", F.lit(to_v).cast("int"))
            .coalesce(1)
            .write.mode("append")
            .parquet(_tombstones_path(store_path))
        )
    )
    new_docs = snap_read(spark, table_path, to_v).join(
        F.broadcast(fresh), id_col, "semi"
    ).select(id_col, text_col)
    # The tombstone job is joined on every path, so a failed band write
    # never returns while the side job still appends; the band write's
    # error wins over the side job's. A failed wave leaves its tombstones
    # appended, none of its band rows and no advanced sync marker, so
    # until a replay the live read hides the wave's updated docs under
    # both their old and new text. Replaying the same wave repairs it:
    # the sync marker still names from_v, and the duplicate tombstones
    # collapse under max(cutoff).
    band_write_ok = False
    try:
        _write(
            bands_of(new_docs, id_col, text_col).withColumn(
                "ver", F.lit(to_v)
            ),
            store_path,
            "append",
            n_key_files,
        )
        band_write_ok = True
    finally:
        try:
            ts.join()
        except Exception:
            if band_write_ok:
                raise
    _write_sync(store_path, to_v)
    return to_v


def read_band_store_live(spark: SparkSession, path: str) -> DataFrame:
    """Band rows with merge-on-read tombstones applied (a CDC-deleted
    doc's rows vanish; a reinserted doc's newer generation survives via
    ver >= cutoff). Non-CDC stores (no tombstones dir) read as-is."""
    b = read_band_store(spark, path)
    if os.path.isdir(_tombstones_path(path)):
        t = (
            spark.read.parquet(_tombstones_path(path))
            .groupBy("doc_id")
            .agg(F.max("cutoff").alias("cutoff"))
        )
        b = b.alias("b").join(
            F.broadcast(t).alias("t"),
            on=[
                F.col("b.doc_id") == F.col("t.doc_id"),
                F.col("b.ver") < F.col("t.cutoff"),
            ],
            how="left_anti",
        )
    return b


def _complete_compaction_swap(path: str, journal: dict) -> None:
    """Post-commit phase of the journaled swap (sources/_compaction.py);
    module-level so crash tests can intercept it."""
    from cargo_chat_spark.sources import _compaction as _C

    _C.complete_swap(path, journal)


def compact_band_tombstones(spark: SparkSession, path: str) -> int:
    """Materialize the tombstones: rewrite ONLY the dirty band files
    (those holding a tombstoned generation), then clear the folded
    tombstone files — the band-store analog of inverted_index.
    compact_index_tombstones. O(dirty files); clean files untouched byte-for-byte. Returns the number of
    files rewritten. Single-writer maintenance op (same caveat as the
    lexical compaction: run it from the CDC applier's scheduler slot).

    Crash-windowed via the shared journaled swap
    (sources/_compaction.py, closing the round-9 ADVICE window here
    too): survivors fully staged, journal as the atomic commit point,
    idempotent completion, orphan rollback."""
    from cargo_chat_spark.sources import _compaction as _C

    return _C.compact_tombstoned_store(
        spark,
        path,
        data_root=_bands_path(path),
        tombstones_dir=_tombstones_path(path),
        id_col="doc_id",
        sort_col="key",
        part_col="band",
        complete_fn=lambda p, j: _complete_compaction_swap(p, j),
    )
