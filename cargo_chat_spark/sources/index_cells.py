"""Cell-partitioned index maintenance over the S6 parquet index.

The IVF-style layout the catalog's ANN and streaming entries build on:
vectors partitioned by nearest centroid (``write_index_partitioned``),
per-cell chunk-id Bloom sidecars, incremental upsert / compact / delete of
touched cells, the ANN sync from a snapshot table's change feed, and the
reference ``index.bin`` import. The paper's own index build and query use
only ``sources/index_io.py``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_chat_spark.functions.localframe import local_frame
# job overlap shared with the snapshot-lifecycle operators (r15):
# functions/overlap.spawn_job — same contract (join() re-raises)
from cargo_chat_spark.functions.overlap import spawn_job as _spawn_job
from cargo_chat_spark.sources.index_io import (
    INDEX_SCHEMA, read_index, write_index, write_index_meta,
)


def _assign_cells(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (cell_id, cvec) dim
    table, argmin Euclidean per row (deterministic cell_id tie-break)."""
    from pyspark.sql import Window

    from cargo_chat_spark.functions.vectors import euclidean

    w = Window.partitionBy("chunk_id").orderBy("cdist", "cell_id")
    return (
        df.crossJoin(F.broadcast(centroids))
        .withColumn("cdist", euclidean(F.col("cvec"), F.col("embedding")))
        .withColumn("_cr", F.row_number().over(w))
        .where(F.col("_cr") == 1)
        .drop("cvec", "cdist", "_cr")
    )


def write_index_partitioned(
    df: DataFrame, index_dir: str, dim: int, centroids: DataFrame
) -> None:
    """S6 at scale: assign each vector to its nearest centroid and write
    the index PARTITIONED BY cell_id. ANN queries then probe a subset of
    cells → Spark partition pruning turns each query into a scan of
    nprobe/ncells of the data (SCALE.md, IVF section). ``centroids``:
    (cell_id, cvec) — persisted in the sidecar so maintenance
    (``upsert_index_cells``) assigns with the exact centroids the index
    was built with."""
    # (the build stays stream-through: assign → write, blooms from the
    # written partitions — checkpointing the assignment here would
    # materialize the ENTIRE index on executor storage, wrong at scale)
    assigned = _assign_cells(df, centroids)
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
        os.path.join(index_dir, "index")
    )
    write_index_meta(index_dir, dim, partitioned_by="cell_id", centroids=[
        [r["cell_id"], [float(x) for x in r["cvec"]]]
        for r in centroids.orderBy("cell_id").collect()  # k rows, bounded
    ])
    # chunk→cell Bloom manifest (see below): built once here, kept fresh
    # incrementally by upsert_index_cells
    _refresh_cell_blooms(df.sparkSession, index_dir)


# Per-cell Bloom filters over chunk_id — the "chunk→cell manifest" that
# prunes the upsert's old-version lookup. Same double-hash scheme as the
# decontamination bloom (queries/curation.py): positions
# (h1 + i*h2) & (m-1) for i < K with h = xxhash64; built ENTIRELY
# Spark-side as a bit_or aggregate over 64-bit words (one k×words-bounded
# collect — O(bits), never O(ids)) and probed via a broadcast word-frame
# join, so neither side materializes ids on the driver. 2^20 bits at
# K=5 keeps FP ≈ 2.5% at 100k ids/cell; a false positive only rewrites
# an extra cell unchanged, a false negative is impossible (Bloom
# contract), so correctness never depends on the sidecar — delete it at
# any time and the upsert falls back to the full (cell_id, chunk_id)
# scan.
_CELL_BLOOMS = "_cell_blooms.json"
_CBLOOM_K = 5
_CBLOOM_BITS = 1 << 20  # power of two: & (m-1) is the modulus


def _bloom_positions():
    """K (word, bit) column pairs for the current row's chunk_id.
    Hashes are masked to m bits BEFORE combining so the arithmetic never
    overflows a signed long under ANSI mode (i*(h2&mask) ≤ K·m ≪ 2^63);
    build and probe share this exact expression, so the scheme only needs
    to be self-consistent."""
    cols = []
    for i in range(_CBLOOM_K):
        pos = F.expr(
            f"((xxhash64(chunk_id) & {_CBLOOM_BITS - 1}L) "
            f"+ {i}L * (xxhash64(chunk_id, 1L) & {_CBLOOM_BITS - 1}L)) "
            f"& {_CBLOOM_BITS - 1}L"
        )
        cols.append(
            F.struct(
                F.shiftright(pos, 6).cast("int").alias("word"),
                (pos.bitwiseAND(F.lit(63))).cast("int").alias("bit"),
            )
        )
    return F.array(*cols)


def _read_cell_blooms(index_dir: str) -> dict[int, dict[int, int]] | None:
    try:
        with open(os.path.join(index_dir, _CELL_BLOOMS)) as fh:
            raw = json.load(fh)
        if raw.get("m") != _CBLOOM_BITS or raw.get("k") != _CBLOOM_K:
            return None  # parameter change: treat as absent, fall back
        return {
            int(c): {int(w): int(b) for w, b in words.items()}
            for c, words in raw["cells"].items()
        }
    except (OSError, ValueError, KeyError):
        return None


def _bloom_word_rows(df: DataFrame) -> list:
    """(cell_id, word, bits) rows of the per-cell Bloom filters — one
    bit_or aggregate, collect bounded by k cells × (m/64) words,
    independent of id volume."""
    return (
        df.select("cell_id", F.explode(_bloom_positions()).alias("p"))
        .groupBy("cell_id", F.col("p.word").alias("word"))
        .agg(F.expr("bit_or(shiftleft(1L, p.bit))").alias("bits"))
        .collect()
    )


def _refresh_cell_blooms(
    spark: SparkSession,
    index_dir: str,
    cell_ids: list[int] | None = None,
    frame: DataFrame | None = None,
    precomputed_rows: list | None = None,
) -> None:
    """(Re)compute per-cell chunk-id Blooms; ``cell_ids=None`` rebuilds
    all cells, else only those cells rescan (partition-pruned) and the
    rest keep their stored filters. Cells that no longer exist on disk
    drop out of the sidecar. ``frame``: when the caller already holds a
    materialized frame of exactly the rows that landed in the refreshed
    cells (the upsert's checkpointed ``merged``), aggregate from it
    instead of re-reading the written partitions from disk.
    ``precomputed_rows``: the caller already ran _bloom_word_rows (e.g.
    overlapped with the partition commit) — skip the scan entirely."""
    data_dir = os.path.join(index_dir, "index")
    if precomputed_rows is not None:
        rows = precomputed_rows
    else:
        df = spark.read.parquet(data_dir) if frame is None else frame
        scan = (
            df if cell_ids is None
            else df.where(F.col("cell_id").isin(cell_ids))
        )
        rows = _bloom_word_rows(scan)
    blooms = (
        {} if cell_ids is None else (_read_cell_blooms(index_dir) or {})
    )
    if cell_ids is not None:
        for c in cell_ids:
            blooms[int(c)] = {}
    for r in rows:
        blooms.setdefault(int(r["cell_id"]), {})[int(r["word"])] = int(r["bits"])
    live = {
        int(d.split("=", 1)[1])
        for d in os.listdir(data_dir)
        if d.startswith("cell_id=")
    }
    blooms = {c: w for c, w in blooms.items() if c in live}
    payload = {
        "m": _CBLOOM_BITS,
        "k": _CBLOOM_K,
        "cells": {
            str(c): {str(w): b for w, b in words.items()}
            for c, words in blooms.items()
        },
    }
    with open(os.path.join(index_dir, _CELL_BLOOMS), "w") as fh:
        json.dump(payload, fh)


def _bloom_candidate_cells(spark: SparkSession, blooms, upd_ids: DataFrame) -> DataFrame:
    """Cells whose Bloom might contain ANY update id — FP-safe superset
    of the cells holding old versions. All joined frames are bounded
    broadcasts (k cells; k × m/64 words); probe volume is
    |updates| × K × k rows, map-side, never collected."""
    word_rows = [
        (int(c), int(w), int(b))
        for c, ws in blooms.items()
        for w, b in ws.items()
    ]
    words_df = local_frame(spark, 
        word_rows, "wcell int, word int, bits bigint"
    ) if word_rows else local_frame(spark, [], "wcell int, word int, bits bigint")
    cells_df = local_frame(spark, [(int(c),) for c in blooms], "cell_id int")
    probes = (
        upd_ids.select("chunk_id", F.explode(_bloom_positions()).alias("p"))
        .select(
            "chunk_id",
            F.col("p.word").alias("pword"),
            F.col("p.bit").alias("pbit"),
        )
        .crossJoin(F.broadcast(cells_df))
        .join(
            F.broadcast(words_df),
            (F.col("cell_id") == F.col("wcell"))
            & (F.col("pword") == F.col("word")),
            "left",
        )
        .select(
            "cell_id",
            "chunk_id",
            (
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(F.expr("shiftleft(1L, pbit)"))
                    != 0
                )
            )
            .cast("int")
            .alias("hit"),
        )
    )
    return (
        probes.groupBy("cell_id", "chunk_id")
        .agg(F.min("hit").alias("all_hit"))  # every one of the K bits set
        .where(F.col("all_hit") == 1)
        .select("cell_id")
        .distinct()
    )


def upsert_index_cells(spark: SparkSession, index_dir: str, updates: DataFrame) -> None:
    """Incremental maintenance of the cell-partitioned index: new/changed
    vectors land WITHOUT rewriting the table — only the touched cells'
    partitions rewrite (dynamic partition overwrite, an idempotent
    primitive).

    Upsert-by-chunk_id semantics: an updated vector REPLACES its old row
    even when the new embedding assigns to a DIFFERENT cell, so touched =
    cells receiving new rows ∪ cells holding old versions of the updated
    ids. Locating old versions uses the per-cell chunk-id Bloom sidecar
    when present and complete — O(cells × update ids) driver-bounded
    membership checks instead of scanning the index; Bloom false
    positives only rewrite an extra cell unchanged, false negatives
    cannot happen, and a missing/stale sidecar falls back to the
    column-pruned (cell_id, chunk_id) scan with a broadcast semi-join
    (no embedding bytes move either way).

    The touched-cell list collects to the driver: bounded by the number
    of IVF cells (k), never by data volume.

    Contract (enforced): ``updates`` must carry ONE row per chunk_id —
    the assignment window would otherwise silently keep an arbitrary
    winner among duplicates (callers collapse first).
    """
    with open(os.path.join(index_dir, "index_meta.json")) as fh:
        meta = json.load(fh)
    if meta.get("partitioned_by") != "cell_id" or "centroids" not in meta:
        raise ValueError("upsert requires a cell-partitioned index with stored centroids")
    centroids = local_frame(spark,
        [(int(c), v) for c, v in meta["centroids"]],
        "cell_id int, cvec array<double>",
    )
    # Contract checks BEFORE assignment, fused into ONE aggregate job
    # (the dim filter and the duplicate groupBy were two separate scans
    # of `updates`): _assign_cells's per-chunk_id window would silently
    # collapse duplicate ids to whichever row sits closest to its
    # centroid — an arbitrary winner, not an error — and a wrong-dim
    # vector must refuse, not assign. The same pass counts the rows, so
    # the empty-update early return needs no extra job.
    chk_box: dict = {}

    def _contract_check():
        chk_box["chk"] = (
            updates.groupBy("chunk_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.size("embedding")).alias("mn"),
                F.max(F.size("embedding")).alias("mx"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_ids"),
                F.max((F.col("n") > 1).cast("int")).alias("has_dup"),
                F.max(
                    (
                        (F.col("mn") != F.lit(meta["dim"]))
                        | (F.col("mx") != F.lit(meta["dim"]))
                    ).cast("int")
                ).alias("has_bad_dim"),
            )
            .collect()[0]
        )

    # the contract check runs CONCURRENTLY with the assignment
    # checkpoint (guide §2.6): both are side-effect-free reads of
    # ``updates``, and nothing is written until both have finished and
    # the check passed — a violation still aborts before any effect.
    chk_th = _spawn_job(_contract_check)
    # Materialize the assignment ONCE: `assigned` feeds both the
    # touched-cell collect and the overwrite job. Without this, a
    # nondeterministic ``updates`` frame (e.g. a stream micro-batch
    # deduped on a nondeterministic ordinal) could re-evaluate into a
    # cell that is absent from `touched` — and a cell present in the
    # written data but missing from the existing-rows union would be
    # REPLACED by just the new row (silent data loss under dynamic
    # overwrite). The checkpoint pins one evaluation for both jobs (and
    # skips recomputing the assignment crossJoin).
    assigned = _assign_cells(updates, centroids).localCheckpoint(eager=True)
    chk_th.join()
    chk = chk_box["chk"]
    if chk["has_bad_dim"]:
        raise ValueError(f"updates contain vectors with dim != {meta['dim']}")
    if chk["has_dup"]:
        raise ValueError(
            "updates must contain one row per chunk_id — collapse "
            "duplicates before upserting (the assignment window would "
            "otherwise pick an arbitrary winner)"
        )
    if not chk["n_ids"]:  # empty update set: nothing to touch
        return
    data_dir = os.path.join(index_dir, "index")
    idx = spark.read.parquet(data_dir)
    upd_ids = assigned.select("chunk_id").distinct()
    blooms = _read_cell_blooms(index_dir)
    live_cells = {
        int(d.split("=", 1)[1])
        for d in os.listdir(data_dir)
        if d.startswith("cell_id=")
    }
    if blooms is not None and live_cells <= set(blooms):
        # manifest fast path: membership checks against the k stored
        # filters (FP-safe superset of the cells holding old versions)
        old_cells = _bloom_candidate_cells(spark, blooms, upd_ids)
    else:
        old_cells = (
            idx.join(F.broadcast(upd_ids), "chunk_id")
            .select("cell_id")
            .distinct()
        )
    new_cells = assigned.select("cell_id").distinct()
    touched = [
        r["cell_id"] for r in old_cells.union(new_cells).distinct().collect()
    ]
    merged = (
        idx.where(F.col("cell_id").isin(touched))
        .join(F.broadcast(upd_ids), "chunk_id", "left_anti")
        .unionByName(assigned.select(*idx.columns))
    )
    # the plan reads the files the overwrite replaces — materialize first
    merged = merged.localCheckpoint(eager=True)
    # The Bloom word aggregate over the checkpointed `merged` runs
    # CONCURRENTLY with the partition commit (guide §2.6) — both consume
    # the pinned checkpoint, and its result doubles as the present-cell
    # set (a cell is present iff it contributed a word row), which the
    # old code collected in a separate distinct job after the write.
    rows_box: dict = {}
    bloom_th = _spawn_job(
        lambda: rows_box.update(rows=_bloom_word_rows(merged))
    )
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("cell_id").parquet(data_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
        bloom_th.join()
    rows = rows_box["rows"]
    # dynamic overwrite cannot express "this partition is now EMPTY": a
    # cell whose only rows all moved elsewhere keeps its stale files.
    # Drop such partitions explicitly (k-bounded loop; with a
    # transactional table format this is the commit's delete set).
    import shutil

    present = {int(r["cell_id"]) for r in rows}
    for c in touched:
        if c not in present:
            p = os.path.join(data_dir, f"cell_id={c}")
            if os.path.isdir(p):
                shutil.rmtree(p)
    if blooms is not None:
        # keep the manifest consistent with the new state: the
        # checkpointed `merged` IS the new content of the touched cells,
        # so its already-collected word rows update the sidecar directly
        # (no re-read of the just-written partitions); emptied cells drop
        # out via the live-directory pruning
        _refresh_cell_blooms(
            spark, index_dir, sorted(present & set(touched)),
            precomputed_rows=rows,
        )


def compact_index_cells(
    spark: SparkSession,
    index_dir: str,
    cell_ids: list[int] | None = None,
    max_files_per_cell: int = 1,
) -> list[int]:
    """Small-files maintenance: every upsert round appends task files to
    the touched cells, and at 100 TB a cell scanned per ANN probe wants
    few large files, not hundreds of micro-batch leftovers. Rewrites each
    over-fragmented cell (file count > ``max_files_per_cell``) as ONE
    file via dynamic partition overwrite (hash-repartition on cell_id
    with one partition per target cell, so each task writes exactly one
    cell) — identical rows, identical cell assignment, identical Bloom
    manifest (same ids), so only the file layout changes.
    ``cell_ids=None`` considers every cell. Returns the cells rewritten.

    This is an offline maintenance pass (single-writer) that needs no
    watermark: the upsert's replace-by-chunk_id semantics are
    layout-independent, so replays remain correct across a compaction.
    """
    data_dir = os.path.join(index_dir, "index")
    by_cell: dict[int, int] = {}
    for d in os.listdir(data_dir):
        if not d.startswith("cell_id="):
            continue
        c = int(d.split("=", 1)[1])
        n = sum(
            1
            for f in os.listdir(os.path.join(data_dir, d))
            if not f.startswith(("_", "."))
        )
        by_cell[c] = n
    targets = sorted(
        c
        for c, n in by_cell.items()
        if n > max_files_per_cell and (cell_ids is None or c in cell_ids)
    )
    if not targets:
        return []
    idx = spark.read.parquet(data_dir)
    compacted = (
        idx.where(F.col("cell_id").isin(targets))
        # one shuffle partition per target cell -> one output file per cell
        # (hash collisions just co-locate two cells in one task, which
        # still writes one file per cell directory)
        .repartition(len(targets), "cell_id")
        .localCheckpoint(eager=True)  # plan reads the files the overwrite replaces
    )
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        compacted.write.option(
            "maxRecordsPerFile", 0
        ).mode("overwrite").partitionBy("cell_id").parquet(data_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    return targets


def read_index_cells(spark: SparkSession, index_dir: str, cell_ids: list[int]) -> DataFrame:
    """Partition-pruned read: only the probed cells' files are scanned
    (PartitionFilters in the plan — asserted in tests)."""
    df = spark.read.parquet(os.path.join(index_dir, "index"))
    return df.where(F.col("cell_id").isin(cell_ids))


def delete_index_ids(
    spark: SparkSession, index_dir: str, ids: DataFrame
) -> None:
    """Row-level delete from the cell-partitioned index: rewrite ONLY
    the cells holding the ids (Bloom-sidecar location, the upsert's
    old-cells fast path), O(touched cells) like every maintenance op
    here. ``ids`` carries one ``chunk_id`` column."""
    import shutil

    data_dir = os.path.join(index_dir, "index")
    idx = spark.read.parquet(data_dir)
    del_ids = ids.select("chunk_id").distinct()
    blooms = _read_cell_blooms(index_dir)
    live_cells = {
        int(d.split("=", 1)[1])
        for d in os.listdir(data_dir)
        if d.startswith("cell_id=")
    }
    if blooms is not None and live_cells <= set(blooms):
        cells = _bloom_candidate_cells(spark, blooms, del_ids)
    else:
        cells = (
            idx.join(F.broadcast(del_ids), "chunk_id")
            .select("cell_id")
            .distinct()
        )
    touched = [r["cell_id"] for r in cells.distinct().collect()]
    if not touched:
        return
    merged = (
        idx.where(F.col("cell_id").isin(touched))
        .join(F.broadcast(del_ids), "chunk_id", "left_anti")
        .localCheckpoint(eager=True)  # the plan reads files we replace
    )
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("cell_id").parquet(data_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    present = {
        r["cell_id"] for r in merged.select("cell_id").distinct().collect()
    }
    for c in touched:  # dynamic overwrite can't express "now empty"
        if c not in present:
            p = os.path.join(data_dir, f"cell_id={c}")
            if os.path.isdir(p):
                shutil.rmtree(p)
    if blooms is not None:
        _refresh_cell_blooms(spark, index_dir, sorted(present & set(touched)))


# ------------------------------------------------ snapshot-CDC maintenance
# The ANN member of the CDC trio (inverted_index.apply_index_cdc, band_
# store.apply_band_cdc): the cell-partitioned index follows a mutating
# snapshot table of (chunk_id, embedding) rows. Unlike the merge-on-read
# stores this one maintains in place — upserts and deletes each rewrite
# O(touched cells) — so the fence simply records the synced version.

_ANN_SYNC = ".ann_sync.json"


def ann_synced_version(index_dir: str) -> int:
    # "never built" (callers rebuild) must not be conflated with "built
    # but the sidecar is unreadable" (sources/sidecar.py)
    from cargo_chat_spark.sources.sidecar import read_json_sidecar

    return int(
        read_json_sidecar(
            index_dir.rstrip("/") + _ANN_SYNC,
            default=-1,
            field="synced_version",
            what="ANN sync sidecar",
            hint="re-run the full sync (overwrite) or repair the sidecar",
        )
    )


def _write_ann_sync(index_dir: str, version: int) -> None:
    tmp = index_dir.rstrip("/") + _ANN_SYNC + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"synced_version": version}, fh)
    os.replace(tmp, index_dir.rstrip("/") + _ANN_SYNC)


def sync_ann_index_from_snapshot(
    spark: SparkSession,
    index_dir: str,
    table_path: str,
    dim: int,
    centroids: DataFrame,
) -> int:
    """Initial full build of the cell-partitioned index from the
    table's LATEST snapshot. Returns the synced version."""
    from cargo_chat_spark.sources.snapshots import manifest, snap_read

    v = int(manifest(table_path)["version"])
    write_index_partitioned(
        snap_read(spark, table_path).select("chunk_id", "embedding"),
        index_dir,
        dim,
        centroids,
    )
    _write_ann_sync(index_dir, v)
    return v


def apply_ann_cdc(
    spark: SparkSession, index_dir: str, table_path: str,
    to_version: int | None = None,
) -> int:
    """Advance the index through the table's row-level change feed:
    inserted/updated rows upsert (cell moves handled), deleted rows
    rewrite out of their cells — O(changed files + touched cells)."""
    from cargo_chat_spark.sources.snapshots import manifest, snap_changes, snap_read

    from_v = ann_synced_version(index_dir)
    if from_v < 0:
        raise ValueError(
            f"index at {index_dir} was not built by "
            "sync_ann_index_from_snapshot"
        )
    to_v = (
        int(manifest(table_path)["version"])
        if to_version is None
        else int(to_version)
    )
    if to_v == from_v:
        return to_v
    ch = snap_changes(spark, table_path, from_v, to_v, "chunk_id")
    fresh = (
        ch.where(F.col("change").isin("inserted", "updated"))
        .select("chunk_id")
        .distinct()
    )
    updates = snap_read(spark, table_path, to_v).join(
        F.broadcast(fresh), "chunk_id", "semi"
    ).select("chunk_id", "embedding")
    if updates.head(1):
        upsert_index_cells(spark, index_dir, updates)
    deleted = (
        ch.where(F.col("change") == "deleted")
        .select("chunk_id")
        .distinct()
    )
    if deleted.head(1):
        delete_index_ids(spark, index_dir, deleted)
    _write_ann_sync(index_dir, to_v)
    return to_v


def import_reference_index(
    spark: SparkSession, index_bin_path: str, out_dir: str
) -> tuple[DataFrame, dict]:
    """One-way migration from the reference's ``index.bin`` JSON
    (main.rs:365-368: ``{"index": ..., "vectors": [[f32,..],..],
    "metadata": [{file, code, language, extension},..]}`` — parallel
    arrays, ann.rs:165-172) into the parquet index layout, so an existing
    cargo-chat user can point this engine at their index unchanged.

    Mirrors the reference loader's contract (ann.rs:128-161): dimension is
    sniffed from the first vector, every vector must match it, and
    ``vectors``/``metadata`` lengths must agree. The reference only accepts
    512/1024 (its two ONNX models); we import any consistent dim and record
    it in the sidecar. Chunk ids are the positional indices the reference's
    in-memory Vec implies (ann.rs:263-268 returns positions).

    The JSON blob is inherently single-file/single-node (that's WHY the
    parquet layout replaces it) — parsing happens driver-side once, then the
    rows distribute via createDataFrame; fine for migration-sized indexes.
    """
    with open(index_bin_path, encoding="utf-8") as fh:
        raw = json.load(fh)
    vectors = raw.get("vectors")
    if not isinstance(vectors, list) or not vectors:
        raise ValueError("Missing or invalid 'vectors' field")  # ann.rs:133-139
    metadata = raw.get("metadata")
    if not isinstance(metadata, list) or len(metadata) != len(vectors):
        raise ValueError("vectors and metadata length mismatch")  # ann.rs:223-225
    dim = len(vectors[0])
    for i, v in enumerate(vectors):
        if len(v) != dim:
            raise ValueError(
                f"Expected vector of length {dim} but got {len(v)}"
            )  # ann.rs:200-204
    rows = [
        (
            i,
            m.get("file"),
            m.get("code"),
            m.get("language"),
            m.get("extension"),
            [float(x) for x in v],
        )
        for i, (v, m) in enumerate(zip(vectors, metadata))
    ]
    df = local_frame(spark, rows, INDEX_SCHEMA)
    write_index(df, out_dir, dim)
    return read_index(spark, out_dir)
