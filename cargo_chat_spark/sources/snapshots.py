"""Snapshot-versioned parquet table: time travel, CoW deletes, vacuum.

The remaining lakehouse primitive after data skipping
(``sorted_layout``), compaction (``index_cells``/``deletes``) and
merge-on-read deletes (``deletes``): SNAPSHOT ISOLATION. A 100 TB
training corpus needs reproducible reads ("train on exactly the corpus
as of snapshot 12"), safe concurrent readers while a writer lands a new
version, and auditable deletes — all of which Iceberg/Delta implement
as an immutable-data-files + versioned-manifest log. Same mechanism
here on plain parquet:

- Data files are IMMUTABLE and accumulate in the table directory; a
  snapshot is a JSON manifest (``_snapshots/v{N}.json``) listing the
  basenames that belong to that version. Readers resolve a manifest and
  scan exactly its file list — a concurrent writer can add files and
  commit v{N+1} without disturbing any v{N} reader (writes stage into an
  underscore-hidden directory and move in atomically per file).
- ``snap_append`` writes only the new rows' files; the new manifest is
  prev ∪ new (O(appended data), nothing rewritten).
- ``snap_delete`` is COPY-ON-WRITE at file granularity: only the files
  containing deleted keys are rewritten (same bounded
  ``input_file_name`` discovery as ``deletes.compact_deletes``); every
  unaffected file is SHARED between the old and new manifest, so a
  delete costs O(affected files) and historical versions stay readable.
- ``expire_snapshots`` (vacuum) drops old manifests and deletes only the
  files no retained manifest references — bounded metadata work, the
  one moment storage is actually reclaimed.

Pinned by ``tests/test_snapshots.py`` (immutability of historical reads,
file sharing across versions, vacuum reachability) and value-checked
end-to-end by the ``events_time_travel`` gate.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from cargo_chat_spark.sources._paths import strip_scheme as _local
from cargo_chat_spark.functions.localframe import local_frame

_SNAP_DIR = "_snapshots"
_STAGING = "_snap_staging"


def _snap_dir(path: str) -> str:
    return os.path.join(_local(path), _SNAP_DIR)


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_snap_dir(path), f"v{version}.json")


def versions(path: str) -> list[int]:
    """Committed snapshot versions, ascending."""
    d = _snap_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def manifest(path: str, version: int | None = None) -> dict:
    """The manifest of ``version`` (default: latest)."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    with open(_manifest_path(path, v)) as fh:
        return json.load(fh)


def _write_new_files(df: DataFrame, path: str, version: int) -> list[str]:
    """Stage-write ``df`` and move its part files into the table dir with
    a version-prefixed name (immutable; never collides with files of any
    other version). Returns the new basenames.

    The staging directory is PER-WRITER (pid + random suffix, mirroring
    the per-writer ``.tmp`` manifest naming): with a shared staging dir,
    a concurrent writer's ``overwrite`` could delete the first writer's
    staged part files mid-rename, letting the winning commit land a
    manifest silently missing rows. Per-writer staging means racing
    writers can never touch each other's files — the loser's only
    residue is its own orphaned staging dir, removed below."""
    import shutil
    import uuid

    root = _local(path)
    os.makedirs(root, exist_ok=True)
    staging = os.path.join(
        root, f"{_STAGING}.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("overwrite").parquet(staging)
    moved = []
    try:
        for f in sorted(os.listdir(staging)):
            if f.endswith(".parquet"):
                name = f"v{version}-{f}"
                os.rename(
                    os.path.join(staging, f), os.path.join(root, name)
                )
                moved.append(name)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return moved


def _footer_rows(root: str, names: list[str]) -> dict[str, int]:
    """Per-file row counts from the parquet FOOTERS (metadata pages only
    — no data is read). The Delta/Iceberg trick that makes
    ``SELECT COUNT(*)`` a metadata-only query."""
    import pyarrow.parquet as pq

    return {
        n: pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
        for n in names
    }


def _rows_map(path: str, version_files: list[str], new: list[str]) -> dict:
    """Row counts for a manifest: footer-read the NEW files, carry the
    previous manifest's counts for every shared (immutable) file."""
    carried: dict[str, int] = {}
    vs = versions(path)
    if vs:
        carried = manifest(path).get("rows", {})
    root = _local(path)
    out = {f: carried[f] for f in version_files if f in carried}
    missing = [f for f in version_files if f not in out]
    out.update(_footer_rows(root, missing))
    return out


def snap_count(path: str, version: int | None = None) -> int:
    """METADATA-ONLY row count of a snapshot: sum the manifest's
    per-file counts — zero data files are opened, no Spark job runs.
    At 100 TB this is the difference between an instant answer and a
    full scan; every commit path records the counts (new files from
    parquet footers, shared files carried forward)."""
    m = manifest(path, version)
    rows = m.get("rows")
    if rows is None or set(rows) != set(m["files"]):
        raise ValueError(
            f"manifest v{m['version']} lacks complete row stats"
        )
    # physical rows minus the deletion vector's positions (exact: the
    # vector is deduplicated and restricted to referenced files)
    return sum(rows.values()) - m.get("dv_rows", 0)


class SchemaEvolutionError(ValueError):
    """The batch's schema conflicts with the table's (a common column
    changed type). Additive evolution (new columns) is allowed; silent
    type changes are not — they would change values under the feet of
    every reader holding the stored schema."""


def _schema_of(m: dict):
    """The manifest's recorded table schema as a StructType, or None for
    legacy manifests (pre-evolution tables sniff footers as before)."""
    s = m.get("schema")
    if s is None:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(s)


def _merge_schema(prev: dict | None, batch_schema) -> dict:
    """Additive schema merge, the Delta mergeSchema contract: columns new
    in the batch append to the table schema; columns missing from the
    batch stay (old files keep serving them, new files surface NULL);
    a common column whose type changed raises — never a silent cast.
    The merged schema is stored IN the manifest, so reads never sniff
    parquet footers to discover the table schema (at 100 TB, footer
    sniffing across files is itself a job; the log answer is O(1))."""
    batch = batch_schema.jsonValue()
    if prev is None:
        return batch
    by_name = {f["name"]: f for f in prev["fields"]}
    for f in batch["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            prev = {**prev, "fields": prev["fields"] + [f]}
            by_name[f["name"]] = f
        elif old["type"] != f["type"]:
            raise SchemaEvolutionError(
                f"column {f['name']!r} changed type "
                f"{old['type']!r} -> {f['type']!r}"
            )
    return prev


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first. The losing writer's
    staged data files are orphans (invisible — no manifest references
    them; vacuum-able) and the table is untouched by the loser; re-run
    the operation against the new latest version to retry."""


def _commit(
    path: str, version: int, files: list[str], extra: dict | None = None
) -> None:
    """Write the version manifest by atomic PUT-IF-ABSENT — the single
    commit point every writer (batch AND streaming) goes through.
    ``os.link`` (not rename) makes the version file the lock: two
    writers racing to commit the same version cannot both win — rename
    would silently clobber the first manifest, corrupting the log; link
    fails with EEXIST for the loser, exactly Delta's putIfAbsent /
    Iceberg's atomic swap contract. ``extra`` merges additional metadata
    (e.g. the streaming batch-id fence) into the same atomic write, so
    metadata can never lag its version."""
    os.makedirs(_snap_dir(path), exist_ok=True)
    rows = _rows_map(path, sorted(files), [])
    # per-file column stats stay valid forever (files are immutable):
    # carry them across every commit so an OPTIMIZE's skipping power
    # survives later appends/deletes instead of dying with its version
    carried_stats: dict = {}
    vs = versions(path)
    if vs:
        prev_stats = manifest(path).get("stats", {})
        carried_stats = {f: prev_stats[f] for f in files if f in prev_stats}
    if extra and "stats" in extra:
        extra = {**extra, "stats": {**carried_stats, **extra["stats"]}}
    elif carried_stats:
        extra = {**(extra or {}), "stats": carried_stats}
    # per-writer staging name: racing writers must not collide on the
    # staging file either, only at the link (the commit point). pid
    # alone is NOT writer-unique — concurrent THREADS of one driver
    # (e.g. two streaming queries committing to the same table) share
    # it, and a tmp collision turns the loser's documented
    # ConcurrentCommitError into a FileNotFoundError when the winner's
    # cleanup removes the shared tmp (caught by
    # test_concurrent_appenders_stress). uuid makes it per-attempt.
    import uuid as _uuid

    tmp = (
        _manifest_path(path, version)
        + f".{os.getpid()}.{_uuid.uuid4().hex[:8]}.tmp"
    )
    with open(tmp, "w") as fh:
        json.dump(
            {
                "version": version,
                "files": sorted(files),
                "rows": rows,
                **(extra or {}),
            },
            fh, indent=1,
        )
    try:
        os.link(tmp, _manifest_path(path, version))  # atomic commit point
    except FileExistsError:
        raise ConcurrentCommitError(
            f"version {version} at {path} was committed by another "
            "writer; re-read the latest version and retry"
        ) from None
    finally:
        os.remove(tmp)


def snap_write(
    df: DataFrame, path: str,
    expectations: list[tuple[str, str]] | None = None,
    on_violation: str = "fail",
) -> int:
    """Create version 0 (or fully replace the logical content as a new
    version if snapshots already exist — old versions stay readable).
    ``expectations``: commit-time invariants (see check_expectations)."""
    df = check_expectations(df, expectations or [], on_violation)
    v = (versions(path)[-1] + 1) if versions(path) else 0
    _commit(
        path, v, _write_new_files(df, path, v),
        extra={"schema": df.schema.jsonValue()},
    )
    return v


def snap_append(
    df: DataFrame, path: str,
    expectations: list[tuple[str, str]] | None = None,
    on_violation: str = "fail",
) -> int:
    """New snapshot = previous files + the appended rows' new files.
    ``expectations``: commit-time invariants (see check_expectations) —
    checked against the BATCH before any file or manifest lands, so a
    failed commit leaves the table exactly at its previous version."""
    df = check_expectations(df, expectations or [], on_violation)
    prev = manifest(path)
    v = prev["version"] + 1
    merged = _merge_schema(prev.get("schema"), df.schema)
    extra: dict = {"schema": merged}
    # every previous file survives an append verbatim, so the previous
    # deletion vector stays valid in full and MUST carry over — dropping
    # it would resurrect every row-level-deleted row (caught by
    # tests/test_snapshots_model.py: append after snap_delete_rows)
    for dv_field in ("dv", "dv_rows"):
        if dv_field in prev:
            extra[dv_field] = prev[dv_field]
    _commit(
        path, v, prev["files"] + _write_new_files(df, path, v),
        extra=extra,
    )
    return v


def snap_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Scan exactly the manifest's file list (time travel when
    ``version`` is given, latest otherwise). The table schema comes from
    the MANIFEST, not from sniffing parquet footers — files written
    before an additive schema evolution surface the newer columns as
    NULL (the parquet reader fills missing columns), and discovering the
    schema is O(1) log metadata instead of a footer-listing job."""
    m = manifest(path, version)
    return _read_files_with_dv(spark, path, m, m["files"])


def snap_delete(
    spark: SparkSession, path: str, keys: DataFrame, key_col: str
) -> int:
    """Copy-on-write delete: rewrite ONLY the current version's files
    that contain deleted keys; share every other file with the previous
    manifest. Historical versions keep referencing the original files."""
    from pyspark.sql import functions as F

    prev = manifest(path)
    v = prev["version"] + 1
    k = F.broadcast(keys.select(key_col).distinct())
    affected = _affected_files_visible(spark, path, prev, keys, key_col)
    kept = [f for f in prev["files"] if f not in affected]
    new: list[str] = []
    if affected:
        # affected files read THROUGH the table schema AND the deletion
        # vector: the rewrite materializes prior row-level deletes
        # instead of resurrecting them
        survivors = _read_files_with_dv(
            spark, path, prev, sorted(affected)
        ).join(k, on=key_col, how="left_anti")
        new = _write_new_files(survivors, path, v)
    extra = _dv_restrict(spark, path, prev, kept, v)
    if "schema" in prev:
        extra["schema"] = prev["schema"]
    _commit(path, v, kept + new, extra=extra or None)
    return v


def snap_delete_where(
    spark: SparkSession, path: str, col: str, cutoff
) -> int:
    """Retention delete — ``DELETE WHERE col < cutoff`` resolved at FILE
    granularity through per-file min/max stats: a file whose max is
    below the cutoff is DROPPED from the manifest outright (metadata
    only — never opened, never rewritten; this is how expiring a month
    of data from a 100 TB time-clustered table costs seconds), a file
    whose min is at or past the cutoff is KEPT untouched, and only the
    straddling boundary files are rewritten with the row-level filter.
    Files without recorded stats get a one-pass column-pruned min/max
    probe (cheap: one column, footer-adjacent) and classify the same
    way. The dropped files stay on disk for time travel until
    ``expire_snapshots`` reclaims them."""
    from pyspark.sql import functions as F

    from cargo_chat_spark.sources.sorted_layout import _serialize

    prev = manifest(path)
    v = prev["version"] + 1
    root = _local(path)
    stats = prev.get("stats", {})
    cut = _serialize(cutoff)

    bounds: dict[str, tuple] = {}
    unstatted = []
    for f in prev["files"]:
        st = stats.get(f, {})
        if col in st:
            bounds[f] = (st[col][0], st[col][1])
        else:
            unstatted.append(f)
    if unstatted:
        probed = (
            spark.read.parquet(
                *(os.path.join(root, f) for f in unstatted)
            )
            .groupBy(F.input_file_name().alias("file"))
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()  # bounded: one row per probed file
        )
        for r in probed:
            bounds[os.path.basename(_local(r["file"]))] = (
                _serialize(r["lo"]), _serialize(r["hi"]),
            )

    kept, straddling = [], []
    for f in prev["files"]:
        lo, hi = bounds[f]
        if hi < cut:
            continue  # dropped whole — metadata only
        if lo >= cut:
            kept.append(f)
        else:
            straddling.append(f)

    new: list[str] = []
    if straddling:
        # boundary files read through the deletion vector: the rewrite
        # materializes prior row-level deletes instead of resurrecting
        survivors = _read_files_with_dv(
            spark, path, prev, sorted(straddling)
        ).where(F.col(col) >= F.lit(cutoff))
        new = _write_new_files(survivors, path, v)
    extra = _dv_restrict(spark, path, prev, kept, v)
    if "schema" in prev:
        extra["schema"] = prev["schema"]
    _commit(path, v, kept + new, extra=extra or None)
    return v


# --------------------------------------------------- deletion vectors
# Delta deletion vectors / Iceberg position deletes: a row-level
# merge-on-read delete records the exact (file, row_index) positions of
# the deleted rows in a tiny sidecar and commits a manifest that still
# references the UNTOUCHED data files — delete cost is O(deleted rows)
# regardless of how many 1 GB files they live in, where copy-on-write
# pays a rewrite of every file containing one matched row. Readers
# anti-join the positions (parquet's _metadata.row_index is stable per
# file); compaction later materializes the vector by rewriting only the
# dirty files. Each commit stores the COMPLETE vector state (positions
# are (string, long) pairs — O(deleted rows) bytes), so restriction
# after a CoW rewrite and exact metadata counts stay trivial.

_DV_DIR = "_dv"
_DV_SCHEMA = "file string, row_index bigint"


def _dv_positions(spark: SparkSession, path: str, m: dict):
    """The manifest's deleted (file, row_index) positions, or None."""
    if not m.get("dv"):
        return None
    root = _local(path)
    return spark.read.schema(_DV_SCHEMA).parquet(
        *(os.path.join(root, _DV_DIR, f) for f in m["dv"])
    )


def _dv_write(positions: DataFrame, path: str, version: int) -> dict:
    """Persist the complete DV state for ``version``; returns the
    manifest fields ({} when the vector is empty)."""
    import shutil
    import uuid as _uuid

    root = _local(path)
    dvdir = os.path.join(root, _DV_DIR)
    os.makedirs(dvdir, exist_ok=True)
    # per-writer staging (pid alone is shared by threads of one driver;
    # see _write_new_files / _commit): racing DV commits for the same
    # version must never overwrite each other's staged positions
    staging = os.path.join(
        dvdir,
        f"_staging_v{version}.{os.getpid()}.{_uuid.uuid4().hex[:8]}",
    )
    positions.select("file", "row_index").coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    moved = []
    try:
        for f in sorted(os.listdir(staging)):
            if f.endswith(".parquet"):
                name = f"v{version}-{f}"
                os.rename(
                    os.path.join(staging, f), os.path.join(dvdir, name)
                )
                moved.append(name)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    n = sum(_footer_rows(dvdir, moved).values())
    if n == 0:
        for f in moved:
            os.remove(os.path.join(dvdir, f))
        return {}
    return {"dv": moved, "dv_rows": n}


def _read_files_with_dv(
    spark: SparkSession, path: str, m: dict, files: list[str]
) -> DataFrame:
    """Explicit-schema scan of ``files`` with the manifest's deletion
    vector applied (left-anti join on (file, row_index))."""
    from pyspark.sql import functions as F

    root = _local(path)
    reader = spark.read
    schema = _schema_of(m)
    if schema is not None:
        reader = reader.schema(schema)
    if not files:
        # a delete that removed every row commits a manifest with an
        # empty file list — that version must read as an EMPTY frame
        # with the recorded table schema, not crash the reader
        if schema is None:
            raise ValueError(
                f"version {m.get('version')} has no files and no "
                "recorded schema — cannot construct the empty frame"
            )
        return local_frame(spark, [], schema)
    df = reader.parquet(*(os.path.join(root, f) for f in files))
    pos = _dv_positions(spark, path, m)
    if pos is None:
        return df
    cols = df.columns
    df = df.withColumn(
        "_dv_f",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    ).withColumn("_dv_r", F.col("_metadata.row_index"))
    cond = (df["_dv_f"] == pos["file"]) & (df["_dv_r"] == pos["row_index"])
    return df.join(pos, cond, "left_anti").select(*cols)


def _affected_files_visible(
    spark: SparkSession, path: str, m: dict, keys: DataFrame, key_col: str
) -> set[str]:
    """Basenames of the manifest's files containing a VISIBLE matched
    key — the DV-aware twin of ``deletes.affected_files`` (whose
    ``input_file_name`` cannot survive the DV anti-join's multi-source
    plan): one column-pruned scan carrying ``_metadata.file_path``,
    the version's deletion vector applied, broadcast semi-join, one
    collected row per affected FILE."""
    from pyspark.sql import functions as F

    if not m["files"]:  # empty table: nothing can match
        return set()
    root = _local(path)
    reader = spark.read
    schema = _schema_of(m)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(
        *(os.path.join(root, f) for f in m["files"])
    ).select(
        F.col(key_col),
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("_dv_f"),
        F.col("_metadata.row_index").alias("_dv_r"),
    )
    pos = _dv_positions(spark, path, m)
    if pos is not None:
        cond = (df["_dv_f"] == pos["file"]) & (
            df["_dv_r"] == pos["row_index"]
        )
        df = df.join(pos, cond, "left_anti")
    k = F.broadcast(keys.select(key_col).distinct())
    return {
        r["_dv_f"]
        for r in df.join(k, on=key_col, how="semi")
        .select("_dv_f")
        .distinct()
        .collect()  # bounded: one row per affected FILE
    }


def _dv_restrict(
    spark: SparkSession, path: str, prev: dict, surviving: list[str],
    version: int,
) -> dict:
    """Carry the previous DV across a commit that changed the file set:
    positions of files no longer referenced are dropped (a rewritten
    file materialized its deletes; a dropped file took them with it)."""
    from pyspark.sql import functions as F

    pos = _dv_positions(spark, path, prev)
    if pos is None:
        return {}
    kept = pos.where(F.col("file").isin(list(surviving)))
    return _dv_write(kept, path, version)


def snap_delete_rows(
    spark: SparkSession, path: str, keys: DataFrame, key_col: str
) -> int:
    """Row-level merge-on-read delete via a deletion vector: record the
    matched rows' (file, row_index) positions, touch NO data file. The
    commit carries the accumulated vector (old ∪ new, deduplicated), so
    waves compose and re-deleting a key is a no-op."""
    from pyspark.sql import functions as F

    prev = manifest(path)
    v = prev["version"] + 1
    if not prev["files"]:
        # empty version (an all-rows delete committed it): nothing can
        # match — commit an unchanged empty version rather than crash
        extra = {"schema": prev["schema"]} if "schema" in prev else None
        _commit(path, v, [], extra=extra)
        return v
    root = _local(path)
    reader = spark.read
    schema = _schema_of(prev)
    if schema is not None:
        reader = reader.schema(schema)
    k = F.broadcast(keys.select(key_col).distinct())
    new_pos = (
        reader.parquet(*(os.path.join(root, f) for f in prev["files"]))
        .select(
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("file"),
            F.col("_metadata.row_index").alias("row_index"),
            F.col(key_col),
        )
        .join(k, on=key_col, how="semi")
        .select("file", "row_index")
    )
    old = _dv_positions(spark, path, prev)
    all_pos = (
        new_pos if old is None else old.unionByName(new_pos)
    ).distinct()
    extra = _dv_write(all_pos, path, v)
    if "schema" in prev:
        extra["schema"] = prev["schema"]
    _commit(path, v, prev["files"], extra=extra or None)
    return v


def snap_compact_dv(spark: SparkSession, path: str) -> int:
    """Materialize the deletion vector: rewrite ONLY the dirty files
    (those holding deleted positions), reading them through the DV, and
    commit a vector-free manifest. O(dirty files), layout-only for the
    logical content — the change feed across it is empty."""
    prev = manifest(path)
    pos = _dv_positions(spark, path, prev)
    if pos is None:
        return prev["version"]
    v = prev["version"] + 1
    dirty_set = {
        r["file"] for r in pos.select("file").distinct().collect()
    }  # bounded: one row per dirty file
    dirty = sorted(dirty_set & set(prev["files"]))
    kept = [f for f in prev["files"] if f not in dirty_set]
    new = _write_new_files(
        _read_files_with_dv(spark, path, prev, dirty), path, v
    )
    extra = {"schema": prev["schema"]} if "schema" in prev else None
    _commit(path, v, kept + new, extra=extra)
    return v


def snap_compact_files(
    spark: SparkSession,
    path: str,
    small_bytes: int = 1 << 20,
    target_bytes: int = 1 << 27,
) -> int:
    """Delta's plain ``OPTIMIZE`` (bin-packing) as a snapshot commit:
    rewrite ONLY the files smaller than ``small_bytes`` — the residue a
    streaming sink's per-batch commits accumulate — grouped first-fit in
    name order into bins of ~``target_bytes``, one output file per bin.
    Large files survive BYTE-IDENTICAL (never read, never rewritten), so
    the cost is O(small files), not O(table). Rewritten files read
    through the deletion vector (their pending deletes materialize);
    untouched files keep their vector entries (``_dv_restrict``).
    Layout-only: the logical row set is unchanged, so ``snap_changes``
    across the commit is empty. Fewer than two small files is a no-op
    (no version committed)."""
    prev = manifest(path)
    root = _local(path)
    sizes = {
        f: os.path.getsize(os.path.join(root, f)) for f in prev["files"]
    }
    small = [f for f in prev["files"] if sizes[f] < small_bytes]
    if len(small) < 2:
        return prev["version"]
    v = prev["version"] + 1
    small_set = set(small)
    kept = [f for f in prev["files"] if f not in small_set]
    bins: list[list[str]] = []
    cur: list[str] = []
    cur_sz = 0
    for f in sorted(small):
        if cur and cur_sz + sizes[f] > target_bytes:
            bins.append(cur)
            cur, cur_sz = [], 0
        cur.append(f)
        cur_sz += sizes[f]
    if cur:
        bins.append(cur)
    new: list[str] = []
    for bin_files in bins:
        df = _read_files_with_dv(spark, path, prev, bin_files).coalesce(1)
        new += _write_new_files(df, path, v)
    extra = _dv_restrict(spark, path, prev, kept, v)
    if "schema" in prev:
        extra["schema"] = prev["schema"]
    _commit(path, v, kept + new, extra=extra)
    return v


# --------------------------------------------------- named refs (tags)
# Iceberg-style TAGS: a name pinned to a version. The semantic content
# is retention — expire_snapshots RETAINS every tagged version (and its
# files), so a tag is a durable anchor ("the v3 we trained run-42 on")
# that survives vacuum until explicitly dropped.

_TAGS_FILE = "_tags.json"


def _tags_path(path: str) -> str:
    return os.path.join(_snap_dir(path), _TAGS_FILE)


def list_tags(path: str) -> dict[str, int]:
    try:
        with open(_tags_path(path)) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}
    except (OSError, ValueError):
        return {}


def _write_tags(path: str, tags: dict[str, int]) -> None:
    tmp = _tags_path(path) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(tags, fh)
    os.replace(tmp, _tags_path(path))


def snap_tag(path: str, name: str, version: int | None = None) -> int:
    """Pin ``name`` to ``version`` (latest by default). Re-tagging an
    existing name moves it. The version must exist."""
    v = int(manifest(path)["version"]) if version is None else int(version)
    if v not in versions(path):
        raise ValueError(f"cannot tag non-existent version {v}")
    tags = list_tags(path)
    tags[name] = v
    _write_tags(path, tags)
    return v


def snap_drop_tag(path: str, name: str) -> None:
    tags = list_tags(path)
    if name in tags:
        del tags[name]
        _write_tags(path, tags)


def snap_read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    tags = list_tags(path)
    if name not in tags:
        raise ValueError(f"unknown tag {name!r} (have {sorted(tags)})")
    return snap_read(spark, path, tags[name])


def expire_snapshots(
    path: str, keep_last: int = 1, orphan_cold_seconds: float = 3600.0
) -> list[str]:
    """Vacuum: drop all but the last ``keep_last`` manifests and delete
    the data files no retained manifest references — EXCEPT tagged
    versions, which are retained with their files until the tag is
    dropped (Iceberg ref semantics). Returns the deleted basenames.
    ``keep_last < 1`` is a defensive no-op (expiring every manifest
    would leave an unreadable table, never what a vacuum means).

    ``orphan_cold_seconds`` guards the orphan sweep (staging dirs and
    manifest-unreferenced part files): only files whose mtime is older
    than this are treated as dead. Set it ABOVE the longest expected
    stage-write→commit span on your cluster — a live writer mid-commit
    for longer than the threshold would otherwise have its files
    vacuumed from under it (round-7 ADVICE; Delta's equivalent contract
    is that VACUUM's retention must exceed the longest-running
    transaction). Committed, manifest-referenced files are never subject
    to this clock."""
    vs = versions(path)
    retained = set(vs[-keep_last:]) if keep_last > 0 else set(vs)
    retained |= {v for v in list_tags(path).values() if v in set(vs)}
    reachable: set[str] = set()
    reachable_dv: set[str] = set()
    for v in retained:
        m = manifest(path, v)
        reachable.update(m["files"])
        reachable_dv.update(m.get("dv", []))
    dropped: set[str] = set()
    dropped_dv: set[str] = set()
    for v in vs:
        if v in retained:
            continue
        m = manifest(path, v)
        dropped.update(m["files"])
        dropped_dv.update(m.get("dv", []))
        os.remove(_manifest_path(path, v))
    root = _local(path)
    removed = sorted(dropped - reachable)
    # deletion-vector sidecars of expired manifests are reclaimed too
    # (not reported: the return contract is removed DATA basenames)
    doomed = [os.path.join(root, f) for f in removed] + [
        os.path.join(root, _DV_DIR, f)
        for f in sorted(dropped_dv - reachable_dv)
    ]
    for p in doomed:
        # a vacuum that crashed mid-delete and is re-run must not die on
        # the files it already reclaimed — removal is replay-idempotent
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    # orphaned per-writer staging dirs (a writer that crashed mid-stage,
    # or a loser of a concurrent-commit race) are invisible to every
    # manifest by construction — vacuum is the documented reclaim point.
    # Only COLD dirs go (no mtime within orphan_cold_seconds): a LIVE
    # writer's staging must never be swept from under it.
    import shutil
    import time as _time

    cutoff = _time.time() - orphan_cold_seconds
    for d in os.listdir(root):
        if d.startswith(_STAGING + ".") or d == _STAGING:
            full = os.path.join(root, d)
            try:
                newest = max(
                    (os.path.getmtime(os.path.join(dp, f))
                     for dp, _, fs in os.walk(full) for f in fs),
                    default=os.path.getmtime(full),
                )
                if newest < cutoff:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
    # data/DV files referenced by NO manifest at all: a commit-race
    # loser moved its part files into the table dir before losing the
    # version link, so they appear in neither `dropped` nor `reachable`
    # above (Delta's uncommitted-file vacuum case). Same cold guard —
    # a LIVE writer between its move and its commit must not be swept.
    survivors_ref: set[str] = set()
    survivors_dv: set[str] = set()
    for v in versions(path):
        m = manifest(path, v)
        survivors_ref.update(m["files"])
        survivors_dv.update(m.get("dv", []))
    for base, ref in ((root, survivors_ref),
                      (os.path.join(root, _DV_DIR), survivors_dv)):
        if not os.path.isdir(base):
            continue
        for f in os.listdir(base):
            p = os.path.join(base, f)
            if (
                f.endswith(".parquet") and f not in ref
                and os.path.isfile(p)
            ):
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                        removed.append(f)
                except OSError:
                    pass
    return sorted(removed)


def snap_restore(path: str, version: int) -> int:
    """Delta's ``RESTORE TABLE ... VERSION AS OF`` as a snapshot commit:
    the new manifest's file list IS the target version's file list — a
    pure METADATA operation (one JSON rename), zero data copied no
    matter how large the table, because data files are immutable and
    shared across manifests. History is preserved (the rolled-back
    versions stay readable; restore is itself undoable by another
    restore), and the carried ``rows``/``stats`` metadata keeps
    metadata-only counts and stats-pruned reads working on the restored
    version. Fails loudly if vacuum already reclaimed any of the target
    version's files (the one way a restore target can die)."""
    src = manifest(path, version)
    root = _local(path)
    needed = list(src["files"]) + [
        os.path.join(_DV_DIR, f) for f in src.get("dv", [])
    ]
    missing = [
        f for f in needed if not os.path.isfile(os.path.join(root, f))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore to v{version}: files vacuumed {missing}"
        )
    v = versions(path)[-1] + 1
    extra: dict = {"restored_from": version}
    for carried in ("stats", "schema", "dv", "dv_rows"):
        if carried in src:
            extra[carried] = src[carried]
    _commit(path, v, list(src["files"]), extra=extra)
    return v


def _require_unique_keys(
    df: DataFrame, key_col: str, op: str, visible_keys=None
) -> None:
    """Delta MERGE raises when a target row matches MULTIPLE source rows;
    without this guard the left join silently fans matched rows out and
    whole-row upserts insert both duplicates (same contract as
    ``index_cells.upsert_index_cells``).

    Exact Delta semantics (round-7 ADVICE): duplicate source keys that
    match NO target row are legal — each row inserts (both entry points'
    insert paths naturally do this). Only duplicates that match a
    visible target row raise. ``visible_keys`` is a lazy thunk returning
    the visible target key frame; it is invoked ONLY when the source
    actually carries duplicates (one map-side-combined aggregate over
    the BATCH, short-circuited by limit(1), decides that), so the
    duplicate-free common case never scans the table here."""
    from pyspark.sql import functions as F

    dups = (
        df.groupBy(key_col)
        .count()
        .where(F.col("count") > 1)
        .select(key_col)
    )
    if not dups.limit(1).count():
        return
    vk = visible_keys() if visible_keys is not None else None
    if vk is None or dups.join(vk, on=key_col, how="semi").limit(1).count():
        raise ValueError(
            f"{op}: source carries duplicate {key_col!r} keys matching a "
            "target row — MERGE semantics forbid multiple source matches "
            "per target row; collapse duplicates before merging"
        )


def snap_merge(
    spark: SparkSession, path: str, updates: DataFrame, key_col: str
) -> int:
    """MERGE INTO by key (whole-row upsert): rows of ``updates`` whose key
    exists replace the stored row; unseen keys are inserts. Copy-on-write
    like :func:`snap_delete` — only files containing MATCHED keys are
    rewritten (their unmatched rows survive verbatim); the updates
    themselves land as new files; everything else is shared with the
    previous manifest. Cost: O(affected files + update size), never a
    table rewrite — the same replace-by-key primitive as the ANN index
    upsert (``index_cells.upsert_index_cells``), lifted to table snapshots."""
    from pyspark.sql import functions as F

    prev = manifest(path)
    v = prev["version"] + 1
    merged = _merge_schema(prev.get("schema"), updates.schema)
    # whole-row upsert: the updates must state every table column (an
    # absent column would silently NULL the matched rows' values)
    missing = [
        f["name"] for f in merged["fields"]
        if f["name"] not in updates.columns
    ]
    if missing:
        raise SchemaEvolutionError(
            f"MERGE updates lack table columns {missing}: whole-row "
            "upserts must state every column"
        )
    # the uniqueness guard and the affected-file discovery are both
    # side-effect-free reads of independent inputs (the batch vs the
    # table's key column) — overlap them (guide §2.6); the guard's
    # exception re-raises at join(), BEFORE any file is staged
    from cargo_chat_spark.functions.overlap import spawn_job

    guard = spawn_job(
        lambda: _require_unique_keys(
            updates, key_col, "snap_merge",
            visible_keys=lambda: _read_files_with_dv(
                spark, path, prev, prev["files"]
            ).select(key_col),
        )
    )
    k = F.broadcast(updates.select(key_col).distinct())
    affected = _affected_files_visible(spark, path, prev, updates, key_col)
    guard.join()
    kept = [f for f in prev["files"] if f not in affected]
    new_rows = updates
    if affected:
        # survivors read through the MERGED schema (so a merge that
        # evolves the schema rewrites pre-evolution survivors with the
        # new column as NULL and unionByName lines up exactly) and
        # through the deletion vector (prior row-level deletes are
        # materialized by the rewrite, not resurrected)
        survivors = _read_files_with_dv(
            spark, path, {**prev, "schema": merged}, sorted(affected)
        ).join(k, on=key_col, how="left_anti")
        new_rows = survivors.unionByName(updates)
    new = _write_new_files(new_rows, path, v)
    extra = _dv_restrict(spark, path, prev, kept, v)
    extra["schema"] = merged
    _commit(path, v, kept + new, extra=extra)
    return v


def snap_merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_col: str,
    *,
    matched_update: dict[str, str] | None = None,
    matched_delete: str | None = None,
    insert_unmatched: bool = True,
) -> int:
    """Full conditional MERGE INTO (Delta/SQL:2003 semantics), CoW at
    file granularity:

    - WHEN MATCHED AND ``matched_delete`` THEN DELETE (evaluated first,
      like Delta's clause ordering when the delete condition is given);
    - WHEN MATCHED THEN UPDATE SET ``matched_update`` — a {column: SQL
      expression} map evaluated over the aliased pair (``t`` = target
      row, ``s`` = source row), unlisted columns keep ``t``'s value;
    - WHEN NOT MATCHED THEN INSERT the source row (``insert_unmatched``).

    Cost model identical to :func:`snap_merge`: only files containing a
    VISIBLE matched key are rewritten (their unmatched rows survive
    verbatim, pending deletion-vector rows are materialized out),
    inserts land as new files, everything else is shared with the
    previous manifest. The key-only anti-scan for unmatched detection is
    column-pruned — at 100 TB it reads one column, not the table."""
    from pyspark.sql import functions as F

    prev = manifest(path)
    v = prev["version"] + 1
    merged = _merge_schema(prev.get("schema"), source.schema)
    table_cols = [f["name"] for f in merged["fields"]]
    missing = [c for c in table_cols if c not in source.columns]
    if missing:
        raise SchemaEvolutionError(
            f"MERGE source lacks table columns {missing}"
        )
    bad = [c for c in (matched_update or {}) if c not in table_cols]
    if bad:
        raise ValueError(f"UPDATE SET targets unknown columns {bad}")
    # overlapped exactly like snap_merge: guard ‖ discovery, join before
    # any write (guide §2.6)
    from cargo_chat_spark.functions.overlap import spawn_job

    guard = spawn_job(
        lambda: _require_unique_keys(
            source, key_col, "snap_merge_into",
            visible_keys=lambda: _read_files_with_dv(
                spark, path, prev, prev["files"]
            ).select(key_col),
        )
    )
    affected = _affected_files_visible(spark, path, prev, source, key_col)
    guard.join()
    kept = [f for f in prev["files"] if f not in affected]

    frames = []
    if affected:
        t = _read_files_with_dv(
            spark, path, {**prev, "schema": merged}, sorted(affected)
        ).alias("t")
        s = source.alias("s")
        # no forced broadcast: the source carries full rows and can be
        # large — AQE picks broadcast when it is in fact small
        j = t.join(
            s, F.col(f"t.{key_col}") == F.col(f"s.{key_col}"), "left"
        )
        matched = F.col(f"s.{key_col}").isNotNull()
        if matched_delete is not None:
            j = j.where(~(matched & F.expr(matched_delete)))
        upd = matched_update or {}
        out_cols = [
            F.when(matched, F.expr(upd[c])).otherwise(F.col(f"t.{c}"))
            .alias(c)
            if c in upd
            else F.col(f"t.{c}").alias(c)
            for c in table_cols
        ]
        frames.append(j.select(*out_cols))
    if insert_unmatched:
        # column-pruned key scan of the VISIBLE stored table (deletion
        # vector applied): Delta MERGE semantics — a key whose only
        # stored rows are DV-deleted is logically absent, so the SOURCE
        # row inserts (upsert-after-delete). This is not resurrection:
        # the inserted values are the source's, and the matched-file
        # rewrite reads through the DV (above), so the deleted TARGET
        # row's old values can never come back. Matches snap_merge,
        # which always lands every source row (round-7 ADVICE: the two
        # entry points previously diverged and upsert-after-delete
        # silently dropped the source row here).
        if not prev["files"]:  # empty table: every source row inserts
            frames.append(source.select(*table_cols))
        else:
            keys_df = _read_files_with_dv(
                spark, path, prev, prev["files"]
            ).select(key_col)
            inserts = source.join(
                keys_df, on=key_col, how="left_anti"
            ).select(*table_cols)
            frames.append(inserts)

    new: list[str] = []
    if frames:
        rows = frames[0]
        for fr in frames[1:]:
            rows = rows.unionByName(fr)
        new = _write_new_files(rows, path, v)
    extra = _dv_restrict(spark, path, prev, kept, v)
    extra["schema"] = merged
    _commit(path, v, kept + new, extra=extra)
    return v


def snap_file_deltas(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Signed row deltas between two snapshots: rows of to-only files
    carry ``sgn`` +1, rows of from-only files -1, each side under its
    own version's deletion vector. A copy-on-write survivor that merely
    moved files appears identically with both signs and cancels EXACTLY
    in any additive consumer — the bag-algebra change feed incremental
    view maintenance needs (queries/storage.py::incremental_join_cdc).

    Files SHARED by both manifests can still differ logically when a
    merge-on-read commit grew the deletion vector (snap_delete_rows) or
    a restore shrank it: those rows never move files, so the manifest
    diff alone misses them. The shared-file pass diffs the two DV
    position sets and emits sgn -1 for newly deleted positions and +1
    for restored ones, scanning ONLY the shared files actually named in
    the position diff.

    Cost is O(changed files + DV-touched files), never O(table). Both
    sides read through the to-version schema (same evolution rule as
    snap_changes)."""
    from pyspark.sql import functions as F

    m_a, m_b = manifest(path, from_version), manifest(path, to_version)
    ma, mb = set(m_a["files"]), set(m_b["files"])

    def with_to_schema(m: dict) -> dict:
        out = dict(m)
        if "schema" in m_b:
            out["schema"] = m_b["schema"]
        else:
            out.pop("schema", None)
        return out

    def side(files: set[str], m: dict, sign: int) -> DataFrame | None:
        if not files:
            return None
        return _read_files_with_dv(
            spark, path, with_to_schema(m), sorted(files)
        ).withColumn("sgn", F.lit(sign))

    parts = [
        p
        for p in (
            side(mb - ma, m_b, 1),
            side(ma - mb, m_a, -1),
        )
        if p is not None
    ]

    # shared-file DV diff (merge-on-read deletes / restores)
    shared = ma & mb
    if shared:
        dv_a = _dv_positions(spark, path, m_a)
        dv_b = _dv_positions(spark, path, m_b)

        # shared-file restriction as a broadcast semi-join (DATA, not an
        # In-expression with one literal per file — the plan stays O(1)
        # however many files the manifests share; only the DV rows that
        # actually touch a shared file survive)
        shared_df = F.broadcast(
            local_frame(spark, 
                [(f,) for f in sorted(shared)], "file string"
            )
        )

        def dv_only(in_dv, not_in_dv) -> DataFrame | None:
            """Positions of ``in_dv`` absent from ``not_in_dv``,
            restricted to the shared files."""
            if in_dv is None:
                return None
            d = in_dv.join(shared_df, "file", "semi")
            if not_in_dv is not None:
                d = d.join(
                    not_in_dv, on=["file", "row_index"], how="left_anti"
                )
            return d

        root = _local(path)
        reader = spark.read
        schema = _schema_of(with_to_schema(m_b))
        if schema is not None:
            reader = reader.schema(schema)
        for diff, sign in ((dv_only(dv_b, dv_a), -1),
                           (dv_only(dv_a, dv_b), 1)):
            if diff is None:
                continue
            # bounded collect: one row per DV-touched shared FILE
            touched = sorted(
                r["file"] for r in diff.select("file").distinct().collect()
            )
            if not touched:
                continue
            raw = reader.parquet(
                *(os.path.join(root, f) for f in touched)
            )
            cols = raw.columns
            raw = raw.withColumn(
                "_dv_f",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ),
            ).withColumn("_dv_r", F.col("_metadata.row_index"))
            cond = (raw["_dv_f"] == diff["file"]) & (
                raw["_dv_r"] == diff["row_index"]
            )
            parts.append(
                raw.join(F.broadcast(diff), cond, "left_semi")
                .select(*cols)
                .withColumn("sgn", F.lit(sign))
            )

    if not parts:
        # no file-level or DV-level change: empty signed frame with the
        # to-schema
        empty = _read_files_with_dv(spark, path, with_to_schema(m_b), [])
        return empty.withColumn("sgn", F.lit(1))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def snap_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
    key_col: str,
) -> DataFrame:
    """Row-level change feed between two snapshots: (change, key) rows
    with change ∈ {inserted, deleted, updated}. Reads ONLY the files that
    differ between the two manifests — shared files cannot contain
    changes by construction (files are immutable), so CDC costs
    O(changed files), not O(table); this is what makes incremental
    downstream recompute viable at 100 TB. A key present in both diff
    sets counts as updated only if its ROW changed (md5 over all columns
    distinguishes a real update from a copy-on-write survivor that merely
    moved files)."""
    from pyspark.sql import functions as F

    m_a, m_b = manifest(path, from_version), manifest(path, to_version)
    ma, mb = set(m_a["files"]), set(m_b["files"])
    root = _local(path)
    # both sides read through the TO-version schema (the additive
    # superset): pre-evolution survivor files then hash with the new
    # columns as NULL on both sides, so a CoW move across a schema
    # evolution can't masquerade as an update. Each side applies its
    # OWN version's deletion vector — a row a CoW rewrite materialized
    # out was already logically absent on the DV side, so it cancels.
    def with_to_schema(m: dict) -> dict:
        out = dict(m)
        if "schema" in m_b:
            out["schema"] = m_b["schema"]
        else:
            out.pop("schema", None)
        return out

    def side(files: set[str], m: dict) -> DataFrame | None:
        if not files:
            return None
        df = _read_files_with_dv(
            spark, path, with_to_schema(m), sorted(files)
        )
        # concat_ws silently DROPS null cells, so rows differing only in
        # which column is null would collide — encode null explicitly
        cols = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in sorted(df.columns)
        ]
        return df.select(
            F.col(key_col).alias("k"),
            F.md5(F.concat_ws("\x1f", *cols)).alias("h"),
        )

    a, b = side(ma - mb, m_a), side(mb - ma, m_b)
    base = None
    if a is not None and b is not None:
        j = a.alias("a").join(
            b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer"
        )
        base = (
            j.select(
                F.when(F.col("a.k").isNull(), "inserted")
                .when(F.col("b.k").isNull(), "deleted")
                .when(F.col("a.h") != F.col("b.h"), "updated")
                .alias("change"),
                F.coalesce(F.col("a.k"), F.col("b.k")).alias(key_col),
            )
            .where(F.col("change").isNotNull())
        )
    elif a is not None:
        base = a.select(
            F.lit("deleted").alias("change"), F.col("k").alias(key_col)
        )
    elif b is not None:
        base = b.select(
            F.lit("inserted").alias("change"), F.col("k").alias(key_col)
        )

    # deletion-vector delta over SHARED files: a DV-only commit changes
    # no file, so the row-level changes live purely in the position
    # sets. Positions new in B are deletes; positions gone from B (a
    # RESTORE across a DV delete) are re-inserts. Only the files the
    # delta actually names are read — CDC stays O(changed positions).
    frames = [] if base is None else [base]
    shared = ma & mb
    if shared:
        empty = local_frame(spark, [], _DV_SCHEMA)
        pa = _dv_positions(spark, path, m_a) or empty
        pb = _dv_positions(spark, path, m_b) or empty
        sh = sorted(shared)
        pa = pa.where(F.col("file").isin(sh))
        pb = pb.where(F.col("file").isin(sh))
        for pos, label in (
            (pb.exceptAll(pa), "deleted"),
            (pa.exceptAll(pb), "inserted"),
        ):
            need = sorted(
                r["file"] for r in pos.select("file").distinct().collect()
            )  # bounded: one row per touched file
            if not need:
                continue
            df = _read_files_with_dv(
                spark, path, {**with_to_schema(m_b), "dv": None}, need
            )
            df = df.withColumn(
                "_dv_f",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ),
            ).withColumn("_dv_r", F.col("_metadata.row_index"))
            cond = (df["_dv_f"] == pos["file"]) & (
                df["_dv_r"] == pos["row_index"]
            )
            frames.append(
                df.join(pos, cond, "semi").select(
                    F.lit(label).alias("change"), F.col(key_col)
                )
            )

    if not frames:
        # derive the key's REAL type from the table (hardcoding one
        # would make the empty-diff frame schema-incompatible with the
        # non-empty branches for non-bigint keys)
        key_type = (
            snap_read(spark, path, to_version)
            .schema[key_col].dataType.simpleString()
        )
        return local_frame(spark, 
            [], f"change string, {key_col} {key_type}"
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


class ExpectationViolation(ValueError):
    """A commit-time expectation failed; the table was left at its
    previous version (no manifest was written)."""


def check_expectations(
    df: DataFrame,
    expectations: list[tuple[str, str]],
    on_violation: str = "fail",
) -> DataFrame:
    """Delta-style commit-time data quality gates: each expectation is
    (name, SQL predicate) that every committed row must satisfy.

    ``on_violation='fail'`` counts violators per expectation in ONE
    aggregate pass and raises :class:`ExpectationViolation` before
    anything is written — the commit is atomic, so readers never see a
    version that violates a declared invariant. ``'drop'`` instead
    filters violating rows out of the commit (DLT's expect_or_drop).
    Scale: the fail path costs one extra scan of the BATCH (not the
    table); the drop path is a fused filter, zero extra passes.

    NULL predicate results PASS in both modes (SQL CHECK-constraint
    semantics, also Delta's): a row the predicate cannot decide is not a
    violation. Both modes share the same ``coalesce(pred, true)`` form
    so they can never disagree on which rows satisfy an expectation."""
    from pyspark.sql import functions as F

    if not expectations:
        return df
    if on_violation == "drop":
        out = df
        for _, pred in expectations:
            out = out.where(F.coalesce(F.expr(pred), F.lit(True)))
        return out
    if on_violation != "fail":
        raise ValueError(f"unknown on_violation mode: {on_violation}")
    counts = df.agg(
        *[
            F.sum(
                F.when(
                    ~F.coalesce(F.expr(pred), F.lit(True)), 1
                ).otherwise(0)
            ).alias(name)
            for name, pred in expectations
        ]
    ).first()
    bad = {n: counts[n] for n, _ in expectations if (counts[n] or 0) > 0}
    if bad:
        raise ExpectationViolation(
            f"expectations violated, commit aborted: {bad}"
        )
    return df


def snap_optimize(
    spark: SparkSession,
    path: str,
    col_a: str,
    col_b: str | None = None,
    n_files: int = 16,
) -> int:
    """Delta's ``OPTIMIZE [ZORDER BY]`` as a snapshot commit: rewrite the
    LATEST version's content into ``n_files`` files ordered by ``col_a``
    (1-D range sort) or z-ordered on ``(col_a, col_b)``, record per-file
    min/max COLUMN STATS for the cluster columns inside the manifest
    (Iceberg's per-data-file stats), and commit it as a new version.
    Layout-only by construction: the row set is untouched, so
    ``snap_changes(pre, post)`` is EMPTY (every row's hash cancels
    between the diff sides — pinned), historical versions keep their
    files, and readers holding the old version are undisturbed.
    ``snap_read_pruned`` then skips files by these stats."""
    from pyspark.sql import functions as F

    from cargo_chat_spark.sources.sorted_layout import _serialize, _zvalue

    prev = manifest(path)
    v = prev["version"] + 1
    root = _local(path)
    cur = snap_read(spark, path)
    if not prev["files"] or not cur.head(1):
        # an all-rows delete can commit an empty version; OPTIMIZE on it
        # is a no-op layout commit (the z-value bounds would be NULL)
        extra: dict = {"stats": {}}
        if "schema" in prev:
            extra["schema"] = prev["schema"]
        _commit(path, v, [], extra=extra)
        return v
    kinds = dict(cur.dtypes)
    if col_b is None:
        ordered = cur.repartitionByRange(n_files, F.col(col_a))
        ordered = ordered.sortWithinPartitions(col_a)
        stat_cols = [col_a]
    else:
        b_num = (
            f"unix_seconds({col_b})"
            if kinds.get(col_b) == "timestamp"
            else col_b
        )
        lo_a, hi_a, lo_b, hi_b = cur.selectExpr(
            f"min({col_a})", f"max({col_a})", f"min({b_num})", f"max({b_num})"
        ).first()
        z = _zvalue(col_a, b_num, (lo_a, hi_a, lo_b, hi_b))
        ordered = (
            cur.withColumn("_z", z)
            .repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        stat_cols = [col_a, col_b]
    new = _write_new_files(ordered, path, v)
    # stats from the files AS WRITTEN (what is recorded is what is on
    # disk), one column-pruned aggregate scan over the new files only
    aggs = []
    for c in stat_cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    rows = (
        spark.read.parquet(*(os.path.join(root, f) for f in new))
        .groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .collect()  # bounded: one row per file
    )
    stats = {
        os.path.basename(_local(r["file"])): {
            c: [_serialize(r[f"lo_{c}"]), _serialize(r[f"hi_{c}"])]
            for c in stat_cols
        }
        for r in rows
    }
    extra: dict = {"stats": stats}
    if "schema" in prev:
        extra["schema"] = prev["schema"]
    _commit(path, v, new, extra=extra)
    return v


def snap_read_pruned(
    spark: SparkSession,
    path: str,
    predicates: dict,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned time-travel read: open only the files whose manifest
    min/max overlap every ``{col: (lo, hi)}`` half-open band; files
    WITHOUT recorded stats are always opened (pruning can only skip what
    the stats prove disjoint — correctness never depends on them).
    Predicates are re-applied row-level, so the result is identical to a
    full scan + filter by construction."""
    from pyspark.sql import functions as F

    from cargo_chat_spark.sources.sorted_layout import _serialize

    m = manifest(path, version)
    stats = m.get("stats", {})
    root = _local(path)

    def overlaps(fname: str) -> bool:
        st = stats.get(fname)
        if st is None:
            return True
        for c, (lo, hi) in predicates.items():
            if c not in st:
                continue
            flo, fhi = st[c]
            r_lo, r_hi = _serialize(lo), _serialize(hi)
            if fhi < r_lo or flo >= r_hi:
                return False
        return True

    reader = spark.read
    schema = _schema_of(m)
    if schema is not None:
        reader = reader.schema(schema)
    files = [f for f in m["files"] if overlaps(f)]
    if not files:
        out = reader.parquet(
            *(os.path.join(root, f) for f in m["files"])
        ).where(F.lit(False))
    else:
        out = reader.parquet(*(os.path.join(root, f) for f in files))
    for c, (lo, hi) in predicates.items():
        out = out.where((F.col(c) >= F.lit(lo)) & (F.col(c) < F.lit(hi)))
    return out
