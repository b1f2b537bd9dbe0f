"""Physical pins for snapshot versioning (sources/snapshots.py):
historical reads are immutable, copy-on-write deletes share unaffected
files between manifests, a reader holding an old version is undisturbed
by later commits, and vacuum removes exactly the unreachable files.
The values contract is carried by the ``incremental_join_cdc`` gate."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from cargo_chat_spark.sources.snapshots import (
    expire_snapshots,
    manifest,
    snap_append,
    snap_delete,
    snap_read,
    snap_write,
    versions,
)
from cargo_chat_spark.sources.testdata import load_table
from tests.conftest import SF_DIR_SMALL


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _file_stats(out, names):
    return {
        f: (os.path.getsize(os.path.join(out, f)),
            os.path.getmtime(os.path.join(out, f)))
        for f in names
    }


def _build(spark, out):
    e = load_table(spark, SF_DIR_SMALL, "events")
    # user-local multi-file layout so the later delete of users 7/11
    # affects a strict subset of each version's files
    v0 = snap_write(
        e.where(F.col("user_id") < 8).repartitionByRange(4, F.col("user_id")),
        out,
    )
    v1 = snap_append(
        e.where(F.col("user_id") >= 8).repartitionByRange(4, F.col("user_id")),
        out,
    )
    v2 = snap_delete(
        spark, out, e.where(F.col("user_id").isin(7, 11)).select("event_id"),
        "event_id",
    )
    return e, (v0, v1, v2)


def test_time_travel_reads_and_immutability(spark, tmp_path):
    out = str(tmp_path / "snap")
    e, (v0, v1, v2) = _build(spark, out)
    assert (v0, v1, v2) == (0, 1, 2)

    m0 = manifest(out, 0)
    stats_before = _file_stats(out, m0["files"])

    assert _rows(snap_read(spark, out, 0)) == _rows(
        e.where(F.col("user_id") < 8)
    )
    assert _rows(snap_read(spark, out, 1)) == _rows(e)
    assert _rows(snap_read(spark, out)) == _rows(
        e.where(~F.col("user_id").isin(7, 11))
    )
    # v0's physical files were never touched by the append or the delete
    assert _file_stats(out, m0["files"]) == stats_before


def test_cow_delete_shares_unaffected_files(spark, tmp_path):
    out = str(tmp_path / "snap")
    _build(spark, out)
    m1, m2 = manifest(out, 1), manifest(out, 2)
    shared = set(m1["files"]) & set(m2["files"])
    rewritten = set(m1["files"]) - set(m2["files"])
    assert shared, "CoW must share every unaffected file"
    assert rewritten, "the deleted users' files must be replaced"
    # new files belong to v2 exclusively
    assert all(f.startswith("v2-") for f in set(m2["files"]) - shared)


def test_reader_on_old_version_survives_later_commits(spark, tmp_path):
    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events")
    snap_write(e.where(F.col("user_id") < 8), out)
    reader = snap_read(spark, out, 0)  # lazy plan pinned to v0's files
    want = _rows(e.where(F.col("user_id") < 8))
    snap_append(e.where(F.col("user_id") >= 8), out)
    snap_delete(
        spark, out, e.where(F.col("user_id") < 5).select("event_id"),
        "event_id",
    )
    assert _rows(reader) == want  # collected AFTER both commits


def test_vacuum_removes_exactly_unreachable_files(spark, tmp_path):
    out = str(tmp_path / "snap")
    e, _ = _build(spark, out)
    m2 = manifest(out, 2)
    unreachable = (
        set(manifest(out, 0)["files"]) | set(manifest(out, 1)["files"])
    ) - set(m2["files"])
    want_latest = _rows(snap_read(spark, out))

    removed = expire_snapshots(out, keep_last=1)
    assert set(removed) == unreachable and removed
    assert versions(out) == [2]
    for f in m2["files"]:
        assert os.path.exists(os.path.join(out, f))
    assert _rows(snap_read(spark, out)) == want_latest


def test_merge_upserts_by_key_and_shares_files(spark, tmp_path):
    from cargo_chat_spark.sources.snapshots import snap_merge

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events")
    # multi-file base, user-local files -> the merge must not touch the
    # files that hold no matched keys
    snap_write(e.repartitionByRange(8, F.col("user_id")), out)
    updates = e.where(F.col("user_id").isin(3, 5)).withColumn(
        "value", F.col("value") + F.lit(1.5)
    )
    inserts = e.where(F.col("user_id") == 9).withColumn(
        "event_id", F.col("event_id") + F.lit(10_000_000)
    )
    snap_merge(spark, out, updates.unionByName(inserts), "event_id")

    want = _rows(
        e.where(~F.col("user_id").isin(3, 5))
        .unionByName(updates)
        .unionByName(inserts)
    )
    assert _rows(snap_read(spark, out)) == want
    assert _rows(snap_read(spark, out, 0)) == _rows(e)  # history intact

    m0, m1 = manifest(out, 0), manifest(out, 1)
    assert set(m0["files"]) & set(m1["files"]), "CoW must share files"


def test_changes_reads_only_diff_files_and_ignores_moved_survivors(
    spark, tmp_path
):
    from cargo_chat_spark.sources.snapshots import snap_changes

    out = str(tmp_path / "snap")
    e, _ = _build(spark, out)  # v0 write, v1 append, v2 delete users 7/11

    # CDC plan touches ONLY the manifest-diff files
    ch = snap_changes(spark, out, 1, 2, "event_id")
    m1, m2 = set(manifest(out, 1)["files"]), set(manifest(out, 2)["files"])
    diff = (m1 - m2) | (m2 - m1)
    opened = {os.path.basename(f) for f in ch.inputFiles()}
    assert opened and opened <= diff

    # v1->v2 was a pure delete: CoW moved the survivors of the affected
    # files into new files, but none of them may surface as changes
    got = _rows(ch)
    want = _rows(
        e.where(F.col("user_id").isin(7, 11)).select(
            F.lit("deleted").alias("change"), "event_id"
        )
    )
    assert got == want


def test_incremental_agg_survivor_cancellation(spark, tmp_path):
    """File-level delta maintenance on a DIFFERENT lifecycle than the
    gate (append then delete): rollup(v0) + agg(new-only files) -
    agg(old-only files) equals the direct aggregate of the latest
    version — CoW-moved survivors cancel exactly (int counts, decimal
    sums)."""
    out = str(tmp_path / "snap")
    e, _ = _build(spark, out)  # v0 write(<50), v1 append, v2 delete 7/11

    def agg(df, sign=1):
        return df.groupBy("event_type").agg(
            (F.lit(sign) * F.count(F.lit(1))).alias("dn"),
            (F.lit(sign) * F.sum(F.col("value").cast("decimal(18,2)")))
            .alias("dt"),
        )

    m0 = set(manifest(out, 0)["files"])
    m2 = set(manifest(out, 2)["files"])
    frames = [agg(snap_read(spark, out, 0))]
    if m2 - m0:
        frames.append(agg(spark.read.parquet(
            *(os.path.join(out, f) for f in sorted(m2 - m0))), 1))
    if m0 - m2:
        frames.append(agg(spark.read.parquet(
            *(os.path.join(out, f) for f in sorted(m0 - m2))), -1))
    acc = frames[0]
    for fr in frames[1:]:
        acc = acc.unionByName(fr)
    maintained = _rows(
        acc.groupBy("event_type")
        .agg(F.sum("dn").alias("n"), F.sum("dt").alias("t"))
        .where(F.col("n") > 0)
    )
    direct = _rows(agg(snap_read(spark, out, 2)).select(
        "event_type", F.col("dn").alias("n"), F.col("dt").alias("t")
    ))
    assert maintained == direct


def test_commit_time_expectations(spark, tmp_path):
    """Delta-style expectations: a violating batch ABORTS atomically
    (table stays at the previous version), drop-mode filters violators,
    and a clean batch commits normally."""
    import pytest

    from cargo_chat_spark.sources.snapshots import (
        ExpectationViolation,
        snap_append,
    )

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events")
    exps = [
        ("value_nonneg", "value >= 0"),
        ("known_type", "event_type IS NOT NULL"),
    ]
    snap_write(e.where(F.col("user_id") < 8), out, expectations=exps)
    want = _rows(snap_read(spark, out))

    bad = e.where(F.col("user_id") >= 8).withColumn(
        "value", F.col("value") - F.lit(10_000.0)
    )
    with pytest.raises(ExpectationViolation, match="value_nonneg"):
        snap_append(bad, out, expectations=exps)
    # atomic: no new version, content unchanged
    assert versions(out) == [0]
    assert _rows(snap_read(spark, out)) == want

    # drop mode: only the conforming rows of a mixed batch land
    mixed = e.where(F.col("user_id") >= 8).withColumn(
        "value",
        F.when(F.col("user_id") % 2 == 0, F.col("value") - 10_000.0)
        .otherwise(F.col("value")),
    )
    snap_append(mixed, out, expectations=exps, on_violation="drop")
    assert versions(out) == [0, 1]
    assert _rows(snap_read(spark, out)) == _rows(
        e.where(F.col("user_id") < 8).unionByName(
            e.where((F.col("user_id") >= 8) & (F.col("user_id") % 2 == 1))
        )
    )

    # clean batch under the same expectations commits
    snap_append(e.where(F.col("user_id") >= 8), out, expectations=exps)
    assert versions(out) == [0, 1, 2]


def test_concurrent_commit_put_if_absent(spark, tmp_path):
    """Two writers racing to the same version: the commit point is
    put-if-absent (os.link), so the loser raises ConcurrentCommitError,
    the winner's manifest is byte-untouched (rename would have silently
    clobbered it), no staging litter remains, and a retry against the
    new latest version succeeds."""
    import json

    import pytest

    from cargo_chat_spark.sources.snapshots import (
        ConcurrentCommitError,
        _commit,
        _manifest_path,
    )

    out = str(tmp_path / "snap")
    e, (v0, v1, v2) = _build(spark, out)
    # both writers observed latest=v2 and race to commit v3: the winner
    # lands first; the loser's link must fail, not overwrite
    winner_files = manifest(out, v0)["files"]
    _commit(out, 3, winner_files)
    won = open(_manifest_path(out, 3)).read()
    with pytest.raises(ConcurrentCommitError):
        _commit(out, 3, manifest(out, v1)["files"])
    assert open(_manifest_path(out, 3)).read() == won  # winner intact
    assert not [
        f for f in os.listdir(os.path.join(out, "_snapshots"))
        if f.endswith(".tmp")
    ]
    # loser retries against the new latest: normal append lands as v4
    extra = e.where(F.col("user_id").isin(3)).limit(5)
    v4 = snap_append(extra, out)
    assert v4 == 4
    assert json.load(open(_manifest_path(out, 4)))["version"] == 4
    want = _rows(snap_read(spark, out, v0).unionByName(extra))
    assert _rows(snap_read(spark, out, v4)) == want


def test_additive_schema_evolution(spark, tmp_path):
    """The table schema lives in the LOG: an append may add columns
    (old files surface them as NULL through the manifest schema, no
    footer sniffing), time travel serves each version's own schema, a
    type change raises instead of silently casting, and a CoW delete
    across the evolution rewrites pre-evolution survivors through the
    evolved schema without the change feed inventing phantom updates."""
    import pytest

    from cargo_chat_spark.sources.snapshots import (
        SchemaEvolutionError,
        snap_changes,
    )

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events")
    snap_write(
        e.where(F.col("user_id") < 8).repartitionByRange(4, F.col("user_id")),
        out,
    )
    evolved = e.where(F.col("user_id") >= 8).withColumn(
        "value_eur",
        F.expr("CAST(value AS DECIMAL(18,2)) * CAST(0.90 AS DECIMAL(3,2))"),
    )
    snap_append(evolved, out)

    latest = snap_read(spark, out)
    assert latest.columns[-1] == "value_eur"
    old = latest.where(F.col("user_id") < 8)
    assert old.where(F.col("value_eur").isNotNull()).count() == 0
    assert old.count() == e.where(F.col("user_id") < 8).count()
    assert (
        latest.where(F.col("value_eur").isNotNull()).count()
        == e.where(F.col("user_id") >= 8).count()
    )
    # time travel: v0 keeps its own (pre-evolution) schema
    assert "value_eur" not in snap_read(spark, out, 0).columns

    # a type change is refused, table untouched
    with pytest.raises(SchemaEvolutionError):
        snap_append(
            e.limit(1).withColumn("value", F.col("value").cast("string")),
            out,
        )
    assert versions(out) == [0, 1]

    # CoW delete of pre-evolution rows: the rewritten survivors carry
    # the evolved schema, and CDC sees ONLY the deletes
    snap_delete(
        spark, out, e.where(F.col("user_id").isin(3)).select("event_id"),
        "event_id",
    )
    got = _rows(snap_changes(spark, out, 1, 2, "event_id"))
    want = _rows(
        e.where(F.col("user_id") == 3).select(
            F.lit("deleted").alias("change"), "event_id"
        )
    )
    assert got == want
    assert (
        snap_read(spark, out).count()
        == e.where(F.col("user_id") != 3).count()
    )


def test_deletion_vector_delete_touches_no_data_file(spark, tmp_path):
    """Row-level MOR delete: the commit references the UNTOUCHED data
    files plus a (file, row_index) sidecar — O(deleted rows) cost where
    copy-on-write would rewrite every file containing a matched row.
    Waves accumulate, re-deleting a key is a no-op, history stays
    readable, and the manifest's ``dv_rows`` counts the vector exactly."""
    from cargo_chat_spark.sources.snapshots import snap_delete_rows

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events")
    snap_write(e.repartitionByRange(8, F.col("user_id")), out)
    m0 = manifest(out, 0)
    stats0 = _file_stats(out, m0["files"])

    v1 = snap_delete_rows(
        spark, out, e.where(F.col("user_id").isin(7, 11)).select("event_id"),
        "event_id",
    )
    m1 = manifest(out, v1)
    assert m1["files"] == m0["files"]  # zero data files added/removed
    assert _file_stats(out, m0["files"]) == stats0  # zero bytes touched
    assert m1["dv"] and m1["dv_rows"] == e.where(
        F.col("user_id").isin(7, 11)
    ).count()
    want1 = _rows(e.where(~F.col("user_id").isin(7, 11)))
    assert _rows(snap_read(spark, out)) == want1
    assert _rows(snap_read(spark, out, 0)) == _rows(e)  # history intact

    # second wave accumulates; re-deleting user 7 changes nothing
    v2 = snap_delete_rows(
        spark, out,
        e.where(F.col("user_id").isin(7, 3)).select("event_id"),
        "event_id",
    )
    m2 = manifest(out, v2)
    assert m2["files"] == m0["files"]
    want2 = _rows(e.where(~F.col("user_id").isin(3, 7, 11)))
    assert _rows(snap_read(spark, out)) == want2
    assert m2["dv_rows"] == len(_rows(e)) - len(want2)


@pytest.mark.slow
def test_deletion_vector_cdc_and_cow_interplay(spark, tmp_path):
    """A DV-only commit feeds pure deletes to the change feed; a
    copy-on-write key-delete over a table with a DV materializes the
    vector for the files it rewrites and carries the rest."""
    from cargo_chat_spark.sources.snapshots import (
        snap_changes,
        snap_delete_rows,
    )

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events")
    snap_write(e.repartitionByRange(8, F.col("user_id")), out)

    v1 = snap_delete_rows(
        spark, out, e.where(F.col("user_id").isin(7, 11)).select("event_id"),
        "event_id",
    )
    # DV-only commit: no file diff, yet CDC reports exactly the deletes
    got = _rows(snap_changes(spark, out, 0, v1, "event_id"))
    want = _rows(
        e.where(F.col("user_id").isin(7, 11)).select(
            F.lit("deleted").alias("change"), "event_id"
        )
    )
    assert got == want

    # CoW key-delete over the DV: rewritten files materialize the
    # vector (deleted rows stay gone), untouched files keep their DV
    v3 = snap_delete_rows(
        spark, out, e.where(F.col("user_id") == 2).select("event_id"),
        "event_id",
    )
    v4 = snap_delete(
        spark, out, e.where(F.col("user_id") == 12).select("event_id"),
        "event_id",
    )
    want_final = _rows(e.where(~F.col("user_id").isin(2, 7, 11, 12)))
    assert _rows(snap_read(spark, out, v4)) == want_final
    assert _rows(snap_read(spark, out, v3)) == _rows(
        e.where(~F.col("user_id").isin(2, 7, 11))
    )


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    """Delta MERGE raises on multiple source matches per target row; the
    left join would otherwise silently fan matched rows out. MERGE
    enforces it before any file is written. Duplicate source
    keys matching NOTHING are legal and insert every row (exact Delta
    semantics, round-7 ADVICE — the guard was previously stricter)."""
    import pytest

    from cargo_chat_spark.sources.snapshots import snap_merge, snap_read

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events")
    snap_write(e, out)
    dup = e.limit(1).unionByName(e.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        snap_merge(spark, out, dup, "event_id")
    assert versions(out) == [0], "failed MERGE must not commit"

    # duplicates on an UNSEEN key match no target row: both rows insert
    n0 = snap_read(spark, out).count()
    fresh = e.limit(1).withColumn(
        "event_id", F.col("event_id") + F.lit(77_000_000)
    )
    dup_unmatched = fresh.unionByName(fresh)
    v = snap_merge(spark, out, dup_unmatched, "event_id")
    assert snap_read(spark, out, v).count() == n0 + 2


def test_empty_version_reads_and_reinserts(spark, tmp_path):
    """Round-6 advice: a delete that removes every row commits a version
    with an empty file list — that version must stay readable (empty
    frame, recorded schema), and a MERGE into the empty table inserts
    everything."""
    from cargo_chat_spark.sources.snapshots import snap_merge

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events").limit(50)
    snap_write(e, out)
    v1 = snap_delete(spark, out, e.select("event_id"), "event_id")
    empty = snap_read(spark, out, v1)
    assert empty.count() == 0
    assert empty.columns == e.columns
    src = e.limit(7)
    v2 = snap_merge(spark, out, src, "event_id")
    assert _rows(snap_read(spark, out, v2)) == _rows(src)


def test_expectation_null_semantics_agree_across_modes(spark):
    """Round-6 advice: a NULL predicate result passes in BOTH modes (SQL
    CHECK-constraint semantics) — fail mode must not abort on it and drop
    mode must not filter it."""
    import pytest

    from cargo_chat_spark.sources.snapshots import (
        ExpectationViolation,
        check_expectations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -1.0)], "id bigint, v double"
    )
    exp = [("v_pos", "v > 0")]
    # drop keeps the NULL row, drops only the definite violator
    kept = {r["id"] for r in check_expectations(df, exp, "drop").collect()}
    assert kept == {1, 2}
    # fail counts only the definite violator; NULL alone passes
    with pytest.raises(ExpectationViolation):
        check_expectations(df, exp, "fail").count()
    ok = df.where("id != 3")
    assert check_expectations(ok, exp, "fail").count() == 2


def test_staging_dirs_are_per_writer(spark, tmp_path):
    """Round-6 advice (medium): data files stage through a PER-WRITER
    directory, so a concurrent writer's overwrite can never delete a
    peer's staged part files mid-commit. A stray peer staging dir must
    survive a commit untouched, and the writer must clean up its own."""
    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events").limit(20)
    snap_write(e, out)
    root = out
    peer = os.path.join(root, "_snap_staging.99999.deadbeef")
    os.makedirs(peer)
    with open(os.path.join(peer, "part-0.parquet"), "w") as fh:
        fh.write("peer writer's staged bytes")
    snap_append(e, out)
    assert os.path.isfile(os.path.join(peer, "part-0.parquet")), (
        "a commit deleted a concurrent writer's staged files"
    )
    leftovers = [
        d for d in os.listdir(root)
        if d.startswith("_snap_staging") and d != os.path.basename(peer)
    ]
    assert not leftovers, f"writer left its own staging behind: {leftovers}"


def test_vacuum_reclaims_cold_orphan_staging(spark, tmp_path):
    """A writer that crashed mid-stage leaves an orphaned per-writer
    staging dir no manifest references; vacuum reclaims it once cold
    (mtime > 1h) but never sweeps a live writer's fresh staging."""
    import time

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events").limit(20)
    snap_write(e, out)
    cold = os.path.join(out, "_snap_staging.11111.aaaaaaaa")
    live = os.path.join(out, "_snap_staging.22222.bbbbbbbb")
    for d in (cold, live):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("staged")
    old = time.time() - 7200
    os.utime(os.path.join(cold, "part-0.parquet"), (old, old))
    os.utime(cold, (old, old))
    expire_snapshots(out, keep_last=1)
    assert not os.path.exists(cold), "cold orphan staging not reclaimed"
    assert os.path.exists(live), "live writer's staging was swept"

    # round-8 ADVICE (low): the cold threshold is a parameter tied to the
    # longest expected commit. A long-running writer's 2h-old staging
    # survives when the operator raises the threshold accordingly...
    old2 = time.time() - 7200
    os.utime(os.path.join(live, "part-0.parquet"), (old2, old2))
    os.utime(live, (old2, old2))
    expire_snapshots(out, keep_last=1, orphan_cold_seconds=3 * 3600)
    assert os.path.exists(live), "threshold ignored: long writer swept"
    # ...and is reclaimed once the threshold says it is genuinely dead
    expire_snapshots(out, keep_last=1, orphan_cold_seconds=3600)
    assert not os.path.exists(live)


@pytest.mark.slow
def test_concurrent_appenders_stress(spark, tmp_path):
    """Many writers appending concurrently with the documented retry
    protocol (ConcurrentCommitError -> re-read latest -> retry): every
    batch must land exactly once, the version chain must be contiguous,
    every historical version must stay readable, and vacuum must
    reclaim the race losers' orphaned (manifest-invisible) data files
    once cold while keeping every referenced file."""
    import random as _random
    import threading
    import time

    from cargo_chat_spark.sources.snapshots import (
        ConcurrentCommitError,
        expire_snapshots,
        manifest,
        snap_read,
        versions,
    )

    out = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(0, -1, -1)], "rowid bigint, writer bigint, batch bigint"
    )
    snap_write(base, out)

    n_writers, n_batches, rows_per = 4, 3, 5
    failures: list[str] = []

    def writer(wid: int) -> None:
        # thread exceptions are silent by default — capture EVERYTHING
        # so an unexpected error shows as a test failure, not a
        # mysteriously short version chain
        try:
            rng = _random.Random(wid)
            for b in range(n_batches):
                rows = [
                    (1 + wid * 1000 + b * 100 + i, wid, b)
                    for i in range(rows_per)
                ]
                df = spark.createDataFrame(
                    rows, "rowid bigint, writer bigint, batch bigint"
                ).repartition(1)
                for _ in range(60):
                    try:
                        snap_append(df, out)
                        break
                    except ConcurrentCommitError:
                        time.sleep(rng.uniform(0.005, 0.05))
                else:
                    failures.append(f"writer {wid} batch {b} never landed")
        except Exception as ex:  # noqa: BLE001
            import traceback

            failures.append(
                f"writer {wid} died: {type(ex).__name__}: {ex}\n"
                + traceback.format_exc()
            )

    threads = [
        threading.Thread(target=writer, args=(w,))
        for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures, failures

    vs = versions(out)
    assert vs == list(range(n_writers * n_batches + 1)), (
        "version chain must be contiguous with exactly one commit per "
        f"landed batch: {vs}"
    )
    final = snap_read(spark, out).collect()
    got = sorted((r["rowid"], r["writer"], r["batch"]) for r in final)
    want = sorted(
        [(0, -1, -1)]
        + [
            (1 + w * 1000 + b * 100 + i, w, b)
            for w in range(n_writers)
            for b in range(n_batches)
            for i in range(rows_per)
        ]
    )
    assert got == want, "every batch exactly once, no loser rows"
    # monotone history: every version's count grows by exactly one batch
    for v in vs:
        assert snap_read(spark, out, v).count() == 1 + v * rows_per

    # losers moved part files into the table dir before losing the
    # version link — invisible to every manifest; backdate them and
    # vacuum with FULL history retained: orphans go, referenced stay
    referenced = set()
    for v in vs:
        referenced.update(manifest(out, v)["files"])
    data_files = {
        f for f in os.listdir(out)
        if f.endswith(".parquet") and os.path.isfile(os.path.join(out, f))
    }
    orphans = data_files - referenced
    old = time.time() - 7200
    for f in data_files:
        os.utime(os.path.join(out, f), (old, old))
    removed = expire_snapshots(out, keep_last=len(vs))
    assert set(removed) == orphans, (removed, orphans)
    assert snap_read(spark, out).count() == len(want), (
        "vacuum must never touch referenced files"
    )


def test_vacuum_reclaims_cold_orphan_data_files(spark, tmp_path):
    """A commit-race loser's data files are referenced by NO manifest
    (neither dropped nor reachable) — vacuum must reclaim them once
    cold, but never a LIVE writer's just-moved (fresh-mtime) files and
    never a referenced file."""
    import time

    from cargo_chat_spark.sources.snapshots import (
        expire_snapshots,
        snap_read,
        versions,
    )

    out = str(tmp_path / "snap")
    e = load_table(spark, SF_DIR_SMALL, "events").limit(20)
    snap_write(e, out)
    n = snap_read(spark, out).count()

    cold = os.path.join(out, "v1-part-orphan-cold.parquet")
    live = os.path.join(out, "v1-part-orphan-live.parquet")
    for p in (cold, live):
        with open(p, "wb") as fh:
            fh.write(b"loser writer's moved bytes")
    old = time.time() - 7200
    os.utime(cold, (old, old))

    removed = expire_snapshots(out, keep_last=len(versions(out)))
    assert "v1-part-orphan-cold.parquet" in removed
    assert not os.path.exists(cold), "cold orphan data file not reclaimed"
    assert os.path.exists(live), "live writer's fresh file was swept"
    assert snap_read(spark, out).count() == n, "referenced files intact"


@pytest.mark.slow
def test_concurrent_append_and_dv_delete_race(spark, tmp_path):
    """Appends racing row-level MoR deletes: the deleters target only
    rows of the INITIAL version (always present), so the final state is
    exact regardless of interleaving — all appended rows plus the
    undeleted initial rows. Exercises the DV staging + commit path and
    the append's DV carry under real thread races."""
    import random as _random
    import threading
    import time

    from cargo_chat_spark.sources.snapshots import (
        ConcurrentCommitError,
        snap_delete_rows,
        snap_read,
        versions,
    )

    out = str(tmp_path / "snap")
    initial = [(i, -1, -1) for i in range(10)]
    snap_write(
        spark.createDataFrame(
            initial, "rowid bigint, writer bigint, batch bigint"
        ).repartition(2),
        out,
    )

    failures: list[str] = []

    def run_with_retry(wid: int, fn) -> None:
        rng = _random.Random(wid)
        for _ in range(60):
            try:
                fn()
                return
            except ConcurrentCommitError:
                time.sleep(rng.uniform(0.005, 0.05))
        failures.append(f"actor {wid} never landed")

    def appender(wid: int) -> None:
        try:
            for b in range(2):
                rows = [(100 + wid * 100 + b * 10 + i, wid, b)
                        for i in range(4)]
                df = spark.createDataFrame(
                    rows, "rowid bigint, writer bigint, batch bigint"
                ).repartition(1)
                run_with_retry(wid, lambda d=df: snap_append(d, out))
        except Exception as ex:  # noqa: BLE001
            failures.append(f"appender {wid} died: {ex!r}")

    def deleter(wid: int, rowids: list[int]) -> None:
        try:
            keys = spark.createDataFrame(
                [(r,) for r in rowids], "rowid bigint"
            )
            run_with_retry(
                wid, lambda: snap_delete_rows(spark, out, keys, "rowid")
            )
        except Exception as ex:  # noqa: BLE001
            failures.append(f"deleter {wid} died: {ex!r}")

    threads = [
        threading.Thread(target=appender, args=(0,)),
        threading.Thread(target=appender, args=(1,)),
        threading.Thread(target=deleter, args=(2, [0, 1, 2])),
        threading.Thread(target=deleter, args=(3, [7, 8])),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures, failures

    vs = versions(out)
    assert vs == list(range(7)), f"2+2 appends + 2 deletes + init: {vs}"
    got = sorted(
        (r["rowid"], r["writer"], r["batch"])
        for r in snap_read(spark, out).collect()
    )
    want = sorted(
        [(i, -1, -1) for i in range(10) if i not in {0, 1, 2, 7, 8}]
        + [(100 + w * 100 + b * 10 + i, w, b)
           for w in range(2) for b in range(2) for i in range(4)]
    )
    assert got == want, (got, want)
    # every intermediate version still readable
    for v in vs:
        snap_read(spark, out, v).collect()


# ------------------------------------------------- signed file-diff deltas


def test_file_deltas_sum_to_logical_difference(spark, tmp_path):
    """Additive consumers of snap_file_deltas see EXACTLY the logical
    v0→v2 difference: CoW survivors that merely moved files appear with
    both signs and cancel; DV'd rows are absent on the side whose
    version carries the vector."""
    from cargo_chat_spark.sources.snapshots import snap_file_deltas

    out = str(tmp_path / "t")
    e, _ = _build(spark, out)  # write(<8) / append(>=8) / delete(7,11)
    d = snap_file_deltas(spark, out, 0, 2)
    got = {
        r["user_id"]: (r["n"], r["ids"])
        for r in d.groupBy("user_id")
        .agg(
            F.sum("sgn").alias("n"),
            F.sum(F.col("sgn") * F.col("event_id")).alias("ids"),
        )
        .collect()
        if r["n"] != 0 or r["ids"] != 0
    }
    final = e.where(~F.col("user_id").isin(7, 11))
    want_df = final.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("ids")
    )
    base_df = e.where(F.col("user_id") < 8).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("ids")
    )
    want_rows = {r["user_id"]: (r["n"], r["ids"]) for r in want_df.collect()}
    base = {r["user_id"]: (r["n"], r["ids"]) for r in base_df.collect()}
    want = {}
    for u in set(want_rows) | set(base):
        wn, wi = want_rows.get(u, (0, 0))
        bn, bi = base.get(u, (0, 0))
        if (wn - bn, wi - bi) != (0, 0):
            want[u] = (wn - bn, wi - bi)
    assert got == want


def test_file_deltas_read_only_diff_files(spark, tmp_path):
    """The delta frame's input files are a subset of the manifest diff —
    the O(changed files) cost contract."""
    from cargo_chat_spark.sources.snapshots import manifest, snap_file_deltas

    out = str(tmp_path / "t")
    _build(spark, out)
    m0 = set(manifest(out, 0)["files"])
    m2 = set(manifest(out, 2)["files"])
    diff = (m0 - m2) | (m2 - m0)
    inputs = {os.path.basename(f) for f in
              snap_file_deltas(spark, out, 0, 2).inputFiles()}
    assert inputs and inputs <= diff
    shared = m0 & m2
    assert shared, "fixture must share some files across the versions"
    assert not (inputs & shared)


def test_file_deltas_see_merge_on_read_commits(spark, tmp_path):
    """A merge-on-read delete keeps the file list and only grows the
    deletion vector — the manifest diff is empty while logical rows
    changed. The shared-file DV-diff pass must emit sgn=-1 for newly
    deleted positions (and +1 when diffed backwards, where the vector
    shrinks), or ivm_refresh / incremental_join_cdc consumers silently hold wrong
    view state (round-7 ADVICE, high)."""
    from cargo_chat_spark.sources.snapshots import (
        manifest,
        snap_delete_rows,
        snap_file_deltas,
        snap_write,
    )

    out = str(tmp_path / "t")
    e = load_table(spark, SF_DIR_SMALL, "events").limit(40)
    snap_write(e, out)
    dead = [r["event_id"] for r in
            e.where(F.col("user_id") % 5 == 0).select("event_id").collect()]
    assert dead, "fixture needs at least one matching key"
    snap_delete_rows(
        spark, out, spark.createDataFrame([(i,) for i in dead], "event_id long"),
        "event_id",
    )  # v1: same files, bigger DV
    assert set(manifest(out, 0)["files"]) == set(manifest(out, 1)["files"])

    d = snap_file_deltas(spark, out, 0, 1)
    got = {(r["event_id"], r["sgn"]) for r in d.select("event_id", "sgn").collect()}
    assert got == {(i, -1) for i in dead}

    # diffed backwards (v1 → v0): the vector shrinks, same files → +1 rows
    d2 = snap_file_deltas(spark, out, 1, 0)
    got2 = {(r["event_id"], r["sgn"]) for r in d2.select("event_id", "sgn").collect()}
    assert got2 == {(i, 1) for i in dead}

    # cost contract: the MoR delta reads only the DV-touched shared data
    # files (plus the O(deleted rows) DV sidecars themselves)
    inputs = {os.path.basename(f) for f in d.inputFiles()
              if "/_dv/" not in f}
    assert inputs <= set(manifest(out, 0)["files"])


def test_file_deltas_no_change_is_empty(spark, tmp_path):
    from cargo_chat_spark.sources.snapshots import snap_file_deltas, snap_write

    out = str(tmp_path / "t")
    e = load_table(spark, SF_DIR_SMALL, "events").limit(10)
    snap_write(e, out)
    d = snap_file_deltas(spark, out, 0, 0)
    assert d.count() == 0
    assert "sgn" in d.columns and set(e.columns) <= set(d.columns)
