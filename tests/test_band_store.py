"""Persisted band-signature store (sources/band_store.py): incremental
near-dup probes must equal the batch pipeline, waves must compose, and
the probe plan must never shuffle the store side. The values contract
is carried by the ``incremental_neardup`` gate."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from cargo_chat_spark.queries import catalog
from cargo_chat_spark.sources.band_store import (
    append_band_store,
    probe_band_store,
    read_band_store,
    write_band_store,
)
from cargo_chat_spark.sources.testdata import load_table
from tests.conftest import SF_DIR_SMALL, spark  # noqa: F401


def _pairs(df):
    return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())


def test_incremental_waves_equal_single_shot_store(spark, tmp_path):
    """History ingested in two waves probes identically to a store
    built in one shot — appends compose (per-wave hot-bucket capping is
    the documented semantics; no fixture bucket approaches the cap, so
    the wave split cannot change the result here)."""
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    hist = docs.where(F.col("doc_id") % 4 != 0)
    batch = docs.where(F.col("doc_id") % 4 == 0)

    one = str(tmp_path / "one")
    write_band_store(hist, one)

    waves = str(tmp_path / "waves")
    write_band_store(hist.where(F.col("doc_id") % 4 == 1), waves)
    append_band_store(hist.where(F.col("doc_id") % 4 == 2), waves)
    append_band_store(hist.where(F.col("doc_id") % 4 == 3), waves)

    got_one = _pairs(probe_band_store(spark, one, batch))
    got_waves = _pairs(probe_band_store(spark, waves, batch))
    assert got_one == got_waves and got_one, "waves must compose"


def test_probe_equals_batch_lsh_restricted_to_new(spark, tmp_path):
    """The incremental probe equals the full-corpus LSH candidate pairs
    restricted to pairs touching at least one new doc (exact while no
    bucket hits the cap — true on the fixtures)."""
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    store = str(tmp_path / "store")
    write_band_store(docs.where(F.col("doc_id") % 4 != 0), store)
    got = _pairs(
        probe_band_store(
            spark, store, docs.where(F.col("doc_id") % 4 == 0)
        )
    )

    full = catalog.SPARK_QUERIES["minhash_lsh_pairs"](spark, SF_DIR_SMALL)
    want = sorted(
        (r["doc_a"], r["doc_b"])
        for r in full.collect()
        if r["doc_a"] % 4 == 0 or r["doc_b"] % 4 == 0
    )
    assert got == want and got


def test_probe_after_ingesting_batch_sees_it_as_history(spark, tmp_path):
    """Ingesting the probed batch and probing a SECOND batch must
    surface second-vs-first pairs — the store accumulates."""
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    store = str(tmp_path / "store")
    b1 = docs.where(F.col("doc_id") % 4 == 0)
    b2 = docs.where(F.col("doc_id") % 4 == 1)
    write_band_store(docs.where(~(F.col("doc_id") % 4).isin(0, 1)), store)
    append_band_store(b1, store)
    got = set(_pairs(probe_band_store(spark, store, b2)))

    full = catalog.SPARK_QUERIES["minhash_lsh_pairs"](spark, SF_DIR_SMALL)
    want = {
        (r["doc_a"], r["doc_b"])
        for r in full.collect()
        if r["doc_a"] % 4 == 1 or r["doc_b"] % 4 == 1
    }
    assert got == want


def test_store_layout_partitioned_by_band(spark, tmp_path):
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    store = str(tmp_path / "store")
    write_band_store(docs, store)
    dirs = {
        d
        for d in os.listdir(os.path.join(store, "bands"))
        if d.startswith("band=")
    }
    assert dirs == {"band=0", "band=1", "band=2", "band=3"}
    assert read_band_store(spark, store).count() > 0


def test_probe_plan_store_never_shuffles(spark, tmp_path):
    """The probe is a broadcast hash join with the NEW side broadcast:
    the store scan feeds the join with no hash-partitioning exchange —
    the only shuffle in the whole probe is the final distinct. That is
    the property that keeps a petabyte store probe O(new batch)."""
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    store = str(tmp_path / "store")
    write_band_store(docs.where(F.col("doc_id") % 4 != 0), store)
    probe = probe_band_store(
        spark, store, docs.where(F.col("doc_id") % 4 == 0)
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "probe must be a broadcast join"
    # the store scan is the join's FIRST streamed child: nothing between
    # the join node and that scan may be a shuffle (the batch subtrees —
    # cap windows, final distinct — are the only exchanges, all over the
    # tiny new side)
    after_join = plan.split("BroadcastHashJoin", 1)[1]
    to_store_scan = after_join.split("FileScan parquet", 1)[0]
    assert "Exchange hashpartitioning" not in to_store_scan, (
        f"store side must reach the join unshuffled:\n{plan}"
    )
    # bonus documented behavior: the broadcast batch keys prune the
    # store's band partitions dynamically
    store_scan_line = after_join.split("FileScan parquet", 1)[1]
    store_scan_line = store_scan_line.split("\n", 1)[0]
    assert "dynamicpruning" in store_scan_line, (
        "band partition pruning by the broadcast keys missing:\n"
        + store_scan_line
    )


@pytest.mark.slow
def test_band_cdc_follows_updates_and_deletes(spark, tmp_path):
    """CDC-synced store: an updated doc is matched by its NEW text only;
    a deleted doc stops matching; a later reinsert outlives its own
    tombstone (ver >= cutoff); idle apply is a no-op."""
    from cargo_chat_spark.sources.band_store import (
        apply_band_cdc,
        probe_band_store,
        read_band_store_live,
        sync_band_store_from_snapshot,
        synced_band_version,
    )
    from cargo_chat_spark.sources.snapshots import (
        snap_append,
        snap_delete,
        snap_merge,
        snap_write,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight"
    docs = [(1, base), (2, other), (3, "iota kappa " + other)]
    tbl, store = str(tmp_path / "tbl"), str(tmp_path / "store")
    snap_write(
        spark.createDataFrame(docs, "doc_id bigint, text string"), tbl
    )
    sync_band_store_from_snapshot(spark, store, tbl)

    probe = spark.createDataFrame(
        [(100, base)], "doc_id bigint, text string"
    )

    def pairs():
        return {
            (r["doc_a"], r["doc_b"])
            for r in probe_band_store(
                spark, tbl and store, probe, include_new_new=False
            ).collect()
        }

    assert pairs() == {(1, 100)}  # doc 1 is the near-dup of the probe

    # update doc 1 away from the probe text; doc 2 TO the probe text;
    # delete doc 3
    snap_merge(
        spark, tbl,
        spark.createDataFrame(
            [(1, other + " nine"), (2, base)], "doc_id bigint, text string"
        ),
        "doc_id",
    )
    snap_delete(
        spark, tbl,
        spark.createDataFrame([(3,)], "doc_id bigint"), "doc_id",
    )
    v = apply_band_cdc(spark, store, tbl)
    assert synced_band_version(store) == v
    assert pairs() == {(2, 100)}  # follows the NEW texts
    # tombstoned generations are gone from the live read
    live = read_band_store_live(spark, store)
    assert live.where(F.col("doc_id") == 3).count() == 0

    # idle apply no-ops; reinsert doc 3 as a near-dup of the probe —
    # its NEW generation must outlive the old tombstone
    assert apply_band_cdc(spark, store, tbl) == v
    snap_append(
        spark.createDataFrame([(3, base + " extra")],
                              "doc_id bigint, text string"),
        tbl,
    )
    apply_band_cdc(spark, store, tbl)
    assert (3, 100) in pairs()


@pytest.mark.slow
def test_band_tombstone_compaction_preserves_answers(spark, tmp_path):
    """compact_band_tombstones rewrites only dirty files (clean files
    byte-identical), probe answers are unchanged, and the op is
    idempotent (second call rewrites nothing)."""
    from cargo_chat_spark.sources.band_store import (
        _bands_path,
        apply_band_cdc,
        compact_band_tombstones,
        probe_band_store,
        sync_band_store_from_snapshot,
    )
    from cargo_chat_spark.sources.snapshots import snap_delete, snap_write

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [(1, base), (2, "one two three four five six seven"),
            (3, base + " iota")]
    tbl, store = str(tmp_path / "tbl"), str(tmp_path / "store")
    snap_write(
        spark.createDataFrame(docs, "doc_id bigint, text string"), tbl
    )
    sync_band_store_from_snapshot(spark, store, tbl)
    snap_delete(
        spark, tbl,
        spark.createDataFrame([(3,)], "doc_id bigint"), "doc_id",
    )
    apply_band_cdc(spark, store, tbl)

    probe = spark.createDataFrame(
        [(100, base)], "doc_id bigint, text string"
    )

    def pairs():
        return {
            (r["doc_a"], r["doc_b"])
            for r in probe_band_store(
                spark, store, probe, include_new_new=False
            ).collect()
        }

    want = pairs()
    assert (1, 100) in want and not any(a == 3 or b == 3 for a, b in want)

    n = compact_band_tombstones(spark, store)
    assert n > 0
    assert not os.path.isdir(os.path.join(store, "tombstones"))
    assert pairs() == want
    # raw read (no tombstones left) must also be clean of doc 3
    raw = spark.read.parquet(_bands_path(store))
    assert raw.where(F.col("doc_id") == 3).count() == 0
    assert compact_band_tombstones(spark, store) == 0  # idempotent


def test_band_cdc_failed_band_write_joins_tombstone_job(
    spark, tmp_path, monkeypatch
):
    """A band write that raises during apply_band_cdc propagates its
    error only after the overlapped tombstone job has finished, leaves
    the sync marker where it was, and replaying the wave repairs the
    store."""
    import time

    from cargo_chat_spark.functions import overlap
    from cargo_chat_spark.sources import band_store
    from cargo_chat_spark.sources.snapshots import snap_delete, snap_write

    tbl, store = str(tmp_path / "tbl"), str(tmp_path / "store")
    snap_write(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "one two three four five six seven")],
            "doc_id bigint, text string",
        ),
        tbl,
    )
    v0 = band_store.sync_band_store_from_snapshot(spark, store, tbl)
    snap_delete(
        spark, tbl, spark.createDataFrame([(2,)], "doc_id bigint"), "doc_id"
    )

    threads = []
    spawn = overlap.spawn_job

    def slow_spawn(fn):
        # the side job outlives the failing band write unless joined
        t = spawn(lambda: (time.sleep(0.5), fn())[1])
        threads.append(t)
        return t

    def failing_write(*_args, **_kwargs):
        raise RuntimeError("band write failed")

    monkeypatch.setattr(overlap, "spawn_job", slow_spawn)
    monkeypatch.setattr(band_store, "_write", failing_write)
    with pytest.raises(RuntimeError, match="band write failed"):
        band_store.apply_band_cdc(spark, store, tbl)
    assert len(threads) == 1 and not threads[0].is_alive()
    assert band_store.synced_band_version(store) == v0

    monkeypatch.undo()
    v1 = band_store.apply_band_cdc(spark, store, tbl)
    assert v1 > v0 and band_store.synced_band_version(store) == v1
    live = band_store.read_band_store_live(spark, store)
    assert {r["doc_id"] for r in live.select("doc_id").distinct().collect()} == {1}
