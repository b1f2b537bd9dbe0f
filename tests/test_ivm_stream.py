"""Streaming IVM (streaming/ivm_stream.py): every refresh must equal
the from-scratch join of the tables' CURRENT versions, refreshes must
compose (sequential == one-shot), idle refreshes are fenced no-ops, and
the foreachBatch follower converges under a full worst-case replay."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cargo_chat_spark.sources.snapshots import (
    snap_delete,
    snap_merge,
    snap_read,
    snap_write,
)
from cargo_chat_spark.sources.testdata import load_table
from cargo_chat_spark.streaming.ivm_stream import (
    ivm_refresh,
    read_ivm_state,
    run_ivm_follow,
    view_frame,
)
from tests.conftest import SF_DIR_SMALL, spark  # noqa: F401


def _tables(spark, tmp_path):
    o = load_table(spark, SF_DIR_SMALL, "orders")
    c = load_table(spark, SF_DIR_SMALL, "customer")
    po, pc = str(tmp_path / "o"), str(tmp_path / "c")
    snap_write(o, po)
    snap_write(c, pc)
    return o, c, po, pc


def _direct(spark, po, pc):
    """From-scratch integer-cents rollup of the CURRENT join."""
    a, b = snap_read(spark, po), snap_read(spark, pc)
    j = a.join(b, a["o_custkey"] == b["c_custkey"])
    return {
        r["c_nationkey"]: (r["n"], r["rev"], r["bal"])
        for r in j.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("rev"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("bal"),
        )
        .collect()
    }


def _groups(vp):
    s = read_ivm_state(vp)
    return {int(g): tuple(v) for g, v in s["groups"].items() if v[0] > 0}


def test_every_refresh_equals_direct_join(spark, tmp_path):
    o, c, po, pc = _tables(spark, tmp_path)
    vp = str(tmp_path / "view")
    ivm_refresh(spark, vp, po, pc)
    assert _groups(vp) == _direct(spark, po, pc)

    # orders-only advance (update + insert in one MERGE)
    upd = o.where(F.col("o_custkey") % 10 == 3).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
    )
    ins = o.where(F.col("o_custkey") % 10 == 7).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100_000_000)
    )
    snap_merge(spark, po, upd.unionByName(ins), "o_orderkey")
    ivm_refresh(spark, vp, po, pc)
    assert _groups(vp) == _direct(spark, po, pc)

    # both tables advance before one refresh
    snap_delete(
        spark, po,
        o.where(F.col("o_custkey") % 10 == 4).select("o_orderkey"),
        "o_orderkey",
    )
    snap_delete(
        spark, pc,
        c.where(F.col("c_nationkey") == 5).select("c_custkey"),
        "c_custkey",
    )
    ivm_refresh(spark, vp, po, pc)
    assert _groups(vp) == _direct(spark, po, pc)

    # the emitted frame agrees with the state (cents -> double)
    vf = {
        r["c_nationkey"]: (r["n_orders"], r["revenue"], r["balance_weight"])
        for r in view_frame(spark, vp).collect()
    }
    assert vf == {
        g: (n, rc / 100.0, bc / 100.0) for g, (n, rc, bc) in _groups(vp).items()
    }


def test_idle_refresh_is_fenced_noop(spark, tmp_path):
    _, _, po, pc = _tables(spark, tmp_path)
    vp = str(tmp_path / "view")
    ivm_refresh(spark, vp, po, pc)
    before = read_ivm_state(vp)
    ivm_refresh(spark, vp, po, pc)
    assert read_ivm_state(vp) == before


def test_sequential_refreshes_equal_one_shot(spark, tmp_path):
    o, c, po, pc = _tables(spark, tmp_path)
    vp = str(tmp_path / "followed")
    ivm_refresh(spark, vp, po, pc)
    upd = o.where(F.col("o_custkey") % 10 == 1).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(7.0)
    )
    snap_merge(spark, po, upd, "o_orderkey")
    ivm_refresh(spark, vp, po, pc)
    snap_delete(
        spark, pc,
        c.where(F.col("c_nationkey") == 9).select("c_custkey"),
        "c_custkey",
    )
    ivm_refresh(spark, vp, po, pc)

    fresh = str(tmp_path / "oneshot")
    ivm_refresh(spark, fresh, po, pc)  # init directly at final versions
    assert _groups(vp) == _groups(fresh)


@pytest.mark.slow
def test_follower_converges_under_full_replay(spark, tmp_path):
    o, _, po, pc = _tables(spark, tmp_path)
    vp = str(tmp_path / "view")
    ivm_refresh(spark, vp, po, pc)
    feed = str(tmp_path / "feed")
    waves = [
        o.where(F.col("o_custkey") % 10 == 2).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        ),
        o.where(F.col("o_custkey") % 10 == 6).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(200_000_000)
        ),
    ]
    for wave in waves:
        wave.coalesce(1).write.mode("append").parquet(feed)
        run_ivm_follow(spark, feed, o.schema, po, pc, vp)
    want = _direct(spark, po, pc)
    assert _groups(vp) == want

    # worst-case replay: a fresh checkpoint re-delivers EVERY batch; the
    # whole-row re-merges are logical no-ops whose deltas cancel
    run_ivm_follow(
        spark, feed, o.schema, po, pc, vp,
        checkpoint_dir=str(tmp_path / "ck_replay"),
    )
    assert _groups(vp) == want
    assert _groups(vp) == _direct(spark, po, pc)


@pytest.mark.slow
def test_refresh_sees_merge_on_read_deletes(spark, tmp_path):
    """Round-7 ADVICE (high): a MoR delete keeps the file list and only
    grows the deletion vector — before the round-8 snap_file_deltas
    DV-diff pass, this refresh silently held stale view state. The view
    must track a DV-only commit and a mixed MoR + CoW step, equaling
    the direct join after each refresh."""
    from cargo_chat_spark.sources.snapshots import snap_delete_rows

    o, c, po, pc = _tables(spark, tmp_path)
    vp = str(tmp_path / "view")
    ivm_refresh(spark, vp, po, pc)

    # DV-only commit on orders (no file change)
    snap_delete_rows(
        spark, po,
        o.where(F.col("o_custkey") % 10 == 6).select("o_orderkey"),
        "o_orderkey",
    )
    ivm_refresh(spark, vp, po, pc)
    assert _groups(vp) == _direct(spark, po, pc)

    # mixed step: MoR on orders + CoW delete on customer, one refresh
    snap_delete_rows(
        spark, po,
        o.where(F.col("o_custkey") % 10 == 2).select("o_orderkey"),
        "o_orderkey",
    )
    snap_delete(
        spark, pc,
        c.where(F.col("c_nationkey") == 3).select("c_custkey"),
        "c_custkey",
    )
    ivm_refresh(spark, vp, po, pc)
    assert _groups(vp) == _direct(spark, po, pc)
