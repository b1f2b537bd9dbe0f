"""Storage-family gates over the snapshot log and data placement.

Two incremental-view-maintenance gates keep a per-nation orders ⋈
customer rollup in step with both TPC-H tables through their snapshot
logs (``sources/snapshots.py``): ``incremental_join_cdc`` folds the
manifest-diff deltas in one shot, ``ivm_view_follow`` reaches the same
state through sequential refreshes (``streaming/ivm_stream.py``).
``hrw_reshard_report`` measures how many ``documents`` rows move when
rendezvous-hash placement grows by one shard, against mod-hash
placement.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from cargo_chat_spark.caching import register_memo as _memo_register
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.queries.registry import register_phase_builder as _rpb
from cargo_chat_spark.sources.testdata import load_table


# --------------------------------- incremental JOIN-view maintenance gate
# IVM for a JOIN: a materialized orders ⋈ customer rollup follows BOTH base
# tables through their snapshot logs without ever re-executing the full
# join. Bag algebra with signed file-diff deltas (snap_file_deltas):
#
#   agg(A2 ⋈ B2) = agg(A0 ⋈ B0)              -- the view at v0
#                + agg(ΔA ⋈ B2, sign=ΔA.sgn)  -- order changes
#                + agg(A0 ⋈ ΔB, sign=ΔB.sgn)  -- customer changes
#
# (A2 = A0+ΔA and B2 = B0+ΔB make the identity exact; CoW survivors in a
# delta appear with both signs and cancel, counts are ints and sums go
# through decimal(18,2), so cancellation is EXACT). ΔA/ΔB come from
# manifest-diff files only and broadcast against the base scans — the
# maintained refresh never shuffles the big side and never re-joins
# A2 ⋈ B2; the oracle aggregates that full final join directly.
_INC_JOIN_SQL = """
WITH o2 AS (
    SELECT o_custkey,
           CASE WHEN o_custkey % 10 = 3 THEN o_totalprice + 100.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_custkey % 10 <> 4
    UNION ALL
    SELECT o_custkey, o_totalprice FROM orders WHERE o_custkey % 10 = 7
),
c2 AS (
    SELECT c_custkey, c_nationkey,
           CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 50.0
                ELSE c_acctbal END AS c_acctbal
    FROM customer WHERE c_nationkey <> 5
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           AS balance_weight
FROM o2 JOIN c2 ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


# Dual-table lifecycle = fixture (phase-built and memoized, so bench
# times only the fold); the measured operator is the signed-delta IVM fold.
_INCJOIN_MEMO: dict = {}
_memo_register(_INCJOIN_MEMO)


def _incjoin_fixture(spark, sf_dir) -> tuple[str, str]:
    import shutil

    from cargo_chat_spark.sources.snapshots import (
        snap_delete,
        snap_merge,
        snap_write,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _INCJOIN_MEMO.get(key)
    if cached is not None:
        return cached
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    po = os.path.join(
        tempfile.gettempdir(), f"ccs_orders_incjoin_{sf_tag}_{os.getpid()}"
    )
    pc = os.path.join(
        tempfile.gettempdir(), f"ccs_customer_incjoin_{sf_tag}_{os.getpid()}"
    )
    for p in (po, pc):
        if os.path.isdir(p):
            shutil.rmtree(p)

    # the orders and customer version chains are fully independent
    # (different tables, different commit logs) — run the whole customer
    # chain on a side thread overlapping the orders chain (guide §2.6)
    from cargo_chat_spark.functions.overlap import spawn_job

    def _customer_chain():
        snap_write(c, pc)
        # customer: MERGE first (acctbal bump for BUILDING — includes
        # some nation-5 rows), THEN delete nation 5, so the delete wins.
        upd_c = c.where(F.col("c_mktsegment") == "BUILDING").withColumn(
            "c_acctbal", F.col("c_acctbal") + F.lit(50.0)
        )
        snap_merge(spark, pc, upd_c, "c_custkey")
        snap_delete(
            spark, pc,
            c.where(F.col("c_nationkey") == 5).select("c_custkey"),
            "c_custkey",
        )

    side = spawn_job(_customer_chain)
    snap_write(o, po)
    # orders: MERGE (price bump for %10==3, new orders for %10==7), then
    # delete %10==4. Inserted keys are original+1e8 — never deleted.
    upd_o = o.where(F.col("o_custkey") % 10 == 3).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
    )
    ins_o = o.where(F.col("o_custkey") % 10 == 7).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100_000_000)
    )
    snap_merge(spark, po, upd_o.unionByName(ins_o), "o_orderkey")
    snap_delete(
        spark, po,
        o.where(F.col("o_custkey") % 10 == 4).select("o_orderkey"),
        "o_orderkey",
    )
    side.join()
    _INCJOIN_MEMO[key] = (po, pc)
    return po, pc


@register("incremental_join_cdc", sql=_INC_JOIN_SQL)
def incremental_join_cdc(spark, sf_dir):
    """Maintain the per-nation orders ⋈ customer rollup from v0 to v2 of
    BOTH tables using only their manifest-diff deltas; must equal the
    oracle's direct aggregate of the final joined state."""
    from cargo_chat_spark.sources.snapshots import (
        snap_file_deltas,
        snap_read,
    )

    from cargo_chat_spark.streaming.ivm_stream import _nation_rollup

    po, pc = _incjoin_fixture(spark, sf_dir)
    one = F.lit(1)
    a0 = snap_read(spark, po, 0).withColumn("sgn", one)
    b0 = snap_read(spark, pc, 0).withColumn("sgn", one)
    b2 = snap_read(spark, pc, 2).withColumn("sgn", one)
    d_a = snap_file_deltas(spark, po, 0, 2)
    d_b = snap_file_deltas(spark, pc, 0, 2)

    # every term pre-aggregates BOTH join sides by custkey before the
    # join (streaming/ivm_stream._nation_rollup, guide §2.3): the joins
    # probe key-cardinality signed aggregates in exact integer cents
    # instead of raw rows; the file-diff sides still broadcast. cents
    # long → /100.0 double is the same correctly-rounded rational the
    # decimal-sum → double cast produced.
    view0 = _nation_rollup(a0, b0)
    t_a = _nation_rollup(d_a, b2, bcast_orders=True)
    t_b = _nation_rollup(a0, d_b, bcast_cust=True)
    return (
        view0.unionByName(t_a).unionByName(t_b)
        .groupBy("c_nationkey")
        .agg(
            F.sum("dn").cast("bigint").alias("n_orders"),
            (F.sum("dr") / 100.0).alias("revenue"),
            (F.sum("db") / 100.0).alias("balance_weight"),
        )
        .where(F.col("n_orders") > 0)
    )


@register("ivm_view_follow", sql=_INC_JOIN_SQL)
def ivm_view_follow(spark, sf_dir):
    """The STREAMING-shaped twin of incremental_join_cdc: the same
    final state reached through SEQUENTIAL ivm_refresh calls (init →
    orders MERGE → orders delete + customer MERGE → customer delete),
    exercising refresh COMPOSITION (v0→v1 then v1→v2 == v0→v2) and the
    version-fenced sidecar state (streaming/ivm_stream.py) instead of
    the one-shot delta algebra. Must equal the same direct-join oracle."""
    import shutil

    from cargo_chat_spark.sources.snapshots import (
        snap_delete,
        snap_merge,
        snap_write,
    )
    from cargo_chat_spark.streaming.ivm_stream import (
        _state_path,
        ivm_refresh,
        view_frame,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    po = os.path.join(
        tempfile.gettempdir(), f"ccs_orders_ivmf_{sf_tag}_{os.getpid()}"
    )
    pc = os.path.join(
        tempfile.gettempdir(), f"ccs_customer_ivmf_{sf_tag}_{os.getpid()}"
    )
    vp = os.path.join(
        tempfile.gettempdir(), f"ccs_view_ivmf_{sf_tag}_{os.getpid()}"
    )
    for p in (po, pc):
        if os.path.isdir(p):
            shutil.rmtree(p)
    if os.path.exists(_state_path(vp)):
        os.remove(_state_path(vp))

    # the two base-table writes are independent jobs — overlap them
    # (guide §2.6; the refresh below needs both, so join first)
    from cargo_chat_spark.functions.overlap import spawn_job

    wc = spawn_job(lambda: snap_write(c, pc))
    snap_write(o, po)
    wc.join()
    ivm_refresh(spark, vp, po, pc)  # materialize the v0 ⋈ v0 base

    upd_o = o.where(F.col("o_custkey") % 10 == 3).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
    )
    ins_o = o.where(F.col("o_custkey") % 10 == 7).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100_000_000)
    )
    snap_merge(spark, po, upd_o.unionByName(ins_o), "o_orderkey")
    ivm_refresh(spark, vp, po, pc)  # follow orders v0→v1

    # the orders CoW delete and the customer MERGE mutate DIFFERENT
    # tables — independent commit chains, overlapped (guide §2.6); the
    # dual-advance refresh below consumes both, so join first
    dl = spawn_job(
        lambda: snap_delete(
            spark, po,
            o.where(F.col("o_custkey") % 10 == 4).select("o_orderkey"),
            "o_orderkey",
        )
    )
    upd_c = c.where(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(50.0)
    )
    snap_merge(spark, pc, upd_c, "c_custkey")
    dl.join()
    ivm_refresh(spark, vp, po, pc)  # both tables advanced in one refresh

    snap_delete(
        spark, pc,
        c.where(F.col("c_nationkey") == 5).select("c_custkey"),
        "c_custkey",
    )
    ivm_refresh(spark, vp, po, pc)  # customer-only advance
    return view_frame(spark, vp)


# ------------------------------------------ HRW (rendezvous) sharding
# The data-placement member of the storage family: highest-random-
# weight hashing assigns each doc to the shard whose md5 weight
# h32('hrw|shard|doc') is largest. The property that matters at
# 100 TB: growing S shards to S+1 moves only ~1/(S+1) of the data —
# every unmoved doc's winning weight is unchanged — where mod-hash
# placement moves ~S/(S+1) (a full reshuffle). This gate measures BOTH
# on the same corpus so the card shows the gap directly, and because
# the weights are the shared engine-portable md5, the whole report
# value-hashes. Plan: one explode(S) + per-doc WindowGroupLimit argmax
# per shard count — map-side work, one small aggregate; no stored
# placement table (the assignment is re-derivable anywhere, the
# jl_projection discipline).
HRW_SHARDS = 8


def _hrw_assign_sql(n: int) -> str:
    from cargo_chat_spark.functions.hashing import h32_sql

    w = h32_sql(
        "'hrw|' || CAST(s.shard AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR)"
    )
    return f"""
    SELECT doc_id, shard FROM (
        SELECT d.doc_id, s.shard,
               row_number() OVER (
                   PARTITION BY d.doc_id ORDER BY {w} DESC, s.shard
               ) AS rk
        FROM (SELECT doc_id FROM documents) d,
             unnest(generate_series(0, {n - 1})) AS s(shard)
    ) WHERE rk = 1"""


_HRW_SQL = f"""
WITH a8 AS ({_hrw_assign_sql(HRW_SHARDS)}),
a9 AS ({_hrw_assign_sql(HRW_SHARDS + 1)})
SELECT a8.shard,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(SUM(CASE WHEN a9.shard <> a8.shard THEN 1 ELSE 0 END)
         AS BIGINT) AS n_moved_hrw,
    CAST(SUM(CASE WHEN (a8.doc_id % {HRW_SHARDS})
                    <> (a8.doc_id % {HRW_SHARDS + 1}) THEN 1 ELSE 0 END)
         AS BIGINT) AS n_moved_mod
FROM a8 JOIN a9 USING (doc_id)
GROUP BY a8.shard
"""


def _hrw_assign(spark, sf_dir, n: int):
    from pyspark.sql import Window

    from cargo_chat_spark.functions.hashing import h32

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = F.explode(
        F.array(*[F.lit(s) for s in range(n)])
    ).alias("shard")
    w = h32(
        F.concat(
            F.lit("hrw|"),
            F.col("shard").cast("string"),
            F.lit("|"),
            F.col("doc_id").cast("string"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        w.desc(), F.asc("shard")
    )
    return (
        d.select("doc_id", shards)
        .withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") == 1)
        .select("doc_id", "shard")
    )


@register("hrw_reshard_report", sql=_HRW_SQL)
def hrw_reshard_report(spark, sf_dir):
    """Per-shard movement when HRW placement grows 8 → 9 shards,
    against mod-hash movement on the same docs: the consistent-hashing
    guarantee (≈1/9 moved vs ≈8/9) as a value-hashed card."""
    a8 = _hrw_assign(spark, sf_dir, HRW_SHARDS)
    a9 = _hrw_assign(spark, sf_dir, HRW_SHARDS + 1).select(
        "doc_id", F.col("shard").alias("shard9")
    )
    return (
        a8.join(a9, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                (F.col("shard9") != F.col("shard")).cast("long")
            ).cast("bigint").alias("n_moved_hrw"),
            F.sum(
                (
                    (F.col("doc_id") % HRW_SHARDS)
                    != (F.col("doc_id") % (HRW_SHARDS + 1))
                ).cast("long")
            ).cast("bigint").alias("n_moved_mod"),
        )
    )


# bench phase split for the IVM gate: lifecycle = build, fold = probe
_rpb("incremental_join_cdc", _incjoin_fixture)
