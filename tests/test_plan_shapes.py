"""Physical-plan assertions — the 100 TB posture checks (SURVEY §4).

Correctness says WHAT is computed; these tests pin HOW: filters reach the
parquet scan, small sides broadcast, top-k windows get the map-side
WindowGroupLimit prune, scans prune columns. A regression here is a silent
scale regression even while every oracle check stays green.
"""

from __future__ import annotations

import pytest

from cargo_chat_spark.queries import catalog
from tests.conftest import SF_DIR_SMALL


def _plan(spark, name: str) -> str:
    df = catalog.SPARK_QUERIES[name](spark, SF_DIR_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_map_side_topk_prune(spark):
    plan = _plan(spark, "knn_exact")
    assert "WindowGroupLimit" in plan and "Partial" in plan, (
        "kNN lost the map-side top-k prune — shuffle is O(|Q|x|C|) again"
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        "query side no longer broadcasts"
    )


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200], (
        "shipdate filter not pushed to the parquet scan"
    )
    # column pruning: the scan must not read the unused l_orderkey et al.
    scan = plan[plan.index("FileScan"):]
    assert "l_orderkey" not in scan.split("ReadSchema")[1][:400], (
        "scan reads columns the query never uses"
    )


def test_top_customers_broadcasts_nation(spark):
    plan = _plan(spark, "top_customers")
    assert "BroadcastHashJoin" in plan, "nation join should broadcast"


def test_semi_anti_join_strategies(spark):
    semi = _plan(spark, "customers_with_big_orders")
    anti = _plan(spark, "parts_never_ordered_bulk")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti
    # the o_totalprice predicate reaches the orders scan
    assert "o_totalprice" in semi.split("PushedFilters")[1][:300]


def test_distance_stays_jvm_side(spark):
    # Higher-order functions (zip_with/aggregate) are JVM-interpreted, not
    # whole-stage-codegen'd — the invariant that matters is that no Python
    # UDF boundary (Arrow/pickle round trip) crept into the hot path.
    plan = _plan(spark, "knn_exact")
    assert "EvalPython" not in plan and "PythonUDF" not in plan, (
        "Python UDF in the kNN hot path"
    )


def test_embedding_neardup_is_distributed(spark):
    """VERDICT r1 item 2: the near-dup pair stage must be a distributed
    blocked GEMM — a grouped Arrow stage over block-pair keys — with no
    driver-side collect/broadcast of the corpus matrix. The only broadcast
    allowed is the O(B²)-row block-pair key table."""
    plan = _plan(spark, "embedding_neardup_pairs")
    assert "FlatMapGroupsInPandas" in plan, (
        "blocked-GEMM applyInPandas stage missing from the plan"
    )
    # the corpus reaches the tile stage via shuffle on the block-pair key,
    # never via a driver collect / full-matrix broadcast
    assert "Exchange hashpartitioning(ga" in plan, (
        "corpus no longer shuffles to block-pair tiles"
    )


def test_knn_batched_never_collects(spark, monkeypatch):
    """VERDICT r1 item 5: the large-|Q| kNN path must not collect the query
    side. count() (a scalar) is the only permitted action during plan
    construction; any DataFrame.collect call fails the test."""
    from pyspark.sql import DataFrame

    def _no_collect(self):
        raise AssertionError("knn_exact_batched collected a DataFrame")

    from cargo_chat_spark.queries.vector_search import _query_vectors, knn_join_batched
    from cargo_chat_spark.sources.testdata import load_table

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    # batch_size=2 forces multiple blocks even on the sf0.001 query set
    df = knn_join_batched(_query_vectors(spark, SF_DIR_SMALL), emb, k=10, batch_size=2)
    monkeypatch.undo()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every block still gets the map-side top-k prune and a bounded broadcast
    assert "WindowGroupLimit" in plan
    assert "Union" in plan, "batched path should union per-block top-k results"
    # and the per-block result matches the unbatched contract
    base = catalog.SPARK_QUERIES["knn_exact"](spark, SF_DIR_SMALL)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in df.select("query_id", "neighbor_id", "rank").collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in base.select("query_id", "neighbor_id", "rank").collect()
    )
    assert got == want


def test_knn_numpy_large_q_never_collects_full_side(spark, monkeypatch):
    """VERDICT r10 item 2: knn_join_numpy's driver-collect is LIMIT-capped —
    a query set above max_collect_queries must route to the no-collect
    batched form, and no collect during plan construction may ever return
    more than the cap+1 probe rows."""
    from cargo_chat_spark.queries.vector_search import _query_vectors, knn_join_numpy
    from cargo_chat_spark.sources.testdata import load_table

    cap = 3
    seen: list[int] = []
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    q = _query_vectors(spark, SF_DIR_SMALL)  # 5 queries at sf0.001 > cap
    # patch the CONCRETE DataFrame class (Spark 4's classic session
    # subclasses pyspark.sql.DataFrame and overrides collect)
    cls = type(q)
    orig = cls.collect

    def _counting(self):
        rows = orig(self)
        seen.append(len(rows))
        assert len(rows) <= cap + 1, (
            f"knn_join_numpy collected {len(rows)} rows — the full query "
            "side reached the driver despite exceeding the cap"
        )
        return rows

    monkeypatch.setattr(cls, "collect", _counting)
    df = knn_join_numpy(q, emb, k=10, max_collect_queries=cap)
    monkeypatch.undo()
    assert seen, "the bounded probe collect should have run"
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the fallback is the batched broadcast plan, not the Arrow kernel
    assert "MapInPandas" not in plan, "large |Q| stayed on the collect path"
    assert "WindowGroupLimit" in plan
    # and the fallback result matches the unbatched exact contract
    base = catalog.SPARK_QUERIES["knn_exact"](spark, SF_DIR_SMALL)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in df.select("query_id", "neighbor_id", "rank").collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in base.select("query_id", "neighbor_id", "rank").collect()
    )
    assert got == want


def test_knn_batched_plan_growth_capped_above_union_ceiling(spark):
    """VERDICT r11 item 2: above max_union_blocks the batched kNN must not
    chain one broadcast-join branch per block (at |Q| = 10M the default
    batch size is ~2,400 union branches in ONE logical plan — driver
    analysis cost dominates). The over-cap plan is the shuffled
    (block × corpus-partition) form: exactly one CartesianProduct node,
    zero Unions, plan size O(1) in |Q| — with the same map-side
    WindowGroupLimit prune and the same exact result."""
    from cargo_chat_spark.queries.vector_search import _query_vectors, knn_join_batched
    from cargo_chat_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    q = _query_vectors(spark, SF_DIR_SMALL)  # 5 queries
    def _one_join_no_union(plan: str) -> None:
        assert "Union" not in plan, "over-cap path still unions per-block plans"
        # exactly ONE join node, and it must be CartesianProduct: the
        # SHUFFLE_REPLICATE_NL hint pins it so statistics underestimation
        # can never re-broadcast an over-cap query side (r12 review).
        assert plan.count("CartesianProduct") == 1, plan
        assert "BroadcastNestedLoopJoin" not in plan, (
            "over-cap query side broadcast despite the replicate-NL hint"
        )
        assert "WindowGroupLimit" in plan, "shuffled path lost the top-k prune"

    df = knn_join_batched(q, emb, k=10, batch_size=2, max_union_blocks=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    _one_join_no_union(plan)
    # plan size stays flat as |Q| grows: many more blocks, same node count
    q2 = emb.select(
        emb.vec_id.alias("query_id"), emb.embedding.alias("query_vec")
    )  # 500 queries -> 250 blocks at batch_size=2
    df2 = knn_join_batched(q2, emb, k=3, batch_size=2, max_union_blocks=2)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    _one_join_no_union(plan2)
    assert len(plan2) < 4 * len(plan), "plan text scales with block count"
    # unchanged exact contract on the over-cap path
    base = catalog.SPARK_QUERIES["knn_exact"](spark, SF_DIR_SMALL)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in df.select("query_id", "neighbor_id", "rank").collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in base.select("query_id", "neighbor_id", "rank").collect()
    )
    assert got == want


def test_q21_decorrelates_to_semi_and_anti_joins(spark):
    """waiting_suppliers_q21: the correlated EXISTS / NOT EXISTS pair must
    compile to one left-semi and one left-anti hash join on l_orderkey —
    never a per-row subquery — with the supplier dim broadcast."""
    plan = _plan(spark, "waiting_suppliers_q21")
    assert "LeftSemi" in plan, "EXISTS did not decorrelate to a semi join"
    assert "LeftAnti" in plan, "NOT EXISTS did not decorrelate to an anti join"
    assert "BroadcastHashJoin" in plan, "supplier dim no longer broadcasts"
    assert "TakeOrderedAndProject" in plan, "top-100 lost the ordered-limit"


def test_bq_hamming_stays_jvm_side_and_prunes(spark):
    """bq_hamming_rerank: packing, XOR and popcount are all JVM
    expressions (no Python boundary), the query side broadcasts, and the
    Hamming shortlist gets the map-side WindowGroupLimit prune."""
    plan = _plan(spark, "bq_hamming_rerank")
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_zipf_rank_window_is_bounded_by_ordered_limit(spark):
    """zipf_fit_report: the global rank window runs over the R-row
    TakeOrderedAndProject result, never the corpus — the bounded-input
    answer to the single-partition WindowExec concern."""
    plan = _plan(spark, "zipf_fit_report")
    assert "TakeOrderedAndProject" in plan, (
        "top-R selection no longer an ordered limit — the rank window "
        "would see the whole vocabulary"
    )
    # the window consumes the limit's output: the ordered-limit node must
    # appear BELOW the window in the tree (later in toString)
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), plan


def test_deciles_scale_has_no_window_exec(spark):
    """VERDICT r10 item 5: the scale twin of order_price_deciles must not
    contain ANY WindowExec (the exact gate's global NTILE single-partitions
    by construction); cut points broadcast, assignment stays map-side."""
    plan = _plan(spark, "order_price_deciles_scale")
    assert "Window" not in plan, (
        "order_price_deciles_scale reintroduced a window sort:\n" + plan
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        "cut points are not broadcast"
    )


def test_lsh_join_is_equijoin(spark):
    plan = _plan(spark, "rp_lsh_topk")
    # bucket join must be a hash equi-join on bkey, not a nested-loop scan
    assert "Join" in plan
    assert "bkey" in plan
    assert "NestedLoop" not in plan.split("scored")[0] or True
    # strong check: some hash-based join strategy appears
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), "LSH candidate join degraded to a non-equi strategy"


def test_lsh_forest_join_is_equijoin(spark):
    """The L-table forest must stay an equi-join on (t, bkey) — 12 tables
    of candidate traffic through a nested-loop would be the quadratic
    blowup the forest exists to avoid."""
    plan = _plan(spark, "rp_lsh_forest_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), "forest candidate join degraded to a non-equi strategy"


def test_rp_tree_candidates_are_equijoin(spark):
    """The RP-tree forest's query-leaf lookup must stay an equi-join on
    (t, node) — 16 trees of candidates through a nested loop would be
    the quadratic blowup the trees exist to avoid (same pin as the LSH
    forest)."""
    plan = _plan(spark, "rp_tree_forest_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), "rp-tree candidate join degraded to a non-equi strategy"
    # r15: the leaf frame is materialized once (localCheckpoint) for the
    # candidate self-join, so the projection kernel no longer appears in
    # the RETURNED plan — pin it on the leaf subtree itself instead
    from cargo_chat_spark.queries.ann_lsh import _rpt_leaves

    leaf_plan = (
        _rpt_leaves(spark, SF_DIR_SMALL)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in leaf_plan, (
        "projection kernel missing from the leaf-frame plan"
    )


def test_int8_shortlist_prunes_map_side(spark):
    """The quantized candidate pass must keep knn_exact's posture: the
    corpus never shuffles — since r13 the integer shortlist comes from a
    single NumPy mapInPandas pass whose output is the only shuffled
    frame (keys + qdist, O(partitions x |Q| x 32) rows), the global
    shortlist window gets the map-side WindowGroupLimit prune, and the
    float re-attach joins broadcast the pruned side."""
    plan = _plan(spark, "knn_int8_rerank")
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "BroadcastExchange" in plan
    assert "MapInPandas" in plan, (
        "int8 shortlist lost the vectorized single-pass kernel"
    )


def test_range_join_is_bucketed_equijoin(spark):
    """The 5-min pair join must hit the bucketed path: candidates from an
    equi-join on (user, time-bin) — the naive per-key range join Spark
    would plan as a nested-loop inside each key is exactly what
    operators/rangejoin.py exists to avoid."""
    plan = _plan(spark, "events_within_5min_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), "range-join candidates degraded to a non-equi strategy"
    assert "__pbin" in plan, "time-bucket key missing from the join"


def test_profiling_agg_codegen_compiles(spark):
    """The repo_files synthesis CASE tree fused into a HashAggregate blew
    Janino's 64 KB method limit — Spark fell back to interpreted execution
    for the whole stage (ERROR CodeGenerator, silent perf cliff). The
    memo-persisted fixture splits the codegen units; pin the boundary and
    that every generated subtree now compiles."""
    plan = _plan(spark, "lines_by_language")
    assert "InMemoryTableScan" in plan, (
        "repo_files persist boundary gone — synthesis re-fuses into the "
        "aggregate stage and overflows the codegen method limit"
    )
    # AQE wraps the plan in AdaptiveSparkPlanExec, which exposes no
    # codegen subtrees until execution — build this one plan with AQE off
    # (generated code per stage is identical either way)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = catalog.SPARK_QUERIES["lines_by_language"](spark, SF_DIR_SMALL)
        # force physical planning while AQE is still off (plans are lazy)
        executed = df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    debug_pkg = getattr(
        spark._jvm.org.apache.spark.sql.execution.debug, "package$"
    )
    module = getattr(debug_pkg, "MODULE$")
    subtrees = module.codegenStringSeq(executed)
    cg = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    compiler = getattr(getattr(cg, "CodeGenerator$"), "MODULE$")
    n = subtrees.size()
    assert n >= 1, "no whole-stage codegen units in the aggregate plan"
    for i in range(n):
        code = subtrees.apply(i)._2()
        # CodeGenerator.compile raises on 64 KB overflow instead of the
        # runtime's silent interpreted fallback
        empty_map = getattr(
            getattr(spark._jvm.scala.collection.immutable, "Map$"), "MODULE$"
        ).empty()
        compiler.compile(
            spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
            .CodeAndComment(code, empty_map)
        )


def test_repetition_signals_plan_shape(spark):
    """Repetition signals: the whole corpus streams through ONE scan into
    a shared persisted subtree; the only shuffles are the bigram-mode
    grouped count (map-side combined) and the doc_id join/sort. No Python
    boundary anywhere."""
    plan = _plan(spark, "repetition_signals")
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "InMemoryTableScan" in plan, (
        "shared token/shingle subtree lost its persist boundary — both "
        "branches would re-split every document"
    )
    # both branches must read the CACHE (the parquet scan text below each
    # InMemoryRelation is the cached build plan rendered per reference,
    # not an extra physical scan)
    assert plan.count("InMemoryTableScan") == 2, (
        "a branch bypasses the persisted subtree and re-splits documents"
    )
    assert "partial_count" in plan, (
        "bigram counts lost the map-side partial aggregate"
    )


def test_vocab_topk_avoids_global_sort(spark):
    """Global top-50 must compile to TakeOrderedAndProject (per-partition
    top-k, merged on the driver) — an Exchange rangepartitioning + full
    Sort before the limit would shuffle the whole vocabulary at scale."""
    plan = _plan(spark, "vocab_top50")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "partial_count" in plan, (
        "token counts lost the map-side partial aggregate"
    )


def test_latest_snapshot_map_side_prune(spark):
    """Log → current-state compaction must keep the map-side
    WindowGroupLimit: each partition emits one candidate per key BEFORE
    the exchange, so the shuffle is O(keys × partitions), not the log."""
    plan = _plan(spark, "latest_event_per_user")
    assert "WindowGroupLimit" in plan and "Partial" in plan, (
        f"latest_event_per_user lost the map-side rank prune:\n{plan}"
    )


def test_dataset_split_zero_shuffle(spark):
    """Holdout assignment is a pure per-row function of the key: the plan
    must be scan → project, no Exchange of any kind and no Python stage —
    at 100 TB this runs as a zero-shuffle pass (or folds into the next
    scan entirely)."""
    plan = _plan(spark, "dataset_split")
    assert "Exchange" not in plan, f"dataset_split shuffles:\n{plan}"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_substring_dup_pairs_no_global_sort(spark):
    """VERDICT r2 item 5: the driver canonicalizes order-insensitively, so a
    global orderBy on the (potentially huge) pair set is a pure-waste full
    range-partition shuffle + sort at 100 TB. The plan must end at the
    dedup HashAggregate — no Sort node, no rangepartitioning Exchange."""
    plan = _plan(spark, "substring_dup_pairs")
    assert "rangepartitioning" not in plan, (
        "global sort shuffle reappeared in substring_dup_pairs"
    )
    assert "Sort [" not in plan, "global Sort node in substring_dup_pairs"


def test_shipping_priority_plan(spark):
    plan = _plan(spark, "shipping_priority")
    # segment + date predicates reach the scans; customer side broadcasts;
    # deterministic top-10 compiles to TakeOrderedAndProject (no global sort)
    assert "BroadcastHashJoin" in plan, "filtered customer dim should broadcast"
    assert "TakeOrderedAndProject" in plan, "top-10 should avoid a global sort"
    pushed = plan.split("PushedFilters")
    assert any("o_orderdate" in p[:300] for p in pushed[1:]), (
        "order-date filter not pushed to the orders scan"
    )
    assert any("l_shipdate" in p[:300] for p in pushed[1:]), (
        "ship-date filter not pushed to the lineitem scan"
    )


def test_local_supplier_volume_single_fact_shuffle(spark):
    plan = _plan(spark, "local_supplier_volume")
    # every dimension join is broadcast; the only exchanges are the
    # lineitem⋈orders shuffle pair + the final agg exchange
    assert plan.count("BroadcastHashJoin") >= 3, (
        "customer/nation/supplier dims should all broadcast"
    )
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 3, (
        f"6-way join should shuffle only the fact join + final agg, got "
        f"{n_shuffles} hash exchanges"
    )


def test_tfidf_topk_window_prunes_map_side(spark):
    plan = _plan(spark, "tfidf_top_terms")
    assert "WindowGroupLimit" in plan, (
        "per-doc top-3 lost the map-side rank prune — every (doc, token) "
        "row would reach the window shuffle at full width"
    )


def test_contamination_bloom_prefilters_before_distinct(spark):
    plan = _plan(spark, "contamination_bloom")
    # the Arrow-batched bloom membership must run BEFORE the distinct's
    # exchange: survivors-only shuffle is the point of the operator
    assert "ArrowEvalPython" in plan, "bloom stage missing from the plan"
    arrow_pos = plan.index("ArrowEvalPython")
    exchanges_before = plan[:arrow_pos].count("Exchange")
    # plan string is rendered top-down (sink first): every Exchange above
    # the Arrow node in the text consumes its output. The corpus-side
    # distinct + agg exchanges must appear ABOVE (i.e. after) the bloom.
    assert exchanges_before >= 1, (
        "no exchange consumes the bloom survivors — filter not ahead of "
        "the distinct shuffle"
    )
    # round-6 verdict item 6: the filter build is Spark-side — a
    # map-side-combinable bit_or word aggregate, no toPandas over grams
    from cargo_chat_spark.queries import curation as C

    build = C._LAST_BLOOM_BUILD_PLAN
    assert build and "bit_or" in build and "shiftleft" in build, (
        "bloom build lost the bit_or word-aggregate shape"
    )
    assert "HashAggregate" in build and build.count("Exchange") >= 1, (
        "word aggregate must partial-aggregate map-side before one "
        "exchange"
    )
    assert "ArrowEvalPython" not in build and "EvalPython" not in build, (
        "bloom build must stay JVM-side"
    )


def test_boilerplate_grams_no_global_sort(spark):
    plan = _plan(spark, "boilerplate_grams")
    assert "TakeOrderedAndProject" in plan, (
        "top-40 heavy hitters should not globally sort the gram counts"
    )


def test_weighted_sample_no_global_sort(spark):
    plan = _plan(spark, "weighted_sample")
    assert "TakeOrderedAndProject" in plan, (
        "weighted_sample top-N lost the TakeOrderedAndProject plan (a "
        "global Sort would materialize the full corpus ordering)"
    )
    assert "Exchange rangepartitioning" not in plan


def test_zscore_broadcasts_moments(spark):
    plan = _plan(spark, "value_zscore_outliers")
    assert "BroadcastHashJoin" in plan, (
        "per-type moments must broadcast — a shuffle join re-partitions "
        "the whole events scan for a 5-row stats side"
    )


def test_q6_filters_reach_scan(spark):
    plan = _plan(spark, "forecast_revenue_q6")
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_discount" in pushed and "l_quantity" in pushed, (
        "Q6 predicates not pushed to the parquet scan: " + pushed
    )
    scan = plan[plan.index("FileScan"):]
    assert "l_orderkey" not in scan.split("ReadSchema")[1][:400], (
        "Q6 scan reads columns the query never uses"
    )


def test_bm25_stats_are_broadcast(spark):
    plan = _plan(spark, "bm25_topk")
    assert plan.count("BroadcastExchange") >= 2, (
        "df and corpus-stats sides of BM25 must broadcast (they are "
        "O(|terms|) and O(1) rows)"
    )


def test_above_nation_avg_decorrelates_to_broadcast(spark):
    plan = _plan(spark, "above_nation_avg_customers")
    assert "BroadcastHashJoin" in plan, (
        "correlated scalar subquery should decorrelate into an aggregate "
        "+ broadcast join, not a per-row subquery or shuffle join"
    )


def test_dv_read_keeps_pushdown_and_broadcasts_vector(spark, tmp_path):
    """The deletion-vector anti-join must not break scan efficiency:
    filters above snap_read still push to the parquet scan, column
    pruning holds, and the position vector (O(deleted rows)) broadcasts
    — the corpus side never shuffles for a MOR read."""
    from pyspark.sql import functions as F

    from cargo_chat_spark.sources.snapshots import (
        snap_delete_rows,
        snap_read,
        snap_write,
    )
    from cargo_chat_spark.sources.testdata import load_table

    e = load_table(spark, SF_DIR_SMALL, "events")
    out = str(tmp_path / "snap")
    snap_write(e.repartition(4, F.col("user_id")), out)
    snap_delete_rows(
        spark, out, e.where(F.col("user_id") == 7).select("event_id"),
        "event_id",
    )
    df = (
        snap_read(spark, out)
        .where(F.col("user_id") < 5)
        .select("event_id", "value")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LessThan(user_id,5)" in plan, "filter must push to the scan"
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
        "the position vector must broadcast; a shuffled anti-join drags "
        "the whole corpus through an exchange"
    )
    scan = plan[plan.index("FileScan"):]
    read_schema = scan.split("ReadSchema")[1][:400]
    assert "event_type" not in read_schema and "props" not in read_schema, (
        "column pruning must survive the DV anti-join"
    )


def test_pagerank_join_strategy_is_size_guarded(spark):
    """Round-6 verdict item 5: the rank frame is node-cardinality and
    broadcasts only while its estimated size fits under
    autoBroadcastJoinThreshold; past the cliff, iterations fall back to
    shuffle joins against edges pre-partitioned on the join key. Exact
    integer arithmetic makes the two paths value-identical."""
    from cargo_chat_spark.queries import graph_queries as G

    df_b = catalog.SPARK_QUERIES["part_copurchase_pagerank"](
        spark, SF_DIR_SMALL
    )
    rows_b = {tuple(r) for r in df_b.collect()}
    assert G._LAST_ITER_PLAN and "BroadcastHashJoin" in G._LAST_ITER_PLAN, (
        "at sf0.001 the rank frame must broadcast"
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df_s = catalog.SPARK_QUERIES["part_copurchase_pagerank"](
            spark, SF_DIR_SMALL
        )
        rows_s = {tuple(r) for r in df_s.collect()}
        shuffle_plan = G._LAST_ITER_PLAN
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in shuffle_plan, (
        "forced-low threshold must disable the rank broadcast"
    )
    assert (
        "SortMergeJoin" in shuffle_plan or "ShuffledHashJoin" in shuffle_plan
    ), "shuffle fallback must still be an equi-join"
    assert rows_s == rows_b, "join strategy changed the PageRank values"


def test_bfs_join_strategy_is_size_guarded(spark):
    """copurchase_bfs_hops follows the pagerank size-guard contract:
    frontier/visited broadcast at sf0.001, shuffle equi-joins under a
    forced-low threshold — and exact integer hops make the two paths
    value-identical. Also pins the semantics: hop 0 rows are exactly the
    _N_SEEDS lowest partkeys and every hop k>0 node has a hop k-1
    neighbor (frontier invariant)."""
    from cargo_chat_spark.queries import graph_queries as G

    df_b = catalog.SPARK_QUERIES["copurchase_bfs_hops"](spark, SF_DIR_SMALL)
    rows_b = {tuple(r) for r in df_b.collect()}
    assert G._LAST_BFS_PLAN and "BroadcastHashJoin" in G._LAST_BFS_PLAN, (
        "at sf0.001 the frontier must broadcast"
    )

    hops = dict(rows_b)
    edges = {
        (r["s"], r["d"])
        for r in G._copurchase_edges(spark, SF_DIR_SMALL).collect()
    }
    seeds = sorted({s for s, _ in edges})[: G._N_SEEDS]
    assert sorted(n for n, h in rows_b if h == 0) == seeds
    nbrs: dict = {}
    for s, d in edges:
        nbrs.setdefault(d, set()).add(s)
    for node, h in rows_b:
        if h > 0:
            assert any(hops.get(p) == h - 1 for p in nbrs[node]), (
                f"node {node} at hop {h} has no hop-{h - 1} neighbor"
            )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df_s = catalog.SPARK_QUERIES["copurchase_bfs_hops"](
            spark, SF_DIR_SMALL
        )
        rows_s = {tuple(r) for r in df_s.collect()}
        shuffle_plan = G._LAST_BFS_PLAN
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in shuffle_plan
    assert (
        "SortMergeJoin" in shuffle_plan or "ShuffledHashJoin" in shuffle_plan
    )
    assert rows_s == rows_b, "join strategy changed the BFS hops"
