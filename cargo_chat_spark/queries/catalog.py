"""Aggregates all registered correctness queries.

Importing this module populates ``SPARK_QUERIES`` / ``ORACLE_SQL`` from every
domain module. ``__spark_entry__.py`` re-exports these to the driver.
"""

from __future__ import annotations

from cargo_chat_spark.queries import analytics  # noqa: F401
from cargo_chat_spark.queries import ann_lsh  # noqa: F401
from cargo_chat_spark.queries import bpe_queries  # noqa: F401
from cargo_chat_spark.queries import clustering  # noqa: F401
from cargo_chat_spark.queries import curation  # noqa: F401
from cargo_chat_spark.queries import dataprofile  # noqa: F401
from cargo_chat_spark.queries import dataselect  # noqa: F401
from cargo_chat_spark.queries import dedup  # noqa: F401
from cargo_chat_spark.queries import entity  # noqa: F401
from cargo_chat_spark.queries import eval_report  # noqa: F401
from cargo_chat_spark.queries import graph_queries  # noqa: F401
from cargo_chat_spark.queries import hybrid  # noqa: F401
from cargo_chat_spark.queries import jl_queries  # noqa: F401
from cargo_chat_spark.queries import model_gates  # noqa: F401
from cargo_chat_spark.queries import rerank  # noqa: F401
from cargo_chat_spark.queries import multimodal_queries  # noqa: F401
from cargo_chat_spark.queries import profiling  # noqa: F401
from cargo_chat_spark.queries import retrieval  # noqa: F401
from cargo_chat_spark.queries import similarity  # noqa: F401
from cargo_chat_spark.queries import sketch_queries  # noqa: F401
from cargo_chat_spark.queries import storage  # noqa: F401
from cargo_chat_spark.queries import streaming_queries  # noqa: F401
from cargo_chat_spark.queries import temporal  # noqa: F401
from cargo_chat_spark.queries import unigram_queries  # noqa: F401
from cargo_chat_spark.queries import textstats  # noqa: F401
from cargo_chat_spark.queries import vector_search  # noqa: F401
from cargo_chat_spark.queries.registry import ORACLE_SQL, SPARK_QUERIES

# The driver's correctness gate checks the FIRST 50 entries of queries()
# in iteration order, so the gated set is this explicit list (a new
# registration can never silently displace a gate). The first 20 are the
# permanent reference-parity gates; the other 30 rotate. Every registered
# query outside the window already holds a green external CORRECTNESS_r*
# row or sits in _OVERFLOW_TAIL. Past windows, drafts and promotion queues
# are in git history and the CORRECTNESS_r*.json files.
GATE_WINDOW = [
    # --- permanent reference-parity gates (20) ---
    "knn_exact",
    "retrieval_rank_reference",
    "neardup_components",
    "sessionize_stateful",
    "index_roundtrip",
    "snippet_and_paths",
    "language_detect",
    "chunk_documents",
    "context_assembly",
    "supported_extensions_union",
    "ingest_stats",
    "files_by_language",
    "lines_by_language",
    "build_files_by_repo",
    "frameworks_by_repo",
    "readme_summary",
    "repo_profile",
    "primary_languages",
    "mock_embed_documents",
    "rerank_topk",
    # --- rotating slots (30) ---
    "kcenter_coreset",
    "rp_tree_filtered_topk",
    "hybrid_rrf_retrieval",
    "index_import_reference",
    "ivfpq_topk",
    "dedup_mor_apply",
    "media_frame_sample",
    "paragraph_dedup_rebuild",
    "part_copurchase_pagerank",
    "part_name_entities",
    "pq_knn_rerank",
    "rolling_7d_actives",
    "semdedup_keep",
    "event_transitions",
    "source_quality_report",
    "table_profile",
    "token_spans_udtf",
    "value_stats_salted",
    "boilerplate_grams",
    "cohort_retention",
    "contamination_bloom",
    "copurchase_triangles",
    "cm_join_size_report",
    "bpe_learned_merges",
    "ann_recall_report",
    "ann_rank_metrics_report",
    "dsir_logratio_weights",
    "index_upsert_cells",
    "ivm_view_follow",
    "lsh_band_sweep_report",
]

# Entries that duplicate coverage carried by an earlier entry (or are
# fixture parity checks whose consumers are themselves gated) go to the
# end of queries(), where falling off the gate cap loses no operator
# coverage. Each keeps a one-line reason. No name is in both lists: a
# window entry's tail reason would describe where it does not sit.
_OVERFLOW_TAIL = [
    "candidates_fixture",      # synthesis parity; rerank/retrieval gates consume it
    "distinct_counts_approx",  # rows-only HLL twin; exact twin carries the oracle
    "knn_overfetch_2k",        # O2 re-proven inside retrieval_rank_reference
    "minhash_signatures",      # consumed by minhash_lsh_pairs
    "simhash_fingerprints",    # consumed by simhash_neardup_pairs
    "event_sessions",          # batch twin of sessionize_stateful
    # windowing green in events_tumbling_window's CORRECTNESS_r13 row
    "events_sliding_window",
    # round-4 demotions (F2-F4 re-proven by retrieval_rank_reference; LSH/
    # ngram/simhash pairs green r1-r3 with banded-join machinery re-proven
    # by neardup_components; P7 enforced inside retrieval; the cosine
    # kernel is knn.topk_block's dot_normed metric, pinned by
    # tests/test_knn_kernel.py)
    "filter_folder",
    "filter_extension",
    "filter_exclude",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash_neardup_pairs",
    "dim_validation",
    "cosine_topk",
    # round-5 demotions
    "media_featurize",      # Arrow map plumbing re-proven in-window by mock_embed_documents
    # bucket equi-join green in events_within_5min_pairs' CORRECTNESS_r13 row
    "substring_dup_pairs",
    "quality_filter",       # threshold predicate over quality_score's signals
    "ivf_topk",             # static-centroid IVF, superseded by ivf_topk_trained
    # live-trained IVF twin of the frozen-centroid gate ivf_topk_trained
    # (CORRECTNESS_r13 row): rows-only by design (distributed-mean float
    # association), recall pinned in tests/test_ann_recall.py
    "ivf_topk_trained_live",
    # new in round 5: event-dedup collapse (oracle-checked locally by
    # test_stream_dedup.py); rotate next round —
    # hash-groupBy collapse machinery green in dedup_exact's
    # CORRECTNESS_r13 row
    "events_dedup_collapse",
    # new in round 5: CDC latest-per-key snapshot (oracle-checked locally
    # by test_stream_dedup.py); rotate next round — rank-1 WindowGroupLimit
    # machinery re-proven in-window by knn_exact
    "latest_event_per_user",
    # new in round 5: exact fixed-point embedding pooling (oracle-checked
    # locally by test_ann_recall.py); rotate next round — the only
    # array-AGGREGATION gate (posexplode + exact integer mean)
    "label_centroids",
    # new in round 5: 3-stage strict-order funnel (signup→view→purchase,
    # conditional-MIN aggregates); oracle-checked locally by
    # test_oracle_harness
    "event_funnel",
    # new in round 5: fixed-width per-type value histogram (exact integer
    # bins, decimal-routed sums); rotate next round — groupBy machinery
    # green in events_tumbling_window's CORRECTNESS_r13 row
    "value_histogram",
    # new in round 5: per-doc top-3 TF-IDF terms (rank on rounded score —
    # libm-divergence-proof); rotate next round — explode+agg machinery
    # green in vocab_top50's CORRECTNESS_r14 row, rank windows re-proven
    # in-window by knn_exact
    "tfidf_top_terms",
    # new in round 5: MinHash-LSH eval↔corpus fuzzy decontamination;
    # rotate next round — band machinery re-proven in-window by
    # neardup_components
    "fuzzy_decontamination",
    # round-5 wave 3 (all oracle-checked locally by test_oracle_harness;
    # rotate next round):
    # hypertable-style dense rollup + LOCF — spine/window machinery
    # green in events_moving_avg's CORRECTNESS_r13 row
    "events_gap_fill_locf",
    # market-basket type co-occurrence — bounded self-join; equi-join+agg
    # machinery green in events_asof_join's CORRECTNESS_r13 row
    "event_type_cooccurrence",
    # per-type z-score outliers from exact decimal moments — green in
    # its own CORRECTNESS_r09 row; the broadcast stats join is pinned by
    # tests/test_plan_shapes.py::test_zscore_broadcasts_moments
    "value_zscore_outliers",
    # INTERSECT/EXCEPT cohort algebra — anti-join machinery also exercised
    # by abandoned_purchases' NOT EXISTS
    "engaged_clean_users",
    # per-doc token-distribution entropy — explode+agg machinery green
    # in the CORRECTNESS_r14 rows of quality_score and repetition_signals
    "word_entropy",
    # Okapi BM25 lexical ranking (integer tf/df/dl, scalar-broadcast
    # stats) — explode+agg machinery green in vocab_top50's
    # CORRECTNESS_r14 row
    "bm25_topk",
    # corpus-unigram-LM bits-per-token (the no-model member of the
    # perplexity-filter family) — explode+agg machinery green in
    # quality_score's CORRECTNESS_r14 row
    "unigram_logprob",
    # end-to-end curation funnel COMPOSING the registered quality/dedup/
    # decontam/split operators (oracle nests their SQL twins verbatim) —
    # every constituent stage is itself gated
    "curation_pipeline",
    # cogroup().applyInPandas per-key pandas merge_asof — gates the
    # cogrouped-Arrow surface; the RELATIONAL as-of (events_asof_join)
    # remains the preferred form for this semantics
    "cogroup_purchase_view_asof",
    # Spark 4 VARIANT parse-once extraction — JSON-path machinery
    # green in events_props_extract's CORRECTNESS_r13 row
    "events_props_variant",
    # round-5 wave 4 (data-quality profiling family; oracle-checked
    # locally by test_oracle_harness):
    # equi-depth quartile histogram (exact cutpoints broadcast + CASE
    # binning) — percentile machinery also exercised by
    # doc_length_percentiles
    "value_equidepth_histogram",
    # robust median/MAD outliers (modified z-score > 3.5) — the same
    # broadcast stats join as value_zscore_outliers (CORRECTNESS_r09 row)
    "mad_outliers",
    # round-5 wave 4 (temporal family): single-pass OHLC bars via
    # lexicographic struct MIN/MAX; oracle-checked locally by
    # test_oracle_harness
    "events_ohlc_hourly",
    # changelog -> SCD2 validity intervals (LEAD + sentinel close) —
    # window machinery green in events_moving_avg's CORRECTNESS_r13 row
    "user_value_scd2",
    # per-(user,day) ordered event paths, top-20 — sorted-collect
    # machinery re-proven in-window by context_assembly's ordered lists
    "session_paths_top",
    # filtered vector search via knn_join's exclude (hard-negative
    # mining for contrastive training) — k-NN kernel re-proven
    # in-window by knn_exact
    "hard_negatives_topk",
    # round-5 wave 4 (entity-resolution family): blocked Levenshtein
    # candidate pairs over the distinct-name dim — equi-join blocking
    # re-proven in-window by neardup_components' band joins
    "similar_part_names",
    # time-interval RANGE window frame (trailing 1h over event time) —
    # window machinery green in events_moving_avg's CORRECTNESS_r13 row
    "events_trailing_1h_sum",
    # Spark 4 bitmap aggregates vs a COUNT(DISTINCT) oracle — exact
    # re-aggregatable distinct; distinct machinery green in
    # distinct_counts_exact's CORRECTNESS_r13 row
    "daily_active_bitmap",
    # Datasketches HLL rollup (rows-only by design: sketches are
    # engine-specific; error bound pinned by tests/test_sketch_bounds.py)
    "weekly_hll_rollup",
    # dbt-test-style bulk constraint audit (FK orphans, uniqueness,
    # domain, non-null) — anti-join machinery re-proven in-window by
    # retrieval_rank_reference
    "constraint_violations",
    # week-1 vs week-4 data-diff per type (volume/value/user drift) —
    # conditional-agg machinery re-proven in-window by ingest_stats
    "events_weekly_drift",
    # scalar Arrow pandas_udf surface (Series->Series token counts; every
    # other Python stage is mapInPandas/applyInPandas) — token semantics
    # green in token_count's CORRECTNESS_r14 row
    "token_count_pandas",
    # built-in session_window aggregate (declarative sessionizer, third
    # family member; shared oracle) — session semantics re-proven
    # in-window by sessionize_stateful
    "events_session_window_builtin",
    # mapInArrow surface (raw RecordBatch + pyarrow.compute — third
    # Python tier next to pandas_udf and JVM exprs, one oracle family) —
    # token semantics green in token_count's CORRECTNESS_r14 row
    "token_count_arrow",
    # batch twin of the left-outer stream-stream interval join (anti
    # range join over tol-binned candidates; oracle keeps the correlated
    # NOT EXISTS) — bin machinery green in events_within_5min_pairs'
    # CORRECTNESS_r13 row
    "abandoned_purchases",
    # Spark 4 WITH RECURSIVE surface (depth-bounded UNION ALL closure vs
    # DuckDB's fixed-point UNION oracle) — closure semantics re-proven
    # in-window by neardup_components
    "part_name_entities_recursive",
]


def _reorder() -> None:
    """Iteration order = GATE_WINDOW, then ungated entries (registration
    order), then _OVERFLOW_TAIL."""
    window = set(GATE_WINDOW)
    assert len(GATE_WINDOW) == 50, f"gate window is {len(GATE_WINDOW)}, not 50"
    assert len(window) == 50, "duplicate names in GATE_WINDOW"
    missing = [n for n in GATE_WINDOW if n not in SPARK_QUERIES]
    assert not missing, f"GATE_WINDOW names match no registered query: {missing}"
    names = list(GATE_WINDOW)
    names += [
        n for n in SPARK_QUERIES
        if n not in window and n not in _OVERFLOW_TAIL
    ]
    names += [
        n for n in _OVERFLOW_TAIL if n in SPARK_QUERIES and n not in window
    ]
    sq = {n: SPARK_QUERIES[n] for n in names}
    osql = {n: ORACLE_SQL[n] for n in names if n in ORACLE_SQL}
    SPARK_QUERIES.clear()
    SPARK_QUERIES.update(sq)
    ORACLE_SQL.clear()
    ORACLE_SQL.update(osql)


_reorder()

__all__ = ["SPARK_QUERIES", "ORACLE_SQL", "GATE_WINDOW"]
