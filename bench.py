"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is fully materialized via the noop sink (no driver collect, no
column-prune shortcut), mirroring how a cluster job would evaluate it.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cargo_chat_spark import caching  # noqa: E402
from cargo_chat_spark.queries import catalog  # noqa: E402
from cargo_chat_spark.session import get_spark  # noqa: E402

# Round-6 fix (r5 verdict items 2+5): the 102-entry headline pushed the
# stdout summary line past the driver's capture buffer (BENCH_r05 parsed:
# null). HEADLINE is now a FIXED ~30-query representative set — one line of
# rationale each — so the stdout contract line stays compact; everything
# else (per-repeat timings, baseline ratios, DETAIL_EXTRA) goes to the
# BENCH_DETAIL.json sidecar.
HEADLINE = [
    # --- vector search / ANN compression ladder (6) ---
    "knn_exact",             # flagship J1: NumPy k-NN kernel, map-side top-k prune
    # r9 swap (r8 verdict item 3): the forest headline is the PERSISTED
    # store probe — the production steady state (the batch form's decade
    # exponent 0.78 was the key recompute, its own documented exit). The
    # batch rp_lsh_forest_topk stays measured in DETAIL_EXTRA as the
    # build gate.
    "rp_forest_persisted",   # LSH-forest probe from the persisted store
    "ivf_topk_trained",      # trained IVF cell probe (partition-prune path)
    "knn_int8_rerank",       # int8 quantized scan + exact re-rank (4x bandwidth)
    "pq_knn_rerank",         # PQ ADC shortlist + re-rank (32x compression)
    "ivfpq_topk",            # IVF+PQ composition — most expensive ANN entry
    # --- retrieval (3) ---
    "retrieval_rank_reference",  # full reference semantics: filters+rank+limit
    "bm25_topk",             # lexical Okapi BM25 (integer tf/df/dl)
    "hybrid_rrf_retrieval",  # BM25 + Jaccard reciprocal-rank fusion
    # --- dedup families (5) ---
    "dedup_exact",           # hash-groupBy exact dedup (1 shuffle)
    "minhash_lsh_pairs",     # banded MinHash-LSH join (the 100 TB near-dup)
    "semdedup_keep",         # cell-pruned embedding dedup (SemDeDup)
    "paragraph_dedup_rebuild",  # C4/Dolma paragraph dedup + ordered rebuild
    "fuzzy_decontamination",  # MinHash eval<->corpus decontamination
    # --- curation / text quality (3) ---
    "contamination_bloom",   # broadcast-Bloom prefilter + exact verify
    "curation_pipeline",     # end-to-end quality->dedup->decontam->split
    "quality_score",         # JVM-only quality signals over documents
    # --- graph (1) ---
    "part_copurchase_pagerank",  # iterative fixed-point graph (3 rounds)
    # --- temporal / event-stream batch twins (4) ---
    "events_asof_join",      # as-of join (bucketed backward search)
    "events_tumbling_window",  # watermark-window batch twin
    "events_gap_fill_locf",  # hypertable-style spine + LOCF
    "events_ohlc_hourly",    # single-pass OHLC via lexicographic MIN/MAX
    # --- profiling / multimodal (3) ---
    "repo_profile",          # reference profile-pipeline assembly (A7)
    "table_profile",         # single-pass long-format data profile
    "media_frame_sample",    # 1->N Arrow demux (multimodal plumbing)
]

# Timed after HEADLINE and reported ONLY in the sidecar (not part of the
# stdout contract line or the headline total): the two entries the r5
# verdict flagged for honest re-measurement under the repeats protocol,
# plus the round-6 operators collecting their first measured bars.
DETAIL_EXTRA = [
    "kcenter_coreset",          # new r14: CURE/Gonzalez k-center coreset
    "rp_tree_filtered_topk",    # new r14: post-filter ANN over the RP forest
    "rp_tree_forest_topk",      # new r13: literal median-split RP-tree forest
    "semdedup_keep_scale",      # new r13: occupancy-capped SemDeDup ramp
    "part_name_entities_recursive",
    "index_import_reference",   # new r6: reference index.bin import parity
    "frame_neardup",            # new r6: media demux ∘ exact dedup
    "index_upsert_cells",       # new r6: incremental IVF cell upsert
    "ivf_topk_persisted",       # new r6: ANN over the persisted index
    "leakage_safe_split",       # new r6: group-aware train/val/test split
    "dedup_mor_apply",          # new r6: dedup drops landed as MOR deletes
    "html_text_extract",        # new r6: WET-style HTML strip + ratio gate
    "nfc_normalize_text",       # new r6: unicode NFC via Arrow pandas_udf
    "incremental_neardup",      # new r7: persisted band-store probe
    "bpe_pair_counts",          # new r7: BPE iteration-0 pair counts
    "bpe_learned_merges",       # new r7: distributed BPE trainer (6 merges)
    "bpe_encode_sample",        # new r7: BPE encode over learned merges
    "kmeans_centroids",         # new r7: fixed-point Lloyd's trainer
    "kmeans_cluster_profile",   # new r7: cluster x label contingency
    "cluster_representatives",  # new r7: per-cluster top-5 medoids
    "inverted_postings_waves",  # new r7: 3-wave inverted-index build
    "bm25_topk_persisted",      # new r7: BM25 from the persisted index
    "bm25_cdc_synced_index",    # new r7: CDC-following index lifecycle
    "bm25_cdc_compacted_index",  # new r7: tombstone compaction + query
    "kmeans_online_centroids",  # new r7: mini-batch fold over 3 waves
    "bpe_pack_tokens",          # new r7: tokenize ∘ pack composition
    "copurchase_bfs_hops",      # new r7: multi-source BFS hop counts
    "copurchase_triangles",     # new r7: adjacency-intersect triangles
    "incremental_join_cdc",     # new r7: join-view IVM via dual CDC
    "ivm_view_follow",          # new r7: sequential-refresh IVM twin
    "curated_pack_tokens",      # new r7: funnel -> BPE -> pack flagship
    "copurchase_label_prop",    # new r7: deterministic LPA communities
    "funnel_conversion",        # new r7: ordered funnel, 1-shuffle plan
    "mmr_diversified_topk",     # new r7: greedy MMR, K map-only scans
    "phrase_match_docs",        # new r7: positional phrase adjacency
    "phrase_match_persisted",   # new r7: phrase from positional postings
    "incremental_neardup_cdc",  # new r7: band store follows CDC feed
    "ivf_topk_cdc_synced",      # new r7: ANN index follows CDC feed
    "repo_walk",                # new r8: S1-S3 walk gate (fixture tree)
    "wordfreq_cdc_dict",        # new r8: dict follows snapshot CDC
    "rp_lsh_forest_topk",       # batch forest (build gate; headline = probe)
    "rp_forest_cdc_synced",     # new r8: forest follows the CDC feed
    "answer_synthesize_mock",   # new r9: M6 mock tail over context assembly
    "ann_recall_report",        # new r9: ANN recall@10 as data (4 members)
    "lsh_precision_report",     # new r9: exact-Jaccard decile histogram
    "bpe_compression_report",   # new r9: chars-per-token curve (0/3/6)
    "corpus_drift_cdc_report",  # new r9: per-commit drift from the delta
    "embedding_drift_cdc_report",  # new r9: per-cell vector drift via CDC
    "dsir_logratio_weights",    # new r10: DSIR importance weights
    "dsir_topk_selection",      # new r10: hard top-k selection
    "dsir_gumbel_resample",     # new r10: Gumbel-top-k softmax resample
    "dsir_cdc_model",           # new r10: CDC-folded DSIR bag models
    "ccnet_perplexity_buckets",  # new r10: head/middle/tail LM split
    "ngram_diversity_report",   # new r10: distinct-n corpus card
    "ann_rank_metrics_report",  # new r10: MRR/NDCG@10 vs exact kNN
    "heavy_hitters_mg",         # new r10: Misra-Gries verified HH
    "jl_project_topk",          # new r10: JL-projected 16-dim top-k
    "jl_distortion_report",     # new r10: JL lemma histogram card
    "bpe_fertility_by_lang",    # new r10: chars/token by language
    "unigram_piece_vocab",      # new r10: unigram piece table + costs
    "unigram_viterbi_encode",   # new r10: integer-cost Viterbi encode
    "countmin_word_counts",     # new r10: Count-Min exactly-hashed grid
    "cluster_balanced_sample",  # new r10: equal md5 draw per k-means cell
    "knn_label_purity_report",  # new r10: label purity@10 coherence card
    "hrw_reshard_report",       # new r10: rendezvous-hash placement card
    "functional_dependency_report",  # new r10: candidate-FD audit card
    "cm_join_size_report",      # new r10: CM join-cardinality bounds
    "kmv_distinct_report",      # new r10: KMV engine-portable distincts
    "kmv_set_ops_report",       # new r10: merged-KMV union/intersection
    "kfold_group_assign",       # new r11: group-aware k-fold assignment
    "pmi_bigrams_top",          # new r11: integer micro-nat PMI card
    "corpus_kl_drift_report",   # new r11: unigram KL drift across versions
    "neardup_cluster_histogram",  # new r11: cluster-size health card
    "doc_length_percentiles",   # new r11: exact per-source length pctls
    "lsh_band_sweep_report",    # new r11: (b x r) precision sweep card
    "containment_pairs",        # new r11: excerpt detector (containment)
    "corpus_datasheet",         # new r11: one-row dataset datasheet
    "curriculum_phase_assign",  # new r11: easy->hard curriculum phases
    "zipf_fit_report",          # new r12: Zipf rank-frequency fit card
    "vocab_oov_report",         # new r12: top-V vocabulary OOV rates
    "ams_f2_report",            # new r12: AMS F2 / self-join-size sketch
    "bq_hamming_rerank",        # new r12: 1-bit BQ + Hamming re-rank
    "langid_confusion_report",  # new r12: langid confusion cells card
    "kn_bigram_logprob",        # new r12: Kneser-Ney bigram fluency card
    "signal_agreement_report",  # new r12: DSIR-vs-quality Spearman card
    "source_divergence_report",  # new r12: source-vs-corpus KL card
]


# Machine-speed calibration: a fixed CPU-bound JVM job (no IO, no Python)
# timed warm each bench run and emitted as "calib_sec". The shared host's
# speed drifts between rounds — measured directly by re-running the frozen
# round-1 commit's bench in the round-2 environment: 65.39 s vs the 51.75 s
# the driver recorded, a uniform 1.264x on IDENTICAL code. CALIB_REF_S is
# this round's warm calib (0.539 s) divided by that factor — the estimated
# calib on the machine that produced BASELINE.md. Ratios in the stderr
# report are also shown environment-adjusted (divided by calib_sec /
# CALIB_REF_S) so real regressions aren't drowned in host noise.
CALIB_REF_S = 0.427


def _calibrate(spark) -> float:
    # first run pays JIT and is dropped; the warm value is the MEDIAN of
    # three runs — a single warm shot measured 1.8x intra-run swings on
    # this shared host (r6: per-repeat calibs 0.457/0.288/0.258 while the
    # query medians didn't move), which turned the env adjustment into a
    # phantom-regression generator.
    t = []
    for _ in range(4):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000_000, 1).selectExpr("sum(id % 1000003)").first()
        t.append(time.perf_counter() - t0)
    return round(statistics.median(t[1:]), 3)

# Per-query baseline seconds on the CALIB_REF_S axis, the numbers BENCH
# must stay within 2x of.
#
# _R12_CONSOLIDATED_BARS is THE bar table (r11 verdict item 3): every
# tracked query (HEADLINE + DETAIL_EXTRA) re-measured in ONE round-12
# pass — per-query MEDIANS of three independent single-shot sessions
# (fresh JVM each, driver protocol --repeat 1 with the suspect-retry
# active, sf0.1, local[32]; session calibs 0.394/0.444/0.409, session
# headlines 50.50/73.61/49.58 s — the 73.6 s session is a shared-host
# noise window the median absorbs), each session scaled to the
# CALIB_REF_S axis by its own calib before the median (the r8 driver-
# axis recipe). This SUPERSEDES the r6-r11 per-wave patchwork
# (_R6_BARS/_R7_BARS/_R8_DRIVER_BARS/_R9_*/_R10_*/_R11_BARS — history
# in git and in BASELINE.md's per-round sections): one protocol, one
# session triple, one dict. Per-session evidence: BASELINE.md round-12
# section.
_R12_CONSOLIDATED_BARS = {
    "ams_f2_report": 0.57, "ann_rank_metrics_report": 6.3, "ann_recall_report": 5.31,
    "answer_synthesize_mock": 2.0, "bm25_cdc_compacted_index": 2.02, "bm25_cdc_synced_index": 0.82,
    "bm25_topk": 1.21, "bm25_topk_persisted": 0.58, "bpe_compression_report": 5.07,
    "bpe_encode_sample": 4.5, "bpe_fertility_by_lang": 4.01, "bpe_learned_merges": 4.44,
    "bpe_pack_tokens": 5.01, "bpe_pair_counts": 0.52, "bq_hamming_rerank": 0.64,
    "ccnet_perplexity_buckets": 1.04, "cluster_balanced_sample": 1.95,
    "cluster_representatives": 1.98, "cm_join_size_report": 3.28, "containment_pairs": 0.52,
    "contamination_bloom": 2.43, "copurchase_bfs_hops": 5.36, "copurchase_label_prop": 6.96,
    "copurchase_triangles": 7.59, "corpus_datasheet": 0.53, "corpus_drift_cdc_report": 0.64,
    "corpus_kl_drift_report": 0.84, "countmin_word_counts": 1.31, "curated_pack_tokens": 6.81,
    "curation_pipeline": 2.77, "curriculum_phase_assign": 1.25, "dedup_exact": 0.39,
    "dedup_mor_apply": 1.54, "doc_length_percentiles": 1.24, "dsir_cdc_model": 1.95,
    "dsir_gumbel_resample": 3.43, "dsir_logratio_weights": 3.77, "dsir_topk_selection": 3.8,
    "embedding_drift_cdc_report": 4.2, "events_asof_join": 0.77,
    "events_gap_fill_locf": 0.86, "events_ohlc_hourly": 0.75,
    "events_tumbling_window": 0.55, "frame_neardup": 0.9,
    "functional_dependency_report": 3.06, "funnel_conversion": 0.91, "fuzzy_decontamination": 0.65,
    "heavy_hitters_mg": 0.96, "hrw_reshard_report": 0.76, "html_text_extract": 0.53,
    "hybrid_rrf_retrieval": 1.63, "incremental_join_cdc": 1.28, "incremental_neardup": 1.25,
    "incremental_neardup_cdc": 6.42, "index_import_reference": 1.9,
    "index_upsert_cells": 11.58, "inverted_postings_waves": 4.17, "ivf_topk_cdc_synced": 1.72,
    "ivf_topk_persisted": 2.15, "ivf_topk_trained": 1.75, "ivfpq_topk": 3.02,
    "ivm_view_follow": 10.71, "jl_distortion_report": 3.15, "jl_project_topk": 1.78,
    "kfold_group_assign": 0.27, "kmeans_centroids": 2.18, "kmeans_cluster_profile": 1.98,
    "kmeans_online_centroids": 1.54, "kmv_distinct_report": 2.01, "kn_bigram_logprob": 3.13, "signal_agreement_report": 7.3, "source_divergence_report": 2.2, "langid_confusion_report": 2.72, "kmv_set_ops_report": 1.22,
    "knn_exact": 1.17, "knn_int8_rerank": 1.56, "knn_label_purity_report": 1.35,
    "leakage_safe_split": 0.26,
    "lsh_band_sweep_report": 2.09, "lsh_precision_report": 3.09, "media_frame_sample": 0.49,
    "minhash_lsh_pairs": 3.07, "mmr_diversified_topk": 1.57,
    "neardup_cluster_histogram": 2.12, "nfc_normalize_text": 0.55,
    "ngram_diversity_report": 1.11,
    "paragraph_dedup_rebuild": 1.19, "part_copurchase_pagerank": 7.23, "part_name_entities_recursive": 2.67,
    "phrase_match_docs": 0.49, "phrase_match_persisted": 0.31, "pmi_bigrams_top": 1.59,
    "pq_knn_rerank": 2.27,
    "quality_score": 0.67, "repo_profile": 3.04, "repo_walk": 0.89,
    "retrieval_rank_reference": 1.79,
    "rp_forest_cdc_synced": 2.39, "rp_forest_persisted": 3.32, "rp_lsh_forest_topk": 3.02,
    "semdedup_keep": 4.56,
    "table_profile": 1.96,
    "unigram_piece_vocab": 0.57, "unigram_viterbi_encode": 0.9, "vocab_oov_report": 0.71,
    "wordfreq_cdc_dict": 0.73, "zipf_fit_report": 0.5,
}


# Bars for registry entries NOT in the tracked set (HEADLINE +
# DETAIL_EXTRA): last recorded value on the same axis, kept for ad-hoc
# `--repeat` runs over custom query lists; superseded whenever a query
# joins the tracked set and gets a consolidated re-measurement.
# DELIBERATE COVERAGE DROP (r12 consolidation): the per-round _R6-_R11
# bar tables were retired when the tracked set was re-barred at 144/144
# with the 3-session protocol; registry entries outside the tracked set
# AND this table (mostly short-lived ad-hoc --repeat targets) report no
# regression comparison on ad-hoc runs — acceptable because every such
# entry's latest timing lives in BENCH_DETAIL.json and the driver's
# regression gate reads only the tracked set.
_LEGACY_BARS = {
    "abandoned_purchases": 0.99,
    "boilerplate_grams": 2.42, "chunk_documents": 0.23, "cohort_retention": 0.9,
    "constraint_violations": 0.91, "context_assembly": 3.0, "cosine_topk": 2.0,
    "daily_active_bitmap": 0.62,
    "doc_fingerprints": 3.3, "embedding_neardup_pairs": 0.8, "engaged_clean_users": 0.56,
    "event_funnel": 0.7, "event_sessions": 0.83, "event_transitions": 0.94,
    "event_type_cooccurrence": 0.6,
    "events_session_window_builtin": 0.7, "events_trailing_1h_sum": 1.19, "events_weekly_drift": 0.6,
    "events_within_5min_pairs": 0.82,
    "hard_negatives_topk": 2.56,
    "ivf_topk": 1.5,
    "mad_outliers": 0.95, "mock_embed_documents": 0.28, "ngram_jaccard_pairs": 4.3,
    "part_name_entities": 1.17,
    "rolling_7d_actives": 0.89, "rp_lsh_topk": 2.5,
    "session_paths_top": 0.89, "simhash_fingerprints": 1.9,
    "similar_part_names": 0.48, "source_quality_report": 0.98,
    "tfidf_top_terms": 1.66, "token_count": 0.31,
    "token_count_arrow": 0.38, "token_count_pandas": 0.29, "token_spans_udtf": 0.74,
    "unigram_logprob": 1.0, "user_value_scd2": 0.42,
    "value_equidepth_histogram": 0.69, "value_histogram": 0.4, "value_stats_salted": 0.39,
    "value_zscore_outliers": 0.72, "weekly_hll_rollup": 0.52,
    "word_entropy": 1.12,
}

# First bars for round-13 registrations (cold protocol: 3 x
# tools/measure_new_bars.py sessions, each scaled to the CALIB_REF_S
# axis by its own calib, MAX of the three — the _R10_COLD_BARS recipe;
# superseded at the next consolidated re-measurement).
_R13_FIRST_BARS = {
    # sessions (raw s @ calib): 4.712@0.365 / 4.893@0.430 / 3.966@0.403
    # -> scaled 5.51 / 4.86 / 4.20, max
    "rp_tree_forest_topk": 5.51,
    # sessions: 6.610@0.407 / 6.230@0.334 / 6.296@0.370
    # -> scaled 6.93 / 7.96 / 7.27, max
    "semdedup_keep_scale": 7.96,
}

# First bars for round-14 registrations (same cold protocol).
_R14_FIRST_BARS = {
    # sessions (raw s @ calib): 3.422@0.529 / 6.192@0.682 / 3.292@0.343
    # -> scaled 2.76 / 3.88 / 4.10, max
    "kcenter_coreset": 4.10,
    # sessions: 3.306@0.529 / 4.278@0.682 / 3.855@0.343
    # -> scaled 2.67 / 2.68 / 4.80, max
    "rp_tree_filtered_topk": 4.80,
}

BASELINE_S = {
    **_LEGACY_BARS,
    **_R12_CONSOLIDATED_BARS,
    **_R13_FIRST_BARS,
    **_R14_FIRST_BARS,
}


def _reference_timings(path: str) -> tuple[dict[str, float], float | None]:
    """(per-query seconds, that run's calib_sec) from a recorded
    BENCH_r{N}.json. calib_sec is None for pre-calibration rounds."""
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}, None
    # driver wraps the JSON line in 'parsed'; a crashed round records
    # 'parsed': null (or no key at all) — fall back to the outer object,
    # whose missing 'queries' then yields the empty dict
    data = data.get("parsed") or data
    if not isinstance(data, dict):
        return {}, None
    q = data.get("queries", {})
    calib = data.get("calib_sec")
    return (
        {k: float(v) for k, v in q.items() if isinstance(v, (int, float))},
        float(calib) if isinstance(calib, (int, float)) else None,
    )


def _latest_bench_path(here: str) -> str | None:
    benches = sorted(
        f for f in os.listdir(here) if re.fullmatch(r"BENCH_r\d+\.json", f)
    )
    return os.path.join(here, benches[-1]) if benches else None


def _warmup(spark, sf_dir: str) -> None:
    """Untimed warm-up before the timed loop (round-6 verdict item 3,
    widened round 8 per the r7 verdict): a fresh JVM pays 3-8 s once on
    the first Arrow stage (Python worker pool + Arrow codepath init),
    ~1 s on first whole-stage codegen / parquet-reader classloading, and
    a further few hundred ms PER EXECUTION FAMILY the first time its
    operators JIT (window exec, broadcast exchange, shuffle hash join,
    array higher-order functions, explode, object hash aggregate). The
    builder's bars are warm-median by protocol; without this, the
    driver's --repeat 1 run charges those one-time costs to whichever
    query first touches each family (r7: knn_exact 3.38x, bm25_topk
    2.39x, dedup_exact 2.17x on the driver axis while measuring at bar
    warm). Every stage below runs on range() data in milliseconds warm —
    the point is touching the generated-code paths, not the data."""
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    # Arrow / Python-worker path: one tiny pandas-UDF stage
    df = spark.range(0, 1000).select(F.col("id").cast("double").alias("x"))
    _noop(df.mapInPandas(lambda it: it, schema="x double"))
    # codegen + parquet reader + catalog path: one small scan-agg
    try:
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    except Exception:
        pass
    # array HOF kernel + window top-k (the kNN/ANN distance + rank shape):
    # aggregate/zip_with over an array column, then a partitioned
    # row_number — first window execution JITs WindowExec/GroupLimit
    r = spark.range(0, 2000).select(
        (F.col("id") % 7).alias("g"),
        F.array_repeat(F.col("id").cast("float"), 8).alias("v"),
    )
    dist = F.aggregate(
        F.zip_with("v", "v", lambda a, b: a * b),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    ).alias("d")
    ranked = r.select("g", dist).withColumn(
        "rk", F.row_number().over(W.partitionBy("g").orderBy(F.col("d")))
    )
    _noop(ranked.where(F.col("rk") <= 3))
    # join family: one broadcast hash join + one shuffled join
    a = spark.range(0, 5000).select((F.col("id") % 97).alias("k"), "id")
    b = spark.range(0, 97).select(F.col("id").alias("k"))
    _noop(a.join(F.broadcast(b), "k"))
    _noop(
        a.join(b.hint("shuffle_hash"), "k")
        .groupBy("k").agg(F.sum("id").alias("s"))
    )
    # explode + gram-style agg + bit_or word aggregate (Bloom build path)
    g = spark.range(0, 2000).select(
        F.explode(F.array(F.col("id"), F.col("id") + 1)).alias("h")
    )
    _noop(
        g.select((F.col("h") % 64).alias("w"),
                 F.expr("shiftleft(1L, cast(h % 64 AS int))").alias("bit"))
        .groupBy("w").agg(F.expr("bit_or(bit)").alias("word"))
    )
    # sort / TakeOrderedAndProject + distinct (dedup path)
    _noop(a.select("id").distinct().orderBy(F.desc("id")).limit(10))


def _run_suite(
    spark, sf_dir: str, names: list[str]
) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
    """Per-query wall seconds, plus a phase split for lifecycle gates
    (r8 verdict item 7): a gate registered in PHASE_BUILDERS first runs
    its fixture/store BUILD (timed as phase "build"), then the query
    itself (phase "probe") — `timings[name]` records the PROBE, the
    steady-state cost a production deployment pays per query; the
    one-time build is reported separately so a single-shot axis cannot
    misread fixture lifecycles as query regressions.

    Round-10 protocol (r9 verdict item 3): after EVERY query the memo
    caches are invalidated, so each row is SELF-CONTAINED — it pays its
    own fixture builds (attributed to the build phase when the gate is
    phased, to the probe row otherwise) and inherits no warmth and no
    eviction pressure from whatever ran before it. This makes the
    per-query numbers independent of suite order and of how many other
    queries share the JVM — the exact fragility the r9 driver session
    exposed (73.95 s with 7 flags at a HEAD whose close run measured
    52.96 s with zero: ~100 accumulated persisted frames in one JVM).
    Bars are re-measured under this protocol
    (_R12_CONSOLIDATED_BARS — the round-12 consolidated table)."""
    from cargo_chat_spark.queries.registry import PHASE_BUILDERS

    timings: dict[str, float] = {}
    phases: dict[str, dict[str, float]] = {}
    for name in names:
        fn = catalog.SPARK_QUERIES[name]
        build_fn = PHASE_BUILDERS.get(name)
        build_s = None
        if build_fn is not None:
            t0 = time.perf_counter()
            build_fn(spark, sf_dir)
            build_s = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        if build_s is not None:
            phases[name] = {"build": build_s, "probe": timings[name]}
        caching.invalidate_all()
    return timings, phases


def main() -> None:
    # Round-2 verdict: one run cannot adjudicate a regression on a host with
    # ±40% drift — support --repeat N (median per query across repeats, calib
    # re-measured per repeat so drift WITHIN a bench run is visible too).
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeat", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))
    opts = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    all_names = HEADLINE + DETAIL_EXTRA
    spark = get_spark(app_name="cargo_chat_spark_bench")
    _warmup(spark, sf_dir)
    calibs = [_calibrate(spark)]
    first_timings, first_phases = _run_suite(spark, sf_dir, all_names)
    # r13: sample calibration AFTER the suite too. A start-only calib
    # under-corrects when the shared host degrades DURING the run (r13
    # close: back-to-back sessions at calibs 0.548 then 0.686 — the
    # first flagged 3 phantom rows because its queries ran on a host
    # already slower than its start-of-session calib; the second's
    # higher calib absorbed the same raw numbers to ~1.0x adjusted).
    # The median over start+end samples tracks intra-session drift.
    calibs.append(_calibrate(spark))
    runs = [first_timings]
    phase_runs = [first_phases]
    for _ in range(max(0, opts.repeat - 1)):
        # cold repeats: drop memo-persisted subtrees so every repeat pays
        # the same build cost as the driver's single-shot run
        caching.invalidate_all()
        calibs.append(_calibrate(spark))
        t, p = _run_suite(spark, sf_dir, all_names)
        runs.append(t)
        phase_runs.append(p)
        calibs.append(_calibrate(spark))
    calib = round(statistics.median(calibs), 3)
    env_factor = calib / CALIB_REF_S if calib > 0 else 1.0
    timings_all = {
        name: round(statistics.median([r[name] for r in runs]), 3)
        for name in all_names
    }
    # Per-query regression report vs the frozen BASELINE and the previous
    # round's BENCH (VERDICT r1 item 10) — to stderr so stdout stays the
    # single driver-contract JSON line.
    here = os.path.dirname(os.path.abspath(__file__))
    # env anchor per reference: BASELINE numbers are tied to CALIB_REF_S;
    # a previous round's BENCH records its own calib_sec, so the right
    # adjustment there is current_calib / that_run's_calib (dividing by the
    # baseline-anchored env_factor would deflate same-host comparisons)
    refs: dict[str, tuple[dict[str, float], float]] = {
        "baseline": (BASELINE_S, env_factor)
    }
    prev = _latest_bench_path(here)
    if prev:
        prev_timings, prev_calib = _reference_timings(prev)
        prev_factor = calib / prev_calib if prev_calib else 1.0
        refs[os.path.basename(prev)] = (prev_timings, prev_factor)

    # Round-11 suspect retry (r10 verdict item 6; estimator fixed per
    # ADVICE r11): three rounds running, single-shot sessions on this
    # drifting host produced 1-2 ROTATING per-session transients
    # (GC/scheduler excursions at unchanged code) that each cost a
    # 3-session solo-cold adjudication to refute. Before reporting, any
    # row whose single shot lands near a flag on some reference axis
    # (both ratios > 1.1x with a > 0.4 s absolute delta — slightly
    # inside the 1.25x/0.5 s flag line so near-misses re-measure too)
    # is re-run TWICE under the same self-contained protocol and scored
    # at the MEDIAN of the three shots — an unbiased symmetric
    # estimator (the earlier min-of-two could only move the headline
    # down; a fast transient was never re-measured upward). A genuine
    # regression reproduces in the median; a one-shot transient does
    # not. Driver-mode only (--repeat 1); explicit --repeat already
    # medians. All three shots are recorded in BENCH_DETAIL "retried"
    # so the evidence stays auditable.
    retried: dict[str, list[float]] = {}
    if opts.repeat == 1:
        severity: dict[str, float] = {}
        for q, t in timings_all.items():
            for ref, factor in refs.values():
                if q in ref and ref[q] > 0:
                    raw = t / ref[q]
                    adj = raw / factor if factor > 0 else raw
                    if min(raw, adj) > 1.1 and (t - ref[q]) > 0.4:
                        severity[q] = max(severity.get(q, 0.0), raw)
        # budget cap keeps the WORST offenders, not dict-order first-come
        suspects = sorted(severity, key=severity.get, reverse=True)[:15]
        if suspects:
            shots = {q: [timings_all[q]] for q in suspects}
            for _ in range(2):
                caching.invalidate_all()
                retry_t, retry_p = _run_suite(spark, sf_dir, suspects)
                phase_runs.append(retry_p)
                for q in suspects:
                    shots[q].append(retry_t[q])
            for q in suspects:
                retried[q] = shots[q]
                timings_all[q] = round(statistics.median(shots[q]), 3)

    timings = {name: timings_all[name] for name in HEADLINE}

    total = round(sum(timings.values()), 3)

    reports = {}
    for ref_name, (ref, factor) in refs.items():
        if not ref:
            continue
        deltas = {
            q: round(t / ref[q], 2)
            for q, t in timings_all.items()
            if q in ref and ref[q] > 0
        }
        adjusted = {q: round(r / factor, 2) for q, r in deltas.items()}
        # a REAL regression shows on both axes: the raw ratio is immune to
        # calib noise, the adjusted ratio is immune to genuine host drift
        # — either one alone produces phantom flags (r6: a low-noise calib
        # read inflated every adjusted ratio ~1.5x while raw sat at ~1.0).
        # Rows additionally need a >0.5 s absolute delta: ratios on small
        # rows are dominated by fixed scheduler overhead, and under the
        # r10 self-contained protocol single-session GC/scheduler
        # transients of ±0.4 s land on arbitrary sub-second rows (r10
        # session 4: media_frame_sample +0.55 s, phrase probe +0.42 s at
        # unchanged code while 5 clean sessions sat at bar) — a flag
        # should mean sustained per-row cost, which at these magnitudes
        # starts beyond half a second.
        regressions = {
            q: {"raw": deltas[q], "adjusted": adjusted[q]}
            for q in deltas
            if min(deltas[q], adjusted[q]) > 1.25
            and (timings_all[q] - ref[q]) > 0.5
        }
        reports[ref_name] = {
            "env_factor": round(factor, 3),
            "ratios": deltas,
            "ratios_env_adjusted": adjusted,
            "regressions_gt_1.25x_both_axes": regressions,
        }
        print(
            f"[bench] vs {ref_name}: "
            + json.dumps(
                {
                    "env_factor": round(factor, 3),
                    "regressions_gt_1.25x_both_axes": regressions,
                }
            ),
            file=sys.stderr,
        )

    # Full per-query evidence goes to the sidecar, NOT stdout: the r5
    # driver capture truncated a 102-entry stdout line (parsed: null), so
    # the stdout contract line must stay compact.
    detail = {
        "sf": sf,
        "repeats": opts.repeat,
        "calibs": calibs,
        "calib_sec": calib,
        "calib_ref_sec": CALIB_REF_S,
        "per_repeat_runs": runs,
        "medians": timings_all,
        # r8 verdict item 7: per-phase split for lifecycle gates — the
        # query rows above are PROBE-only for these; "build" is the
        # one-time fixture/store lifecycle (median across repeats)
        "phases": {
            name: {
                ph: round(
                    statistics.median(
                        [pr[name][ph] for pr in phase_runs if name in pr]
                    ),
                    3,
                )
                for ph in ("build", "probe")
            }
            for name in sorted(
                {n for pr in phase_runs for n in pr}
            )
        },
        "detail_extra": {n: timings_all[n] for n in DETAIL_EXTRA},
        # r12 (ADVICE r11): suspect rows re-measured twice, scored at
        # the MEDIAN of the three shots (all shots below) — a uniform,
        # symmetric estimator. The phases medians for a retried phased
        # gate include the retry samples — the audit trail for both
        # statistics is this key.
        "retried": retried,
        "headline_total_sec": total,
        "vs_references": reports,
    }
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # THE driver-contract line: final line on stdout, compact (~30 query
    # entries), nothing printed after it.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "calib_sec": calib,
                "calib_ref_sec": CALIB_REF_S,
                "repeats": opts.repeat,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
