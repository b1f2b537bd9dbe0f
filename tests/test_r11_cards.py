"""Cross-consistency pins for the round-11 cards: each new card must
agree with the already-gated machinery it claims to compose — the
evaluation-card analog of the oracle gates' nested-CTE discipline."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cargo_chat_spark.queries import catalog
from tests.conftest import SF_DIR_SMALL

SPARK_QUERIES = catalog.SPARK_QUERIES


def test_band_sweep_production_setting_matches_gated_pairs(spark):
    """The sweep's (4,4) row re-bands with the PRODUCTION setting, so
    its candidate count must equal the gated minhash_lsh_pairs row
    count exactly — the sweep cannot drift from the dedup path."""
    sweep = {
        r["setting"]: r
        for r in SPARK_QUERIES["lsh_band_sweep_report"](
            spark, SF_DIR_SMALL
        ).collect()
    }
    n_pairs = SPARK_QUERIES["minhash_lsh_pairs"](spark, SF_DIR_SMALL).count()
    assert sweep["b4r4"]["n_candidates"] == n_pairs
    # looser banding can only widen the candidate set, stricter only
    # narrow it (same signature, same cap discipline)
    assert sweep["b8r2"]["n_candidates"] >= sweep["b4r4"]["n_candidates"]
    assert sweep["b2r8"]["n_candidates"] <= sweep["b4r4"]["n_candidates"]
    for b, r in [(4, 4), (8, 2), (2, 8)]:
        want = round((1.0 / b) ** (1.0 / r) * 1_000_000)
        assert sweep[f"b{b}r{r}"]["threshold_micro"] == want


def test_containment_dominates_jaccard_and_covers_lsh_near_dups(spark):
    """c(A→B) ≥ J(A,B) by definition (|A∩B|/|A| ≥ |A∩B|/|A∪B|), and
    every candidate pair with Jaccard ≥ 0.8 must appear (J ≥ 0.8
    implies containment ≥ 0.8 both directions)."""
    rows = SPARK_QUERIES["containment_pairs"](spark, SF_DIR_SMALL).collect()
    assert rows, "fixture corpus must contain containment pairs"
    for r in rows:
        assert r["contain_a_micro"] >= r["jaccard_micro"]
        assert r["contain_b_micro"] >= r["jaccard_micro"]
        assert max(r["contain_a_micro"], r["contain_b_micro"]) >= 800_000
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    prec = SPARK_QUERIES["lsh_precision_report"](spark, SF_DIR_SMALL)
    # decile ≥ 8 pairs exist on the fixture (near-identical docs)
    high = sum(
        r["n_pairs"] for r in prec.collect() if r["jaccard_decile"] >= 8
    )
    assert high > 0 and len(got) >= high


def test_datasheet_members_agree_with_gated_sources(spark):
    """Every datasheet number must re-derive from the member semantics
    it composes: the EMPTY-AWARE token spec shared with
    doc_length_percentiles (empty docs count 0 — token_count's raw
    split yields 1 for them, which is why n_empty_docs exists), and
    dedup_exact's canonical dup key."""
    from cargo_chat_spark.sources.testdata import load_table

    ds = SPARK_QUERIES["corpus_datasheet"](spark, SF_DIR_SMALL).collect()[0]
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    ntok = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum(ntok).alias("t")
    ).collect()[0]
    assert ds["n_docs"] == agg["n"]
    assert ds["n_tokens"] == agg["t"]
    # cross-pin vs the percentile card (same empty-aware spec)
    pct = SPARK_QUERIES["doc_length_percentiles"](spark, SF_DIR_SMALL)
    assert ds["n_docs"] == pct.agg(F.sum("n_docs")).collect()[0][0]
    de = SPARK_QUERIES["dedup_exact"](spark, SF_DIR_SMALL)
    dup = de.where(F.col("group_size") > 1).agg(
        F.count(F.lit(1)).alias("g"),
        F.sum(F.col("group_size") - 1).alias("d"),
    ).collect()[0]
    assert ds["n_exact_dup_groups"] == (dup["g"] or 0)
    assert ds["n_exact_dup_docs"] == (dup["d"] or 0)
    assert (
        ds["tokens_per_doc_micro"] == (1_000_000 * ds["n_tokens"]) // ds["n_docs"]
    )


def test_cluster_histogram_sums_to_corpus(spark):
    """Σ n_docs over the histogram = corpus size; Σ (size·clusters)
    consistency; every multi-doc cluster size ≥ 2 except the singleton
    row."""
    rows = SPARK_QUERIES["neardup_cluster_histogram"](
        spark, SF_DIR_SMALL
    ).collect()
    from cargo_chat_spark.sources.testdata import load_table

    n = load_table(spark, SF_DIR_SMALL, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    for r in rows:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
    comp_sizes = [r for r in rows if r["cluster_size"] >= 2]
    assert comp_sizes, "fixture must contain near-dup clusters"


def test_curriculum_phases_partition_and_respect_quality(spark):
    """Phases 0-4 partition the corpus; phase 0 is exactly the
    quality_score < 0.5 set; within kept docs, phase is monotone in
    (n_tokens, doc_id) relative to the broadcast cut points."""
    cur = SPARK_QUERIES["curriculum_phase_assign"](
        spark, SF_DIR_SMALL
    ).toPandas()
    q = (
        SPARK_QUERIES["quality_score"](spark, SF_DIR_SMALL)
        .select("doc_id", "quality_score")
        .toPandas()
    )
    m = cur.merge(q, on="doc_id")
    assert len(m) == len(cur)
    assert set(cur["phase"].unique()) <= {0, 1, 2, 3, 4}
    dropped = set(m[m["quality_score"] < 0.5]["doc_id"])
    assert set(m[m["phase"] == 0]["doc_id"]) == dropped
    kept = m[m["phase"] > 0].sort_values(["n_tokens", "doc_id"])
    # monotone: under the assignment's total order phases never decrease
    assert (kept["phase"].diff().fillna(0) >= 0).all()


def test_kl_drift_bookkeeping_identities(spark):
    """Vocabulary partitions: shared + new = v2 types, shared + dead =
    v0 types; masses bounded by totals."""
    r = SPARK_QUERIES["corpus_kl_drift_report"](
        spark, SF_DIR_SMALL
    ).collect()[0]
    assert r["new_token_mass"] <= r["n_tokens_v2"]
    assert r["dead_token_mass"] <= r["n_tokens_v0"]
    assert r["shared_vocab"] > 0 and r["n_tokens_v2"] > 0
    # the fixture's MERGE adds 'extrawordx' → at least one new type
    assert r["new_vocab"] >= 1


def test_pmi_micro_matches_python_reference(spark):
    """Every reported PMI value recomputes exactly from its own counts
    with Python's floor/log (the shared-literal discipline)."""
    rows = SPARK_QUERIES["pmi_bigrams_top"](spark, SF_DIR_SMALL).collect()
    assert 0 < len(rows) <= 50
    # totals re-derived from the gated token machinery
    from cargo_chat_spark.operators import dedup as D
    from cargo_chat_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents")
    toks = docs.select(D.tokens(F.col("text")).alias("tk"))
    nu = (
        toks.select(F.explode("tk").alias("w"))
        .where(F.col("w") != "")
        .count()
    )
    nb = (
        toks.select(
            F.explode(D.shingles_all_from_tokens(F.col("tk"), 2)).alias("g")
        )
        .where(F.col("g").contains(" "))
        .count()
    )
    for r in rows:
        want = (
            math.floor(math.log(r["c_xy"] / nb) * 1_000_000)
            - math.floor(math.log(r["c_x"] / nu) * 1_000_000)
            - math.floor(math.log(r["c_y"] / nu) * 1_000_000)
        )
        assert r["pmi_micro"] == want, r


@pytest.mark.slow
def test_length_percentiles_match_pandas_reference(spark):
    """p50/p90/p99 equal the rank-based reference computed in pandas on
    the same (length, doc_id) total order."""
    import pandas as pd  # noqa: F401

    got = {
        r["source"]: r
        for r in SPARK_QUERIES["doc_length_percentiles"](
            spark, SF_DIR_SMALL
        ).collect()
    }
    from cargo_chat_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").toPandas()

    def ntok(t):
        t = t.strip()
        return 0 if t == "" else len(t.split())

    docs["n"] = docs["text"].map(ntok)
    for src, grp in docs.groupby("source"):
        grp = grp.sort_values(["n", "doc_id"]).reset_index(drop=True)
        m = len(grp)
        for q, col in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
            want = grp.iloc[math.ceil(q * m) - 1]["n"]
            assert got[src][col] == want, (src, col)
        assert got[src]["max_tokens"] == grp["n"].max()
        assert got[src]["n_docs"] == m
