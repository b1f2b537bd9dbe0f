"""Distributed BPE (operators/bpe.py): the Spark trainer must reproduce
the textbook in-memory algorithm merge-for-merge (ties included), the
encoder must agree with the trainer's final symbolization, and the
per-iteration pair-count aggregate must stay JVM-side (the Arrow stage
is only the merge application over pre-filtered rows)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cargo_chat_spark.operators.bpe import (
    encode_words,
    initial_pair_counts,
    reference_bpe,
    train_bpe,
    word_freqs,
)
from cargo_chat_spark.sources.testdata import load_table
from tests.conftest import SF_DIR_SMALL, spark  # noqa: F401

# tie-heavy fixture: iteration 0 has three pairs at count 4 ('a a',
# 'e s', 'l o') so the lexicographic tie-break is exercised immediately
_WORDS = {
    "low": 3,
    "lower": 1,
    "newest": 3,
    "widest": 1,
    "aaaa": 1,
    "aa": 1,
    "a": 1,
}


def _wf(spark):
    return spark.createDataFrame(
        list(_WORDS.items()), "word string, freq bigint"
    )


def test_trainer_matches_reference_with_ties(spark):
    want = reference_bpe(_WORDS, 8)
    got, _ = train_bpe(_wf(spark), 8, checkpoint_every=3)
    assert got == want
    # hand-checked head: 'a a' wins the 3-way tie at count 4
    assert got[0] == ("a", "a", 4)
    assert [m[:2] for m in got[:5]] == [
        ("a", "a"), ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")
    ]


@pytest.mark.slow
def test_deferred_checkpoints_value_identical(spark):
    """checkpoint_every > 1 defers plan materialization across merges, so
    earlier iterations' merge UDFs re-execute inside later plans. The pair
    must be bound at UDF definition time (operators/bpe.py::_bind_merge) —
    a late-binding loop closure would re-apply the CURRENT pair in those
    re-executions (round-7 ADVICE). Merges AND the final symbolization
    must match the eager-checkpoint run exactly."""
    m1, s1 = train_bpe(_wf(spark), 8, checkpoint_every=1)
    m4, s4 = train_bpe(_wf(spark), 8, checkpoint_every=4)
    assert m4 == m1
    f1 = {r["word"]: r["syms"] for r in s1.collect()}
    f4 = {r["word"]: r["syms"] for r in s4.collect()}
    assert f4 == f1


def test_trainer_on_corpus_prefix_matches_reference(spark):
    docs = load_table(spark, SF_DIR_SMALL, "documents").limit(40)
    wf = word_freqs(docs)
    freqs = {r["word"]: r["freq"] for r in wf.collect()}
    want = reference_bpe(freqs, 5)
    got, _ = train_bpe(wf, 5)
    assert got == want


def test_encoder_agrees_with_trainer_final_state(spark):
    merges, final = train_bpe(_wf(spark), 8)
    enc = encode_words(_wf(spark), merges)
    final_map = {r["word"]: r["syms"] for r in final.collect()}
    enc_map = {r["word"]: r["tokens"] for r in enc.collect()}
    assert enc_map == final_map
    # tokens reassemble the word exactly
    for w, toks in enc_map.items():
        assert "".join(toks) == w
    # something actually merged
    assert enc_map["aaaa"] == ["aa", "aa"]


def test_encoder_lowest_rank_first_not_training_order(spark):
    # rank 0 merges (s,t); rank 1 (e,st). For 'best' the ONLY valid
    # first step is rank 0 even though (e,s) appears earlier in the
    # word — pins lowest-rank-first over leftmost-first.
    out = encode_words(
        spark.createDataFrame([("best",)], "word string"),
        [("s", "t"), ("e", "st"), ("b", "est")],
    ).collect()
    assert out[0]["tokens"] == ["best"]


def test_pair_count_aggregate_is_jvm_side(spark):
    wf = _wf(spark)
    plan = (
        initial_pair_counts(wf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan, (
        "iteration pair counts must not cross into Python"
    )


def test_merge_stage_prefilters_untouched_rows(spark):
    # words without the merged pair must not enter the Arrow stage: the
    # exists() pre-filter keeps them JVM-side via the CASE WHEN branch
    wf = _wf(spark)
    _, state = train_bpe(wf, 1)
    # after merge ('a','a'): only the a-words change; others identical
    rows = {r["word"]: r["syms"] for r in state.collect()}
    assert rows["aaaa"] == ["aa", "aa"]
    assert rows["low"] == list("low")


# ------------------------------------------- tokenize → pack composition


def _py_encode(word, ranks):
    """Pure-Python lowest-rank-first BPE encode (test ground truth)."""
    syms = list(word)
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (syms[i], syms[i + 1]), r
        if best is None:
            break
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                out.append(best[0] + best[1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_pack_tokens_matches_python_reference(spark):
    """Full independent re-derivation of the trainer ∘ encoder ∘ packer
    composition: python BPE + python first-fit packer over the sf0.001
    corpus must equal the distributed bpe_pack_tokens gate exactly."""
    from cargo_chat_spark.queries.bpe_queries import (
        _BPE_PACK_BUDGET,
        _N_SHARDS,
        N_MERGES,
        bpe_pack_tokens,
    )

    docs = sorted(
        (r["doc_id"], r["text"])
        for r in load_table(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "text")
        .collect()
    )
    freqs: dict[str, int] = {}
    for _, text in docs:
        for w in text.split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    merges = reference_bpe(freqs, N_MERGES)
    ranks = {(l, r): i for i, (l, r, _) in enumerate(merges)}
    wt = {w: len(_py_encode(w, ranks)) for w in freqs}

    packs: dict[int, list[tuple[int, int]]] = {}
    running = [0] * _N_SHARDS
    for doc_id, text in docs:  # id order == the window's sort order
        n = sum(wt[w] for w in text.split(" ") if w)
        shard = doc_id % _N_SHARDS
        bin_idx = running[shard] // _BPE_PACK_BUDGET
        running[shard] += n
        packs.setdefault((shard << 40) + bin_idx, []).append((doc_id, n))

    want = {
        pid: (
            len(members),
            sum(n for _, n in members),
            min(d for d, _ in members),
            max(d for d, _ in members),
        )
        for pid, members in packs.items()
    }
    got = {
        r["pack_id"]: (
            r["n_docs"], r["total_tokens"], r["first_doc"], r["last_doc"]
        )
        for r in bpe_pack_tokens(spark, SF_DIR_SMALL).collect()
    }
    assert got == want


def test_pack_by_budget_bin_boundary(spark):
    """A doc whose PRECEDING total has crossed the budget starts a new
    bin; the doc that crosses it mid-way stays in the bin it started
    (first-fit streaming semantics)."""
    from cargo_chat_spark.queries.bpe_queries import pack_by_budget

    toks = spark.createDataFrame(
        [(1, 0, 1000), (2, 0, 1000), (3, 0, 1000), (4, 1, 5000)],
        "doc_id bigint, shard int, n_tokens bigint",
    )
    got = {
        r["pack_id"]: (r["n_docs"], r["total_tokens"])
        for r in pack_by_budget(toks, 1024).collect()
    }
    # shard 0: doc2 starts at 1000 (<1024, same bin); doc3 starts at
    # 2000 -> floor(2000/1024)=1, new bin. shard 1: one oversized doc
    # still lands alone in bin 0 (never dropped).
    assert got == {0: (2, 2000), 1: (1, 1000), (1 << 40): (1, 5000)}


def test_bpe_pack_tokens_keeps_empty_docs(spark):
    """All-space/empty documents survive as 0-token pack members (the
    left join; losing them would silently shrink n_docs)."""
    from cargo_chat_spark.queries.bpe_queries import bpe_pack_tokens

    out = bpe_pack_tokens(spark, SF_DIR_SMALL)
    n_docs = out.agg(F.sum("n_docs")).collect()[0][0]
    total = load_table(spark, SF_DIR_SMALL, "documents").count()
    assert n_docs == total


def _survivors(spark):
    from cargo_chat_spark.queries.curation import (
        _EVAL_MOD,
        contamination_13gram,
    )
    from cargo_chat_spark.queries.dedup import dedup_exact
    from cargo_chat_spark.queries.textstats import quality_filter

    docs = load_table(spark, SF_DIR_SMALL, "documents")
    s1 = docs.join(
        quality_filter(spark, SF_DIR_SMALL).where("keep").select("doc_id"),
        "doc_id",
    )
    kept = (
        dedup_exact(spark, SF_DIR_SMALL)
        .select(F.col("kept_id").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(kept, "doc_id")
    cont = contamination_13gram(spark, SF_DIR_SMALL).select("doc_id")
    return (
        s2.where(F.col("doc_id") % _EVAL_MOD != 0)
        .join(cont, "doc_id", "left_anti")
        .select("doc_id", "text")
    )


def test_curated_pack_covers_exactly_the_survivors(spark):
    """Every curation survivor lands in exactly one pack and nothing
    else does — the composition must not leak filtered docs back in."""
    from cargo_chat_spark.queries.bpe_queries import curated_pack_tokens

    surv_ids = {r["doc_id"] for r in _survivors(spark).collect()}
    packs = curated_pack_tokens(spark, SF_DIR_SMALL).collect()
    assert sum(r["n_docs"] for r in packs) == len(surv_ids)
    for r in packs:
        assert r["first_doc"] in surv_ids and r["last_doc"] in surv_ids


def test_curated_tokenizer_is_trained_on_survivors(spark):
    """The survivor-trained merge list must be the reference BPE of the
    SURVIVOR word counts — and (on this corpus) its rank order differs
    from the full-corpus tokenizer, proving the composition trains on
    the funnel output rather than reusing the corpus-wide merges."""
    from cargo_chat_spark.queries.bpe_queries import N_MERGES, _trained

    surv = _survivors(spark)
    freqs: dict[str, int] = {}
    for r in surv.collect():
        for w in r["text"].split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    want = [m[:2] for m in reference_bpe(freqs, N_MERGES)]
    got, _ = train_bpe(word_freqs(surv), N_MERGES)
    assert [m[:2] for m in got] == want
    _, full = _trained(spark, SF_DIR_SMALL)
    assert [m[:2] for m in full] != want  # distinct tokenizer at sf0.001


@pytest.mark.slow
def test_cdc_maintained_dict_retrains_identically(spark, tmp_path):
    """The incremental-retrain story end-to-end at fixture scale: the
    CDC-maintained word dict equals the from-scratch dict of the final
    corpus, so the trainer over it learns EXACTLY the same merges — the
    dict is the trainer's only input."""
    from cargo_chat_spark.queries.bpe_queries import wordfreq_cdc_dict
    from tests.conftest import SF_DIR_SMALL

    maintained = wordfreq_cdc_dict(spark, SF_DIR_SMALL)
    got = {(r["word"], r["freq"]) for r in maintained.collect()}

    docs = load_table(spark, SF_DIR_SMALL, "documents")
    upd = docs.where(F.col("doc_id") % 10 == 3).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extrawordx"))
    )
    final = (
        docs.where((F.col("doc_id") % 10 != 3) & (F.col("doc_id") % 10 != 4))
        .unionByName(upd.where(F.col("doc_id") % 20 != 3))
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 7).withColumn(
                "doc_id", F.col("doc_id") + F.lit(100_000_000)
            )
        )
    )
    scratch = word_freqs(final)
    want = {(r["word"], r["freq"]) for r in scratch.collect()}
    assert got == want

    m_inc, _ = train_bpe(maintained, 5)
    m_scr, _ = train_bpe(scratch, 5)
    assert m_inc == m_scr
