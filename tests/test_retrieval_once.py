"""retrieve() executes the question's ranked plan once and builds both its
results and its prompt from those rows.

The prompt must stay byte-identical to ``assemble_prompt`` over the lazy
``knn_join -> filters -> reference_rank`` plan, restated here from the
public operators, for every result shape: both modes, rerank at a small
and a large k, an under-filled result whose Chunk IDs have holes, and the
empty result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.functions.localframe import local_frame
from cargo_chat_spark.models.mock import MockProvider
from cargo_chat_spark.operators import filters
from cargo_chat_spark.operators.context import assemble_prompt
from cargo_chat_spark.operators.knn import knn_join
from cargo_chat_spark.operators.ranking import reference_rank
from cargo_chat_spark.plans.retrieval import retrieve

DIM = 64
KEEP = ["file", "code", "language", "extension"]
CLS_DDL = (
    "query_id bigint, q_language string, intent string, wants_code boolean, "
    "confidence double, target_folders array<string>, "
    "target_extensions array<string>, exclude_patterns array<string>, k int"
)
_LAYOUT = [  # (folder, extension, language)
    ("src", "rs", "Rust"), ("src", "py", "Python"), ("docs", "md", "Markdown"),
    ("tests", "rs", "Rust"), ("notes", "txt", None),
]


class RecordingProvider(MockProvider):
    """The mock, with optional classification scopes, recording every
    prompt ``synthesize_answer`` receives."""

    def __init__(self, dim: int = DIM, **scopes):
        super().__init__(dim)
        self.scopes = scopes
        self.prompts: list[str] = []

    def classify_query(self, query):
        cls = super().classify_query(query)
        for name, value in self.scopes.items():
            setattr(cls, name, value)
        return cls

    def synthesize_answer(self, prompt):
        self.prompts.append(prompt)
        return super().synthesize_answer(prompt)


@pytest.fixture(scope="module")
def index(spark):
    mock = MockProvider(DIM)
    rows = []
    for i in range(150):
        folder, ext, lang = _LAYOUT[i % len(_LAYOUT)]
        code = f"fn item_{i}() {{ parse(token_{i % 11}); }} // how does the parser work {i % 7}"
        rows.append((i, f"{folder}/mod_{i}.{ext}", code, lang, ext, mock.embed_one(code)))
    df = local_frame(
        spark, rows,
        "chunk_id bigint, file string, code string, language string, "
        "extension string, embedding array<double>",
    ).persist()
    df.count()
    yield df
    df.unpersist()


def _lazy_prompt(spark, index, provider, query, k, mode, rerank):
    """The question's prompt from the lazy plan, without retrieve()."""
    cls = provider.classify_query(query)
    qvec = provider.embed_batch([provider.hyde_document(query, cls.intent, 1000)])[0]
    queries = local_frame(spark, [(0, qvec)], "query_id bigint, query_vec array<double>")
    cls_df = F.broadcast(local_frame(spark, [(
        0, cls.language, cls.intent, cls.wants_code, float(cls.confidence),
        cls.target_folders, cls.target_extensions, cls.exclude_patterns, k,
    )], CLS_DDL))
    in_scope = filters.scope_match()
    corpus = index.withColumnRenamed("chunk_id", "vec_id")
    if mode == "improved":
        corpus = corpus.crossJoin(cls_df).where(in_scope).select(corpus.columns)
    hits = knn_join(queries, corpus, 2 * k, keep_corpus_cols=KEEP)
    # the pre-filter enumerate position over the raw top-2k
    order = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    hits = hits.withColumn("chunk_index", F.row_number().over(order) - 1)
    joined = hits.join(cls_df, "query_id")
    if mode == "reference":
        joined = joined.where(in_scope)
    ranked = reference_rank(joined.select(
        "query_id", F.col("neighbor_id").alias("chunk_id"), *KEEP, "distance",
        "chunk_index", "q_language", "intent", "wants_code", "confidence", "k",
    ))
    if rerank:
        rows = ranked.select("chunk_id", "code").collect()
        scores = provider.rerank_scores(query, [r["code"] for r in rows])
        score_df = local_frame(
            spark, [(r["chunk_id"], s) for r, s in zip(rows, scores)],
            "chunk_id bigint, rerank_score double",
        )
        by_score = Window.partitionBy("query_id").orderBy(
            F.desc("rerank_score"), F.asc("chunk_id"))
        ranked = ranked.join(F.broadcast(score_df), "chunk_id").withColumn(
            "rank", F.row_number().over(by_score))
    out = assemble_prompt(
        ranked.withColumn("query_text", F.lit(query)), F.col("query_text")
    ).collect()
    return out[0]["user_prompt"] if out else query


@pytest.mark.parametrize("mode, rerank, k", [
    ("reference", False, 5),
    ("improved", False, 5),
    ("reference", True, 5),
    ("reference", True, 60),
])
def test_prompt_matches_lazy_plan(spark, index, mode, rerank, k):
    query = "how does the rust parser work"
    provider = RecordingProvider()
    out = retrieve(spark, index, query, k, provider, use_rerank=rerank, mode=mode)
    list(out["answer"])
    assert out["results"].count() > 1
    assert provider.prompts == [
        _lazy_prompt(spark, index, provider, query, k, mode, rerank)
    ]


def test_prompt_of_underfilled_result_keeps_chunk_id_holes(spark, index):
    query = "how does the parser work"
    provider = RecordingProvider(target_folders=["src"])
    out = retrieve(spark, index, query, 5, provider)
    list(out["answer"])
    rows = out["results"].orderBy("rank").collect()
    assert 0 < len(rows) < 5
    ids = [r["chunk_index"] for r in rows]
    assert sorted(ids) != list(range(len(ids))), "Chunk IDs should have holes"
    assert provider.prompts == [
        _lazy_prompt(spark, index, provider, query, 5, "reference", False)
    ]


def test_empty_result_prompt_is_the_question(spark, index):
    query = "how does the parser work"
    provider = RecordingProvider(target_folders=["no_such_folder"])
    out = retrieve(spark, index, query, 5, provider)
    list(out["answer"])
    assert out["results"].collect() == []
    assert provider.prompts == [query]
    assert _lazy_prompt(spark, index, provider, query, 5, "reference", False) == query
    plan = out["results"]._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


@pytest.mark.parametrize("mode, rerank", [
    ("reference", False), ("improved", False), ("reference", True),
])
def test_results_do_not_rescan_the_index(spark, index, mode, rerank):
    """The caller's collect of ``results`` reads the rows retrieve()
    already collected: no cached-index scan, file scan or k-NN join."""
    out = retrieve(spark, index, "implement a rust parser", 5, RecordingProvider(),
                   use_rerank=rerank, mode=mode)
    assert out["results"].orderBy("rank").collect()
    plan = out["results"]._jdf.queryExecution().executedPlan().toString()
    for node in ("InMemoryTableScan", "FileScan", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"results re-executes the index plan ({node})"
    assert "ExistingRDD" not in plan


def test_query_dim_mismatch_raises(spark, index):
    """A provider whose embedding dim differs from the index's must fail
    loudly, not rank rows by NULL distances."""
    with pytest.raises(Exception, match=r"dim 65 but the corpus vectors have dim 64"):
        retrieve(spark, index, "how does the parser work", 5, RecordingProvider(DIM + 1))
