"""The ``query`` entry point as a Spark pipeline (SURVEY §3.2).

Reference lifecycle (hyde.rs:468-576): classify → HyDE → embed+search(k*2)
→ classification filters → truncate(k) → (rerank | distance sort) →
context assembly → answer stream.

Two modes:
- ``reference`` — post-filter semantics reproduced verbatim (over-fetch 2k,
  filters AFTER retrieval, possibly < k results — hyde.rs:500-519).
- ``improved`` — filters pushed BEFORE the kNN (predicate pushdown to the
  index scan; strictly better recall under filters, flagged as the
  non-reference mode per SURVEY §4).
"""

from __future__ import annotations

from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from cargo_chat_spark.functions.localframe import local_frame
from cargo_chat_spark.models.provider import Classification, ModelProvider
from cargo_chat_spark.operators import filters, ranking
from cargo_chat_spark.operators.context import assemble_prompt
from cargo_chat_spark.operators.knn import knn_join


def _classification_df(
    spark: SparkSession, cls: Classification, query_id: int, k: int
) -> DataFrame:
    # a tuple row: local_frame sends a dict row down the parallelize()
    # path, which plans as Scan ExistingRDD and runs a Python-worker job
    # every time the plan executes
    row = (
        query_id, cls.language, cls.intent, cls.wants_code,
        float(cls.confidence), cls.target_folders, cls.target_extensions,
        cls.exclude_patterns, k,
    )
    schema = (
        "query_id bigint, q_language string, intent string, wants_code boolean, "
        "confidence double, target_folders array<string>, "
        "target_extensions array<string>, exclude_patterns array<string>, k int"
    )
    return local_frame(spark, [row], schema)


def _apply_filters(df: DataFrame) -> DataFrame:
    return df.where(
        filters.folder_match(F.col("file"), F.col("target_folders"))
        & filters.extension_match(
            F.col("extension"), F.col("file"), F.col("target_extensions")
        )
        & filters.exclude_match(F.col("file"), F.col("exclude_patterns"))
    )


def _rerank_order(ranked: DataFrame) -> DataFrame:
    """Re-rank by descending rerank score, chunk_id breaking ties (M5/J2/O4)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rerank_score"), F.asc("chunk_id")
    )
    return ranked.withColumn("rank", F.row_number().over(w))


def _rerank_map_fn(provider_spec, query: str):
    """Arrow-batched kernel adding ``rerank_score`` to each candidate row.
    The provider is instantiated INSIDE the Python worker when a factory is
    passed (the embed_chunks per-executor-singleton pattern — real
    cross-encoder weights load worker-side, never pickle); a stateless
    picklable instance (the mock) ships as-is. Scores are per-document
    (rerank.rs:7-19 scores each pair independently), so Arrow batch
    boundaries cannot change them."""
    from collections.abc import Iterator

    import pandas as pd

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        provider = (
            provider_spec
            if hasattr(provider_spec, "rerank_scores")
            else provider_spec()
        )
        for pdf in batches:
            scores = (
                provider.rerank_scores(query, pdf["code"].tolist())
                if len(pdf)
                else []
            )
            yield pdf.assign(rerank_score=pd.Series(scores, dtype="float64"))

    return fn


def retrieve(
    spark: SparkSession,
    index: DataFrame,
    query: str,
    k: int,
    provider: ModelProvider,
    use_rerank: bool = False,
    mode: str = "reference",
    rerank_distributed: bool | None = None,
) -> dict:
    """Full retrieve() (hyde.rs:468-576) under a pluggable provider.

    The question's ranked plan (k-NN → filters → ``reference_rank``, plus
    the executor rerank stage) runs exactly once: its rows are collected,
    and both the results and the prompt are built from them.

    Returns a dict:

    - ``classification``, ``hypothetical``: the provider's outputs;
    - ``results``: a driver-local DataFrame (an Arrow ``LocalTableScan``)
      over the collected rows, one per result, with a 1-based ``rank``
      (plus ``rerank_score`` under rerank). Collecting or ordering it runs
      no job over the index;
    - ``executed``: the DataFrame whose one execution produced those rows,
      for inspecting its physical plan;
    - ``answer``: the provider's token iterator over the prompt.

    Rerank scores the ranked rows and re-orders them by (score desc,
    chunk_id). ``rerank_distributed`` picks where the provider runs:
    ``True`` in an executor-side ``mapInPandas`` stage inside the single
    execution (SURVEY M5's mapping, hyde.rs:530-542), so scoring scales
    with executors like the embed stage; ``False`` in the driver over the
    collected rows. The default is executors for k > 50 and the driver for
    the small interactive case (at most 2k = 100 candidates, where one
    in-process provider call beats a Python-worker launch).
    """
    cls = provider.classify_query(query)  # M3 (driver-side: one tiny call)
    hypo = provider.hyde_document(query, cls.intent, 1000)  # M4
    # M2 — embeds the HYPOTHETICAL doc only, not the raw query
    # (hyde.rs:500, SURVEY §2.11)
    qvec = provider.embed_batch([hypo])[0]

    queries = local_frame(
        spark, [(0, qvec)], "query_id bigint, query_vec array<double>"
    )
    cls_df = F.broadcast(_classification_df(spark, cls, 0, k))

    corpus = index.withColumnRenamed("chunk_id", "vec_id")
    if mode == "improved":
        # predicate pushdown: filter the corpus BEFORE the distance scan.
        # The 2k over-fetch is kept — the intent doc-caps in reference_rank
        # depend on the retrieved set and still run afterwards, so fetching
        # exactly k could under-fill; the candidate set here is a strict
        # superset of reference mode's (any filtered row in the global
        # top-2k is also in the filtered top-2k).
        corpus = _apply_filters(corpus.crossJoin(cls_df)).select(corpus.columns)
    hits = knn_join(
        queries, corpus, 2 * k,  # O2 over-fetch (hyde.rs:500)
        keep_corpus_cols=["file", "code", "language", "extension"],
    )
    joined = hits.join(cls_df, "query_id")
    if mode != "improved":
        joined = _apply_filters(joined)
    # chunk_index is the reference's HydeResult.index: the 0-based
    # enumerate position over the RAW k*2 similarity output, BEFORE
    # filtering/rerank (hyde.rs:1227-1231), i.e. knn_join's rank - 1. P6
    # prints it as Chunk ID, so when filters drop candidates the printed
    # ids are non-contiguous, like the reference.
    candidates = joined.selectExpr(
        "query_id", "neighbor_id AS chunk_id",
        "file", "code", "language", "extension", "distance",
        "rank - 1 AS chunk_index",
        "q_language", "intent", "wants_code", "confidence", "k",
    )
    ranked = ranking.reference_rank(candidates)

    schema = ranked.schema
    driver_rerank = False
    if use_rerank:
        schema = StructType([*schema.fields, StructField("rerank_score", DoubleType())])
        if rerank_distributed is None:
            rerank_distributed = k > 50
        driver_rerank = not rerank_distributed
        if rerank_distributed:
            ranked = _rerank_order(
                ranked.mapInPandas(_rerank_map_fn(provider, query), schema=schema)
            )
    rows = ranked.collect()  # the one execution of the question's plan
    if driver_rerank:
        scores = provider.rerank_scores(query, [r["code"] for r in rows])
        rows = [(*r, s) for r, s in zip(rows, scores)]
    # at most 2k rows in one partition: the rerank window, the prompt's
    # groupBy and a caller's orderBy then need no shuffle
    results = local_frame(spark, rows, schema).coalesce(1)
    if driver_rerank:
        results = _rerank_order(results)

    # P6 context assembly — reference-exact prompt format (hyde.rs:645-740)
    # over the same rows; no rows leaves the bare question as the prompt
    prompt = (
        assemble_prompt(
            results.withColumn("query_text", F.lit(query)), F.col("query_text")
        ).first()["user_prompt"]
        if rows
        else query
    )
    answer = provider.synthesize_answer(prompt)  # M6

    return {
        "classification": asdict(cls),
        "hypothetical": hypo,
        "results": results,
        "executed": ranked,
        "answer": answer,
    }
