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

import math
from dataclasses import asdict

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from cargo_chat_spark.functions.localframe import local_frame
from cargo_chat_spark.models.provider import Classification, ModelProvider
from cargo_chat_spark.operators import filters, ranking
from cargo_chat_spark.operators.context import format_prompt
from cargo_chat_spark.operators.knn import knn_join, topk_block, vector_matrix

KEEP_COLS = ["file", "code", "language", "extension"]

# The driver-resident copy of one cached index: the DataFrame it was
# filled from, and its ids, vector matrix and kept columns (only the
# DataFrame when that index is too large to hold).
_resident: dict = {}


def _classification_cols(cls: Classification, k: int) -> dict:
    """The question's classification as typed literal columns. A None
    scope stays a NULL array, so the filters treat it, like an empty one,
    as "no filter"."""
    typed = {
        "q_language": (cls.language, "string"),
        "intent": (cls.intent, "string"),
        "wants_code": (cls.wants_code, "boolean"),
        "confidence": (float(cls.confidence), "double"),
        "target_folders": (cls.target_folders, "array<string>"),
        "target_extensions": (cls.target_extensions, "array<string>"),
        "exclude_patterns": (cls.exclude_patterns, "array<string>"),
        "k": (k, "int"),
    }
    return {name: F.lit(value).cast(dtype) for name, (value, dtype) in typed.items()}


def release_resident(index: DataFrame) -> None:
    """Drop the driver-resident copy of ``index``, if the slot holds it."""
    if _resident.get("index") is index:
        _resident.clear()


def _resident_index(spark: SparkSession, index: DataFrame) -> dict | None:
    """The driver copy of ``index`` if retrieve() serves it from the
    driver: the index is cached and its plan's size estimate is within
    ``spark.sql.autoBroadcastJoinThreshold``. The first call for an index
    fills the single slot with one Arrow collect."""
    if not index.is_cached:
        return None
    if _resident.get("index") is not index:
        _resident.clear()
        size = index._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        if 0 <= int(size) <= limit:
            pdf = index.select("chunk_id", "embedding", *KEEP_COLS).toPandas()
            ids = pdf["chunk_id"].to_numpy()
            _resident.update(
                ids=ids,
                matrix=vector_matrix(pdf["embedding"].to_numpy(), ids, "corpus"),
                meta=pdf[KEEP_COLS],
                schema=StructType([
                    StructField("query_id", LongType()),
                    StructField("neighbor_id", index.schema["chunk_id"].dataType),
                    StructField("distance", DoubleType()),
                    *[index.schema[c] for c in KEEP_COLS],
                    StructField("rank", IntegerType()),
                ]),
            )
        _resident["index"] = index
    return _resident if "ids" in _resident else None


def _resident_hits(
    spark: SparkSession, res: dict, qvec, m: int, in_scope: DataFrame | None
) -> DataFrame:
    """knn_join's output for one question, computed in the driver over
    the resident index, as one partition so the ranking windows need no
    exchange; ``in_scope`` limits the candidates to its ``chunk_id``s
    (one job)."""
    mask = None
    if in_scope is not None:
        in_ids = [r[0] for r in in_scope.select("chunk_id").collect()]
        mask = np.isin(res["ids"], in_ids)
    _, ci, dist = topk_block(
        vector_matrix([qvec], [0], "query"), res["matrix"], res["ids"], m,
        mask=mask,
    )
    meta = res["meta"].iloc[ci]
    rows = [
        (0, int(i), float(d), *kept, rank)
        for rank, (i, d, kept) in enumerate(
            zip(res["ids"][ci], dist, meta.itertuples(index=False)), 1
        )
    ]
    return local_frame(spark, rows, res["schema"]).coalesce(1)


def retrieve(
    spark: SparkSession,
    index: DataFrame,
    query: str,
    k: int,
    provider: ModelProvider,
    use_rerank: bool = False,
    mode: str = "reference",
) -> dict:
    """Full retrieve() (hyde.rs:468-576) under a pluggable provider.

    The question's ranked plan (k-NN → filters → ``reference_rank``) runs
    exactly once: its rows are collected, and the rerank order, the
    results and the prompt (``context.format_prompt``) are built from them
    in the driver, with no further Spark job.

    The k-NN runs in the driver when ``index`` is cached and its plan's
    size estimate is at most ``spark.sql.autoBroadcastJoinThreshold``
    (the REPL's loaded index): the first such call keeps one copy of the
    index's vectors and kept columns in the driver, and each question's
    top-2k rows enter the rest of the plan as a local frame. Otherwise
    ``knn_join`` scans the index. Both call ``knn.topk_block``, so they
    rank identically.

    Returns a dict:

    - ``classification``, ``hypothetical``: the provider's outputs;
    - ``results``: a driver-local DataFrame (an Arrow ``LocalTableScan``)
      over the collected rows, one per result, with a 1-based ``rank``
      (plus ``rerank_score`` under rerank). Collecting or ordering it runs
      no job over the index;
    - ``answer``: the provider's token iterator over the prompt.

    Rerank (SURVEY M5, hyde.rs:530-542) scores the collected rows with one
    in-process provider call and sorts them by (score desc, chunk_id),
    renumbering ``rank`` from 1. There are at most 2k of them, and the
    reference scores each pair on its own (rerank.rs:7-19), so where the
    scoring runs cannot change it. A provider that returns a score count
    other than the row count, or a NaN score, raises ``ValueError``.
    """
    cls = provider.classify_query(query)  # M3 (driver-side: one tiny call)
    hypo = provider.hyde_document(query, cls.intent, 1000)  # M4
    # M2 — embeds the HYPOTHETICAL doc only, not the raw query
    # (hyde.rs:500, SURVEY §2.11)
    qvec = provider.embed_batch([hypo])[0]

    cls_cols = _classification_cols(cls, k)

    # improved mode: predicate pushdown, the scope filters run BEFORE the
    # distance scan. The 2k over-fetch is kept — the intent doc-caps in
    # reference_rank depend on the retrieved set and still run afterwards,
    # so fetching exactly k could under-fill; the candidate set here is a
    # strict superset of reference mode's (any filtered row in the global
    # top-2k is also in the filtered top-2k).
    in_scope = None
    if mode == "improved":
        in_scope = index.withColumns(cls_cols).where(filters.scope_match())
    res = _resident_index(spark, index)
    if res is not None:
        hits = _resident_hits(spark, res, qvec, 2 * k, in_scope)
    else:
        queries = local_frame(
            spark, [(0, qvec)], "query_id bigint, query_vec array<double>"
        )
        corpus = index if in_scope is None else in_scope.select(index.columns)
        hits = knn_join(
            queries, corpus.withColumnRenamed("chunk_id", "vec_id"),
            2 * k,  # O2 over-fetch (hyde.rs:500)
            keep_corpus_cols=KEEP_COLS,
        )
    joined = hits.withColumns(cls_cols)
    if mode != "improved":
        joined = joined.where(filters.scope_match())
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
    # the one execution of the question's plan, in rank order
    rows = sorted((r.asDict() for r in ranked.collect()), key=lambda r: r["rank"])
    if use_rerank:
        schema = StructType([*schema.fields, StructField("rerank_score", DoubleType())])
        scores = provider.rerank_scores(query, [r["code"] for r in rows])
        # a short list would drop rows; a NaN has no place in the order
        name = f"{type(provider).__name__}.rerank_scores"
        if len(scores) != len(rows):
            raise ValueError(f"{name} returned {len(scores)} scores for {len(rows)} rows")
        if any(map(math.isnan, scores)):
            raise ValueError(f"{name} returned a NaN score")
        for r, s in zip(rows, scores):
            r["rerank_score"] = float(s)
        rows.sort(key=lambda r: (-r["rerank_score"], r["chunk_id"]))
        for rank, r in enumerate(rows, 1):
            r["rank"] = rank
    # at most 2k rows in one partition: a caller's orderBy needs no shuffle
    results = local_frame(spark, [tuple(r.values()) for r in rows], schema).coalesce(1)

    # P6 context assembly — reference-exact prompt format (hyde.rs:645-740)
    # over the same rows; no rows leaves the bare question as the prompt
    prompt = format_prompt(query, cls.intent, rows) if rows else query
    answer = provider.synthesize_answer(prompt)  # M6

    return {
        "classification": asdict(cls),
        "hypothetical": hypo,
        "results": results,
        "answer": answer,
    }
