"""The ``query`` entry point: the k-NN in Spark, or over a small cached
index in the driver, and the rest of the lifecycle in the driver (see
``retrieve``).

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
    BooleanType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
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


_SCOPES = ("target_folders", "target_extensions", "exclude_patterns")


def _scopes(cls: Classification) -> tuple:
    """The question's F2-F4 scopes, in ``_SCOPES`` order."""
    return tuple(getattr(cls, name) for name in _SCOPES)


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
                meta=list(pdf[KEEP_COLS].itertuples(index=False, name=None)),
            )
        _resident["index"] = index
    return _resident if "ids" in _resident else None


def _top_hits(spark: SparkSession, index: DataFrame, qvec, cls: Classification,
              k: int, mode: str) -> list[tuple]:
    """The question's top-2k neighbours (O2 over-fetch, hyde.rs:500),
    nearest first, as ``(chunk_id, file, code, language, extension,
    distance)``: from ``topk_block`` over the resident index, else from
    one collect of ``knn_join``. In improved mode the scopes limit the
    corpus BEFORE the k-NN (predicate pushdown)."""
    scopes = _scopes(cls)
    # the 2k over-fetch is kept in improved mode too: the intent doc caps
    # depend on the retrieved set and still run afterwards, so fetching
    # exactly k could under-fill; its candidates are a strict superset of
    # reference mode's (any kept row in the global top-2k is also in the
    # kept top-2k)
    pushdown = mode == "improved" and any(scopes)
    res = _resident_index(spark, index)
    if res is not None:
        meta = res["meta"]
        mask = None
        if pushdown:
            mask = np.fromiter(
                (filters.scope_keep(file, ext, *scopes) for file, _, _, ext in meta),
                bool, len(meta),
            )
        _, ci, dist = topk_block(
            vector_matrix([qvec], [0], "query"), res["matrix"], res["ids"], 2 * k, mask=mask,
        )
        return [(int(res["ids"][i]), *meta[i], float(d)) for i, d in zip(ci, dist)]
    corpus = index
    if pushdown:
        lits = {n: F.lit(v).cast("array<string>") for n, v in zip(_SCOPES, scopes)}
        corpus = index.withColumns(lits).where(filters.scope_match()).select(index.columns)
    queries = local_frame(spark, [(0, qvec)], "query_id bigint, query_vec array<double>")
    hits = knn_join(
        queries, corpus.withColumnRenamed("chunk_id", "vec_id"), 2 * k,
        keep_corpus_cols=KEEP_COLS,
    ).select("rank", "neighbor_id", *KEEP_COLS, "distance").collect()
    return [tuple(r)[1:] for r in sorted(hits, key=lambda r: r["rank"])]


def _candidates(hits: list[tuple], cls: Classification, k: int, mode: str) -> list[dict]:
    """``reference_rank``'s input rows for this question: the scope-kept
    hits (all of them in improved mode, which filtered before the k-NN),
    with the classification on each row."""
    scopes = _scopes(cls)
    cls_vals = {"q_language": cls.language, "intent": cls.intent,
                "wants_code": cls.wants_code, "confidence": float(cls.confidence), "k": k}
    # chunk_index is the reference's HydeResult.index: the 0-based
    # enumerate position over the RAW top-2k, BEFORE filtering/rerank
    # (hyde.rs:1227-1231). P6 prints it as Chunk ID, so when filters drop
    # candidates the printed ids are non-contiguous, like the reference.
    return [
        {"query_id": 0, "chunk_id": cid, **dict(zip(KEEP_COLS, kept)),
         "distance": d, "chunk_index": pos, **cls_vals}
        for pos, (cid, *kept, d) in enumerate(hits)
        if mode == "improved" or filters.scope_keep(kept[0], kept[3], *scopes)
    ]


def _results_schema(index: DataFrame) -> StructType:
    """The schema of ``results`` before rerank: ``rank_rows``' columns,
    typed as ``reference_rank`` types them over the same candidates."""
    return StructType([
        StructField("query_id", LongType()),
        StructField("chunk_id", index.schema["chunk_id"].dataType),
        *[index.schema[c] for c in KEEP_COLS],
        StructField("distance", DoubleType()),
        StructField("chunk_index", IntegerType()),
        StructField("q_language", StringType()),
        StructField("intent", StringType()),
        StructField("wants_code", BooleanType()),
        StructField("confidence", DoubleType()),
        StructField("k", IntegerType()),
        StructField("rank", IntegerType()),
    ])


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

    What runs where: only the k-NN differs by index.

    - ``index`` cached, and its plan's size estimate at most
      ``spark.sql.autoBroadcastJoinThreshold`` (the REPL's loaded index):
      the question runs in the driver and runs no Spark job. The first
      such call keeps one copy of the index's ids, vectors and kept
      columns; each question runs ``knn.topk_block`` over it.
    - Otherwise (an uncached or large index; ``cli query``'s one-shot
      path): one collect of ``knn_join``'s top-2k, which calls the same
      ``knn.topk_block`` in its Spark tasks.

    In improved mode the scopes limit the corpus before the k-NN: the
    ``topk_block`` mask from ``filters.scope_keep`` over the resident
    rows, or ``filters.scope_match`` before ``knn_join``'s scan. Then, in
    the driver on both paths, reference mode drops the out-of-scope hits
    (``filters.scope_keep``), ``ranking.rank_rows`` ranks the rest, and
    the rerank order, the results and the prompt
    (``context.format_prompt``) are built from the ranked rows.
    ``tests/test_driver_ranking.py`` holds the Python scope filter and
    ranking to the Spark forms ``scope_match`` and ``reference_rank``.

    Returns a dict:

    - ``classification``, ``hypothetical``: the provider's outputs;
    - ``results``: a one-partition driver-local DataFrame (an Arrow
      ``LocalTableScan``) over the ranked rows, one per result, with a
      1-based ``rank`` (plus ``rerank_score`` under rerank); the same
      schema and rows on both paths. Collecting or ordering it runs no
      job over the index;
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

    hits = _top_hits(spark, index, qvec, cls, k, mode)
    rows = ranking.rank_rows(_candidates(hits, cls, k, mode))
    schema = _results_schema(index)
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
