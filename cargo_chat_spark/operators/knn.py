"""Exact k-nearest-neighbor join (SURVEY §2.4 J1 exact mode, §2.5 O1-O3).

Reference semantics (/root/reference/src/ann.rs:252-268): query vector ×
corpus vectors → top-k (id, distance) ascending by Euclidean distance. The
reference uses an approximate RP-tree forest; the checkable contract is the
exact top-k with a total order (distance, corpus_id) — SURVEY §2.11 requires
the explicit tie-break because Spark sorts are not stable across partitions.

Spark-first physical strategy
-----------------------------
``corpus.join(broadcast(queries))`` + distance column expression +
``row_number() <= k`` window:

- The query side is tiny (per-request vectors) → **broadcast**, so the
  distance computation is map-side over corpus partitions, no shuffle of the
  corpus, and scales linearly with corpus size / executor count.
- The rank filter is recognized by Catalyst's **WindowGroupLimit** physical
  optimization (Spark ≥3.5): each task pre-prunes to its local top-k per
  query BEFORE the window shuffle, so shuffle volume is O(|Q| · k ·
  num_partitions), not O(|Q| · |C|). This is the same partial-top-k trick
  the survey's §4 "scale path" calls for, obtained declaratively.
- At 100 TB the corpus stays partitioned on disk; nothing here collects to
  the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cargo_chat_spark.functions import vectors


def _distance(metric: str, query_vec: str, corpus_vec: str, dim) -> Column:
    """The ``metric`` distance between the two vector columns; raises when
    their lengths differ. Unchecked, ``zip_with`` pads the shorter vector
    with NULLs, every distance is NULL, and NULLs sort first, so a provider
    whose embedding dim differs from the index's would silently rank
    arbitrary rows."""
    if isinstance(dim, int):
        # one SQL string, one py4j round trip — the Column-loop form costs
        # hundreds of driver round trips per plan build (see vectors.py)
        sql = vectors.DISTANCES_FIXED_SQL[metric](
            f"`{query_vec}`", f"`{corpus_vec}`", dim
        )
        distance = F.expr(sql)
    else:
        distance = vectors.DISTANCES[metric](F.col(query_vec), F.col(corpus_vec))
    q_dim, c_dim = F.size(query_vec), F.size(corpus_vec)
    mismatch = F.raise_error(F.concat(
        F.lit("query vector has dim "), q_dim.cast("string"),
        F.lit(" but the corpus vectors have dim "), c_dim.cast("string"),
    ))
    return F.when(q_dim != c_dim, mismatch).otherwise(distance)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    metric: str = "euclidean",
    keep_corpus_cols: list[str] | None = None,
    dim: int | str | None = None,
    candidate_filter=None,
) -> DataFrame:
    """Top-k neighbors per query, ascending ``(distance, corpus_id)``.

    ``candidate_filter``: optional Column predicate over the joined
    (corpus x query) row, applied BEFORE ranking — i.e. true filtered
    vector search (top-k among rows satisfying the predicate), not
    post-filtering that can return < k rows. The predicate may reference
    both corpus and query columns (e.g. metadata scoping, or hard-negative
    mining's ``corpus.label != query.label``). It stays a codegen'd
    predicate on the map side, so the broadcast/no-corpus-shuffle plan
    shape is unchanged.

    Returns columns: query_id, neighbor_id, distance, rank (1-based)
    plus any ``keep_corpus_cols`` (J3 metadata resolution folded into the
    same join — no positional parallel arrays, unlike ann.rs:263-268).
    Executing the plan raises if a query vector and a corpus vector differ
    in length; the error names both dims.

    ``dim``: pass the vector dimension (or ``"auto"`` to sniff it from the
    corpus with one scalar job, like the reference's load-time dim sniff,
    ann.rs:140-146) to use the unrolled fixed-dim distance — whole-stage
    codegen'd straight-line Java instead of the interpreted HOF lambda,
    ~25% faster at sf0.1 with bit-identical accumulation order. None keeps
    the dim-agnostic HOF form (works on any frame, incl. streaming).
    """
    if dim == "auto":
        dim = vectors.infer_dim(corpus, corpus_vec)
    distance = _distance(metric, query_vec, corpus_vec, dim)
    keep = keep_corpus_cols or []

    joined = corpus.crossJoin(F.broadcast(queries))  # corpus never shuffles
    if candidate_filter is not None:
        joined = joined.where(candidate_filter)
    scored = (
        joined
        .select(
            F.col(query_id).alias("query_id"),
            F.col(corpus_id).alias("neighbor_id"),
            distance.alias("distance"),
            *[F.col(c) for c in keep],
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("distance"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
