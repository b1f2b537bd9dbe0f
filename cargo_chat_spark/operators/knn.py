"""Exact k-nearest-neighbor join (SURVEY §2.4 J1 exact mode, §2.5 O1-O3).

Reference semantics (/root/reference/src/ann.rs:252-268): query vector ×
corpus vectors → top-k (id, distance) ascending by Euclidean distance. The
reference uses an approximate RP-tree forest; the checkable contract is the
exact top-k with a total order (distance, corpus_id) — SURVEY §2.11 requires
the explicit tie-break because Spark sorts are not stable across partitions.

One distance + top-k function, :func:`topk_block`, serves every caller:

- :func:`knn_join` runs it as a ``mapInPandas`` block kernel over the
  corpus. The query side is collected once, when the plan is built, and
  ships with the task. Each Arrow batch of the corpus yields only its own
  top-k rows per query, with only those rows' kept columns, so the
  corpus never shuffles. A ``row_number() <= k`` window merges the
  per-batch lists; Catalyst plans it with a partial WindowGroupLimit
  below the window's shuffle, so that shuffle carries
  O(|Q| · k · batches) rows, not O(|Q| · |C|).
- ``plans.retrieval.retrieve`` calls it in the driver over a cached index
  small enough to hold there.

Distances are a float64 left fold over the dims starting at 0.0, the order
of the ``zip_with``/``aggregate`` column form in ``functions/vectors.py``
and of the DuckDB oracles' ``list_sum``, so all three agree bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# queries per distance matrix: a kernel task holds at most
# QUERY_BLOCK × (Arrow batch rows) distances at a time
QUERY_BLOCK = 256


def _fold(Q: np.ndarray, E: np.ndarray, term) -> np.ndarray:
    """``0.0 + term(q_1, e_1) + term(q_2, e_2) + ...`` for every (query,
    corpus) pair, accumulated left to right over the dims."""
    acc = np.zeros((len(Q), len(E)))
    tmp = np.empty_like(acc)
    for q, e in zip(Q.T, np.ascontiguousarray(E.T)):
        term(q[:, None], e[None, :], tmp)
        acc += tmp
    return acc


def _sq_diff(q, e, out):
    np.subtract(q, e, out=out)
    np.multiply(out, out, out=out)


METRICS = {
    "euclidean": lambda Q, E: np.sqrt(_fold(Q, E, _sq_diff)),
    # over pre-normalized vectors (``vectors.with_l2_normalized``)
    "dot_normed": lambda Q, E: 1.0 - _fold(Q, E, np.multiply),
}


def vector_matrix(vectors, ids, side: str) -> np.ndarray:
    """The (n, dim) float64 matrix of a sequence of vectors. Raises on a
    NULL vector or one whose length differs from the first's, naming its
    id: ranked as a NULL distance, such a row would sort first."""
    lens = np.fromiter((-1 if v is None else len(v) for v in vectors),
                       np.int64, len(vectors))
    if not len(lens):
        return np.empty((0, 0))
    bad = np.flatnonzero((lens != lens[0]) | (lens < 0))
    if len(bad):
        i = bad[0]
        if lens[i] < 0:
            raise ValueError(f"{side} vector {ids[i]} is NULL")
        raise ValueError(f"{side} vector {ids[i]} has dim {lens[i]} "
                         f"but {side} vector {ids[0]} has dim {lens[0]}")
    return np.array(list(vectors), dtype=np.float64).reshape(len(lens), lens[0])


def topk_block(Q, E, ids, m: int, metric: str = "euclidean", mask=None):
    """The ``m`` nearest corpus rows of each query, by (distance, id).

    ``Q`` is a (queries, dim) and ``E`` a (corpus, dim) float64 matrix,
    ``ids`` the corpus ids. ``mask``, a boolean array broadcastable to
    (queries, corpus), drops the pairs where it is False before ranking.
    Returns ``(query_row, corpus_row, distance)`` arrays sorted by query
    row, then distance, then id; each query keeps min(m, its candidates)
    rows. NaN distances rank last, as in Spark.
    """
    if len(Q) == 0 or len(E) == 0 or m <= 0:
        return np.empty(0, np.intp), np.empty(0, np.intp), np.empty(0)
    if Q.shape[1] != E.shape[1]:
        raise ValueError(f"query vector has dim {Q.shape[1]} but the corpus "
                         f"vectors have dim {E.shape[1]}")
    D = METRICS[metric](Q, E)
    cand = np.ones(D.shape, bool) if mask is None else np.broadcast_to(mask, D.shape)
    if m < D.shape[1]:
        # each query's m-th smallest distance: everything not above it
        # stays a candidate, so ties at the cut reach the id tie-break
        ranked = D if mask is None else np.where(cand, D, np.inf)
        kth = np.partition(ranked, m - 1, axis=1)[:, m - 1]
        cand = cand & ~(D > kth[:, None])
    qi, ci = np.nonzero(cand)
    d = D[qi, ci]
    order = np.lexsort((ids[ci], d, qi))
    qi, ci, d = qi[order], ci[order], d[order]
    keep = np.arange(len(qi)) - np.searchsorted(qi, qi) < m
    return qi[keep], ci[keep], d[keep]


def _unequal(corpus_vals, query_vals) -> np.ndarray:
    """(queries, corpus) mask of ``corpus <> query`` under SQL semantics:
    a NULL on either side drops the pair."""
    c_ok, q_ok = ~pd.isna(corpus_vals), ~pd.isna(query_vals)
    return ((corpus_vals[None, :] != query_vals[:, None])
            & c_ok[None, :] & q_ok[:, None])


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
    exclude: tuple[str, str] | None = None,
) -> DataFrame:
    """Top-k neighbors per query, ascending ``(distance, corpus_id)``.

    Returns columns: query_id, neighbor_id, distance, plus any
    ``keep_corpus_cols`` (J3 metadata resolution folded into the same
    pass — no positional parallel arrays, unlike ann.rs:263-268), and a
    1-based rank. ``metric`` is a key of :data:`METRICS`.

    Building the plan collects the query side (one job): it is the
    per-request side, and it ships with every kernel task. Executing the
    plan raises if a query vector and the corpus vectors differ in length
    (the error names both dims), or on a NULL or ragged corpus vector.

    ``exclude=(corpus_col, query_col)`` ranks only the corpus rows whose
    ``corpus_col`` differs from the query's ``query_col``, before the
    top-k (filtered search: k survivors whenever k exist). A NULL on
    either side drops the row, as ``corpus_col <> query_col`` does in SQL.
    """
    keep = list(keep_corpus_cols or [])
    rows = queries.select(
        query_id, query_vec, *([exclude[1]] if exclude else [])
    ).collect()
    qids = np.array([r[0] for r in rows])
    Q = vector_matrix([r[1] for r in rows], qids, "query")
    q_vals = np.array([r[2] for r in rows], dtype=object) if exclude else None

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(Q) == 0:
                continue
            ids = pdf[corpus_id].to_numpy()
            E = vector_matrix(pdf[corpus_vec].to_numpy(), ids, "corpus")
            c_vals = pdf[exclude[0]].to_numpy(dtype=object) if exclude else None
            for lo in range(0, len(Q), QUERY_BLOCK):
                hi = lo + QUERY_BLOCK
                mask = None if exclude is None else _unequal(c_vals, q_vals[lo:hi])
                qi, ci, d = topk_block(Q[lo:hi], E, ids, k, metric, mask)
                yield pd.DataFrame({
                    "query_id": qids[lo:hi][qi], "neighbor_id": ids[ci],
                    "distance": d,
                    **{c: pdf[c].to_numpy()[ci] for c in keep},
                })

    schema = StructType([
        StructField("query_id", queries.schema[query_id].dataType),
        StructField("neighbor_id", corpus.schema[corpus_id].dataType),
        StructField("distance", DoubleType()),
        *[corpus.schema[c] for c in keep],
    ])
    w = Window.partitionBy("query_id").orderBy(
        F.asc("distance"), F.asc("neighbor_id")
    )
    scanned = corpus.select(*dict.fromkeys(
        [corpus_id, corpus_vec, *keep, *([exclude[0]] if exclude else [])]
    ))
    return (
        scanned.mapInPandas(kernel, schema)
        # Arrow reads a pandas NaN as NULL, which would rank first; a
        # NULL distance here can only be a NaN one
        .withColumn("distance", F.coalesce("distance", F.lit(float("nan"))))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
