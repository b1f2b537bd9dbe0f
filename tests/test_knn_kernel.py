"""The k-NN distance + top-k kernel (``operators.knn.topk_block``) and the
``knn_join`` plan that runs it over Arrow batches.

Distances must be bit-identical to a plain-Python left fold over the dims
(the order of the DuckDB oracles' ``list_sum``), ties at equal distance
must break by id wherever the batch and partition boundaries fall, and bad
vectors must raise instead of ranking.
"""

from __future__ import annotations

import math
import random
from collections import Counter

import numpy as np
import pytest

from cargo_chat_spark.functions.localframe import local_frame
from cargo_chat_spark.operators.knn import knn_join, topk_block, vector_matrix

CORPUS_DDL = "vec_id bigint, label string, embedding array<double>"
QUERY_DDL = "query_id bigint, query_label string, query_vec array<double>"


def _fold(q, e, metric):
    acc = 0.0
    for x, y in zip(q, e):
        acc += (x - y) * (x - y) if metric == "euclidean" else x * y
    return math.sqrt(acc) if metric == "euclidean" else 1.0 - acc


def _brute(qs, corpus, m, keep=lambda qi, ci: True, metric="euclidean"):
    """Per query, the m nearest (distance, id) pairs by the Python fold."""
    out = []
    for qi, q in enumerate(qs):
        scored = sorted(
            (_fold(q, e, metric), cid)
            for ci, (cid, e) in enumerate(corpus) if keep(qi, ci)
        )
        out.append(scored[:m])
    return out


def _vectors(rng, n, dim, normed=False):
    vs = []
    for _ in range(n):
        v = [rng.uniform(-1e3, 1e3) * rng.random() ** 4 for _ in range(dim)]
        if normed:
            norm = math.sqrt(sum(x * x for x in v))
            v = [x / norm for x in v]
        vs.append(v)
    return vs


@pytest.mark.parametrize("metric", ["euclidean", "dot_normed"])
def test_topk_block_is_bit_identical_to_python_left_fold(metric):
    rng = random.Random(7)
    normed = metric == "dot_normed"
    qs, es = _vectors(rng, 9, 37, normed), _vectors(rng, 300, 37, normed)
    ids = np.arange(1000, 1300)
    for m in (1, 10, 300):
        qi, ci, d = topk_block(np.array(qs), np.array(es), ids, m, metric)
        got = [[] for _ in qs]
        for a, b, dist in zip(qi.tolist(), ci.tolist(), d.tolist()):
            got[a].append((dist, int(ids[b])))
        want = _brute(qs, list(zip(ids.tolist(), es)), m, metric=metric)
        assert got == want  # exact float equality: same fold order


def _tied_corpus(n=60, dim=5):
    """Every vector is one of three, so most distances tie exactly and the
    id tie-break decides the order."""
    rng = random.Random(3)
    base = _vectors(rng, 3, dim)
    rows = [(i * 7 % n, ["a", "b", None][i % 3], base[i % 3]) for i in range(n)]
    queries = [(0, "a", base[0]), (1, None, base[2]), (2, "b", _vectors(rng, 1, dim)[0])]
    return rows, queries


def _spark_rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["distance"])
        for r in df.collect()
    )


def _driver_rows(queries, rows, m, mask=None):
    ids = np.array([r[0] for r in rows])
    E = vector_matrix([r[2] for r in rows], ids, "corpus")
    Q = vector_matrix([q[2] for q in queries], [q[0] for q in queries], "query")
    qi, ci, d = topk_block(Q, E, ids, m, mask=mask)
    out, rank = [], {}
    for a, b, dist in zip(qi.tolist(), ci.tolist(), d.tolist()):
        rank[a] = rank.get(a, 0) + 1
        out.append((queries[a][0], rank[a], int(ids[b]), dist))
    return sorted(out)


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    yield
    spark.conf.set(key, prev)


@pytest.mark.parametrize("k", [1, 5, 21, 200])
def test_ties_split_across_batches_and_partitions(spark, small_batches, k):
    rows, queries = _tied_corpus()
    corpus = local_frame(spark, rows, CORPUS_DDL).repartition(3)
    q = local_frame(spark, queries, QUERY_DDL)
    got = _spark_rows(knn_join(q, corpus, k))
    assert got == _driver_rows(queries, rows, k)
    want = _brute([x[2] for x in queries], [(r[0], r[2]) for r in rows], k)
    assert got == sorted(
        (queries[qi][0], rank, cid, dist)
        for qi, top in enumerate(want) for rank, (dist, cid) in enumerate(top, 1)
    )


def test_exclude_drops_equal_and_null_labels(spark, small_batches):
    rows, queries = _tied_corpus()
    corpus = local_frame(spark, rows, CORPUS_DDL).repartition(3)
    q = local_frame(spark, queries, QUERY_DDL)
    got = knn_join(q, corpus, 8, keep_corpus_cols=["label"],
                   exclude=("label", "query_label"))
    assert None not in {r["label"] for r in got.collect()}

    def differs(qi, ci):
        a, b = rows[ci][1], queries[qi][1]
        return a is not None and b is not None and a != b

    mask = np.array([[differs(qi, ci) for ci in range(len(rows))]
                     for qi in range(len(queries))])
    spark_rows = _spark_rows(got)
    assert spark_rows == _driver_rows(queries, rows, 8, mask)
    # the NULL-label query keeps nothing; the others keep k survivors
    assert Counter(r[0] for r in spark_rows) == {0: 8, 2: 8}
    want = _brute([x[2] for x in queries], [(r[0], r[2]) for r in rows], 8, differs)
    assert [(rank, cid, dist) for qid, rank, cid, dist in spark_rows if qid == 0] == [
        (rank, cid, dist) for rank, (dist, cid) in enumerate(want[0], 1)]


def test_m_larger_than_corpus_and_empty_inputs(spark):
    E = np.array([[0.0, 1.0], [1.0, 0.0], [0.0, 0.0]])
    qi, ci, d = topk_block(np.array([[0.0, 0.0]]), E, np.array([5, 4, 6]), 10)
    assert ci.tolist() == [2, 1, 0] and d.tolist() == [0.0, 1.0, 1.0]
    empty = topk_block(np.array([[0.0, 0.0]]), np.empty((0, 0)), np.array([]), 3)
    assert [len(a) for a in empty] == [0, 0, 0]

    rows = [(i, "a", [float(i), 0.0]) for i in range(3)]
    # eight partitions over three rows: most partitions are empty
    corpus = local_frame(spark, rows, CORPUS_DDL).repartition(8)
    q = local_frame(spark, [(9, "a", [0.0, 0.0])], QUERY_DDL)
    assert _spark_rows(knn_join(q, corpus, 10)) == [
        (9, 1, 0, 0.0), (9, 2, 1, 1.0), (9, 3, 2, 2.0)]
    empty_corpus = local_frame(spark, [], CORPUS_DDL)
    assert knn_join(q, empty_corpus, 10).collect() == []
    no_queries = local_frame(spark, [], QUERY_DDL)
    assert knn_join(no_queries, corpus, 10).collect() == []


def test_nan_distance_ranks_last(spark):
    """A NaN vector component makes that row's distance NaN; the Spark
    plan keeps it NaN (not the NULL Arrow reads it as) and ranks it last,
    as the driver kernel does."""
    rows = [(i, "a", [float(i), math.nan if i == 1 else 0.0]) for i in range(4)]
    corpus = spark.createDataFrame(rows, CORPUS_DDL).repartition(2)
    queries = [(0, "a", [0.0, 0.0])]
    q = local_frame(spark, queries, QUERY_DDL)
    got = _spark_rows(knn_join(q, corpus, 4))
    assert [r[2] for r in got] == [0, 2, 3, 1] and math.isnan(got[-1][3])
    assert repr(got) == repr(_driver_rows(queries, rows, 4))


@pytest.mark.parametrize("bad, message", [
    (None, "corpus vector 2 is NULL"),
    ([1.0], "corpus vector 2 has dim 1 but corpus vector 0 has dim 2"),
])
def test_null_or_ragged_corpus_vector_raises(spark, bad, message):
    rows = [(0, "a", [5.0, 5.0]), (1, "a", [6.0, 6.0]), (2, "a", bad)]
    with pytest.raises(ValueError, match=message):
        vector_matrix([r[2] for r in rows], [r[0] for r in rows], "corpus")
    corpus = local_frame(spark, rows, CORPUS_DDL).coalesce(1)
    q = local_frame(spark, [(0, "a", [0.0, 0.0])], QUERY_DDL)
    with pytest.raises(Exception, match=message):
        knn_join(q, corpus, 1).collect()


def test_spark_path_dim_mismatch_raises(spark):
    rng = random.Random(1)
    corpus = local_frame(
        spark, [(i, "a", v) for i, v in enumerate(_vectors(rng, 40, 64))], CORPUS_DDL
    ).repartition(2)
    assert not corpus.is_cached
    q = local_frame(
        spark, [(i, "a", v) for i, v in enumerate(_vectors(rng, 3, 65))], QUERY_DDL
    )
    with pytest.raises(
        Exception, match="query vector has dim 65 but the corpus vectors have dim 64"
    ):
        knn_join(q, corpus, 5).collect()
