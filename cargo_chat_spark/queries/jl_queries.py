"""JL-projected vector search gates + the distortion evidence card.

Two value-hash gates over operators/jl_projection.py:

- ``jl_project_topk``: exact top-10 kNN in the 16-dim projected space —
  the reduced-bandwidth scan an ANN ladder runs when 64-dim exact is
  too expensive but hashing recall is too low. The projection is
  re-derived from the md5 seed in both engines, so the gate pins the
  ENTIRE path (matrix derivation → fold order → ranking tie-break).
- ``jl_distortion_report``: the JL lemma as data — the histogram of
  ‖Px−Py‖²/(K·‖x−y‖²) over every (query, corpus) pair, bucketed at 0.1
  width by floor (bit-identical doubles in both engines, the kNN
  accumulation-order contract). A pipeline alerts when mass leaves the
  ~1.0 buckets (projection bug, dimension drift) exactly as it alerts
  on ann_recall_report.

Scale shape: projection is a map-side expression (no shuffle, no
stored matrix, no broadcast); top-k is the knn_join plan (corpus never
shuffles, WindowGroupLimit partial top-k); the distortion report is
|Q|×|C| only because the evaluation gate grades every pair — a
production card would sample pairs with the md5 draw
(queries/_draws.py) at O(sample) cost.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cargo_chat_spark.functions import vectors
from cargo_chat_spark.operators import jl_projection as JL
from cargo_chat_spark.operators.knn import knn_join
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table

JL_IN = 64
JL_OUT = 16

_SIGNS = JL.sign_matrix(JL_OUT, JL_IN)

_PROJ_SQL = JL.project_sql("embedding", _SIGNS)

_PDIST_SQL = f"""
    sqrt(list_sum(list_transform(
        generate_series(1, {JL_OUT}),
        i -> (q.qp[i] - e.p[i]) * (q.qp[i] - e.p[i])
    )))
"""

_JL_TOPK_SQL = f"""
WITH proj AS (
    SELECT vec_id, {_PROJ_SQL} AS p FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, p AS qp FROM proj WHERE vec_id % 100 = 0
),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id, {_PDIST_SQL} AS distance
    FROM proj e CROSS JOIN q
),
ranked AS (
    SELECT query_id, neighbor_id, distance,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY distance, neighbor_id
           ) AS INT) AS "rank"
    FROM scored
)
SELECT * FROM ranked WHERE "rank" <= 10
"""


def _projected(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dim = vectors.infer_dim(emb, "embedding")
    if dim != JL_IN:
        raise ValueError(
            f"JL sign matrix is derived for dim {JL_IN}, corpus is {dim} — "
            "re-derive via jl_projection.sign_matrix(JL_OUT, dim)"
        )
    return JL.project(emb, "embedding", _SIGNS, out_col="p").select(
        "vec_id", "p"
    )


@register("jl_project_topk", sql=_JL_TOPK_SQL)
def jl_project_topk(spark, sf_dir):
    """Exact top-10 per query in the 16-dim JL space (4× less scan
    bandwidth than the 64-dim exact kNN). Same plan as knn_exact — the
    k-NN kernel over the corpus, map-side WindowGroupLimit prune — over
    the map-side projected frames."""
    proj = _projected(spark, sf_dir)
    q = proj.where((F.col("vec_id") % 100) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("query_vec")
    )
    return knn_join(q, proj, k=10, corpus_vec="p")


_JL_DISTORT_SQL = f"""
WITH proj AS (
    SELECT vec_id, embedding, {_PROJ_SQL} AS p FROM embeddings
),
q AS (
    SELECT vec_id AS qid, embedding AS qe, p AS qp
    FROM proj WHERE vec_id % 100 = 0
),
pairs AS (
    SELECT
        list_sum(list_transform(generate_series(1, {JL_OUT}),
            i -> (q.qp[i] - e.p[i]) * (q.qp[i] - e.p[i]))) AS psq,
        list_sum(list_transform(generate_series(1, {JL_IN}),
            i -> (CAST(q.qe[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
               * (CAST(q.qe[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
        )) AS osq
    FROM proj e CROSS JOIN q
    WHERE e.vec_id <> q.qid
)
SELECT CAST(floor(10.0 * psq / ({JL_OUT} * osq)) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs
WHERE osq > 0
GROUP BY 1
"""


@register("jl_distortion_report", sql=_JL_DISTORT_SQL)
def jl_distortion_report(spark, sf_dir):
    """Distance-distortion histogram of the JL projection: buckets of
    ‖Px−Py‖²/(K·‖x−y‖²) at 0.1 width over every (query, corpus≠query)
    pair. With ±1 entries the ratio concentrates at 1.0 with
    std ≈ sqrt(2/K) ≈ 0.35 — the card's healthy shape; mass far from
    1.0 means the derivation or fold broke."""
    emb = _projected(spark, sf_dir)
    full = load_table(spark, sf_dir, "embeddings").join(
        emb, "vec_id"
    )
    q = full.where((F.col("vec_id") % 100) == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("p").alias("qp"),
    )
    # id-distinct pairs only, and exact-duplicate vectors (osq = 0)
    # excluded in BOTH engines — a 0-distance pair would floor(±Inf)
    pairs = (
        full.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            vectors.euclidean_sq(F.col("qp"), F.col("p")).alias("psq"),
            vectors.euclidean_sq(F.col("qe"), F.col("embedding")).alias(
                "osq"
            ),
        )
    )
    return (
        pairs.where(F.col("osq") > 0)
        .select(
            F.floor(10.0 * F.col("psq") / (JL_OUT * F.col("osq")))
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
