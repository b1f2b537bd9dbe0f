"""KMeans correctness queries over ``embeddings`` (operators/clustering.py).

Three value-hash gates, all against a DuckDB oracle that UNROLLS Lloyd's
iterations in SQL (long-format (id, dim) joins — the oracle optimizes
for SQL clarity; the Spark side runs the production map-only
literal-centroid kernel, and exact integer arithmetic makes the two
meet bit-for-bit):

- ``kmeans_centroids`` — the trained model itself after ITERS
  iterations, long format (cluster, dim, val).
- ``kmeans_cluster_profile`` — cluster × label contingency of the final
  assignment (the topic-coherence readout a curation pipeline inspects).
- ``cluster_representatives`` — per-cluster TOP_REPS nearest members to
  the final centroid (canonical examples; WindowGroupLimit composition).

Upgrades the live-trained-IVF story: ``ivf_topk_trained_live`` is
rows-only because float means can't hash across engines — fixed-point
quantization makes the full iterative trainer value-hash checkable (the
pagerank/BPE iterative-oracle precedent).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.caching import register_memo as memo_register
from cargo_chat_spark.operators.clustering import (
    SCALE,
    kmeans_fit,
    quantize_embeddings,
)
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table
from cargo_chat_spark.functions.localframe import local_frame

K = 8
ITERS = 3
TOP_REPS = 5


def _chain(iters: int) -> str:
    """wf-style WITH chain: e/el (quantized wide+long), c0 (smallest-id
    init), then per iteration a{k} (argmin assignment, ties to lowest
    cluster) and c{k}l (floor-mean update; empty clusters carry the
    previous centroid). a{iters+1}-style final assignment is obtained by
    asking for one more a CTE than update CTEs."""
    sql = f"""WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
el AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS dim, q[i] AS qv
  FROM e, unnest(generate_series(1, len(q))) t(i)
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, q
  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT {K})
),
c0l AS (
  SELECT cluster, CAST(i - 1 AS INT) AS dim, q[i] AS cv
  FROM c0, unnest(generate_series(1, len(q))) t(i)
)"""
    for k in range(1, iters + 2):
        sql += f""",
a{k} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT el.vec_id, cl.cluster,
           sum((el.qv - cl.cv) * (el.qv - cl.cv)) AS dist
    FROM el JOIN c{k - 1}l cl ON el.dim = cl.dim
    GROUP BY el.vec_id, cl.cluster)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
)"""
        if k <= iters:
            sql += f""",
c{k}l AS (
  SELECT pc.cluster, pc.dim, coalesce(u.cv, pc.cv) AS cv
  FROM c{k - 1}l pc LEFT JOIN (
    SELECT a.cluster, el.dim,
           CAST(floor(CAST(sum(el.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
    FROM a{k} a JOIN el ON a.vec_id = el.vec_id
    GROUP BY a.cluster, el.dim) u
  ON pc.cluster = u.cluster AND pc.dim = u.dim
)"""
    return sql


_CENTROIDS_SQL = _chain(ITERS) + f"""
SELECT cluster, dim, cv AS val FROM c{ITERS}l
"""

_PROFILE_SQL = _chain(ITERS) + f"""
SELECT a.cluster, emb.label, CAST(count(*) AS BIGINT) AS n_members
FROM a{ITERS + 1} a JOIN embeddings emb ON a.vec_id = emb.vec_id
GROUP BY a.cluster, emb.label
"""

_REPS_SQL = _chain(ITERS) + f"""
SELECT cluster, vec_id, CAST(dist AS BIGINT) AS dist FROM (
  SELECT cluster, vec_id, dist,
         row_number() OVER (
             PARTITION BY cluster ORDER BY dist, vec_id) AS rk
  FROM a{ITERS + 1})
WHERE rk <= {TOP_REPS}
"""
# ^ dist is a SUM over BIGINTs — DuckDB widens to HUGEINT, which the
# DRIVER's pandas canonicalization downcasts to float64 while Spark
# returns int64 (a value-hash mismatch the fetchall-based pytest harness
# cannot see: fetchall yields exact Python ints). Caught by
# tools/driver_sim.py in round 8; same class as the round-1 uncast-SUM
# lesson in tests/test_oracle_harness.py::_cell.


_FIT_MEMO: dict = {}
memo_register(_FIT_MEMO)


def _fit(spark, sf_dir):
    """Train once per (session, sf_dir); the three gates share the model
    (the _TRAINED_MEMO pattern from queries/similarity.py)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _FIT_MEMO.get(key)
    if cached is None:
        e = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
        cents, assigned = kmeans_fit(e, k=K, iters=ITERS)
        cached = (cents, assigned.persist())
        _FIT_MEMO[key] = cached
    return cached


@register("kmeans_centroids", sql=_CENTROIDS_SQL)
def kmeans_centroids(spark, sf_dir):
    """The trained fixed-point KMeans model, long format."""
    cents, _ = _fit(spark, sf_dir)
    return local_frame(spark, 
        [(ci, d, int(v)) for ci, c in enumerate(cents) for d, v in enumerate(c)],
        "cluster int, dim int, val bigint",
    )


@register("kmeans_cluster_profile", sql=_PROFILE_SQL)
def kmeans_cluster_profile(spark, sf_dir):
    """Cluster x label contingency of the final assignment."""
    _, assigned = _fit(spark, sf_dir)
    return assigned.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )


@register("cluster_representatives", sql=_REPS_SQL)
def cluster_representatives(spark, sf_dir):
    """Per-cluster nearest members to the final centroid (ties to the
    lowest vec_id) — map-side-pruned rank via WindowGroupLimit."""
    _, assigned = _fit(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        assigned.select("cluster", "vec_id", "dist")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_REPS)
        .drop("rk")
    )


# ------------------------------------------------ online (mini-batch) gate
# streaming/kmeans_stream.py: three ingest waves (vec_id % 3) folded
# sequentially into cumulative integer sums/counts; each wave assigned
# to the centroids derived from the state BEFORE it. The oracle unrolls
# the sequence: d{i}l derives centroids from cumulative state s{i}l
# (floor(sum/count), init carry for empty clusters), a{i+1} assigns the
# next wave, s{i+1}l accumulates.

N_WAVES = 3


def _online_chain() -> str:
    sql = f"""WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
el AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS dim, q[i] AS qv
  FROM e, unnest(generate_series(1, len(q))) t(i)
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, q
  FROM (SELECT vec_id, q FROM e WHERE vec_id % {N_WAVES} = 0
        ORDER BY vec_id LIMIT {K})
),
s0l AS (
  SELECT cluster, CAST(i - 1 AS INT) AS dim,
         CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS n,
         q[i] AS init_cv
  FROM c0, unnest(generate_series(1, len(q))) t(i)
)"""
    for k in range(1, N_WAVES + 1):
        m = k - 1
        sql += f""",
d{k - 1}l AS (
  SELECT cluster, dim,
         CASE WHEN n > 0
              THEN CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
              ELSE init_cv END AS cv
  FROM s{k - 1}l
),
a{k} AS (
  SELECT vec_id, cluster FROM (
    SELECT el.vec_id, cl.cluster,
           sum((el.qv - cl.cv) * (el.qv - cl.cv)) AS dist
    FROM el JOIN d{k - 1}l cl ON el.dim = cl.dim
    WHERE el.vec_id % {N_WAVES} = {m}
    GROUP BY el.vec_id, cl.cluster)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
),
s{k}l AS (
  SELECT p.cluster, p.dim,
         p.s + coalesce(u.ds, 0) AS s,
         p.n + coalesce(u.dn, 0) AS n,
         p.init_cv
  FROM s{k - 1}l p LEFT JOIN (
    SELECT a.cluster, el.dim,
           CAST(sum(el.qv) AS BIGINT) AS ds,
           CAST(count(*) AS BIGINT) AS dn
    FROM a{k} a JOIN el USING (vec_id)
    GROUP BY a.cluster, el.dim) u
  ON p.cluster = u.cluster AND p.dim = u.dim
)"""
    return sql


_ONLINE_SQL = _online_chain() + f""",
dfinl AS (
  SELECT cluster, dim,
         CASE WHEN n > 0
              THEN CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
              ELSE init_cv END AS cv
  FROM s{N_WAVES}l
)
SELECT cluster, dim, cv AS val FROM dfinl
"""


@register("kmeans_online_centroids", sql=_ONLINE_SQL)
def kmeans_online_centroids(spark, sf_dir):
    """The mini-batch model after three sequential ingest waves — each
    wave assigned with the centroids the stream had at its arrival."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from cargo_chat_spark.streaming.kmeans_stream import (
        centroids_of,
        kmeans_stream_batch,
        read_kmeans_state,
    )

    e = quantize_embeddings(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "q"
    )
    out = _os.path.join(
        _tempfile.gettempdir(),
        f"ccs_km_stream_{_os.path.basename(_os.path.normpath(sf_dir))}"
        f"_{_os.getpid()}",
    )
    sp = out + ".kmeans_state.json"
    if _os.path.exists(sp):
        _os.remove(sp)
    for m in range(N_WAVES):
        kmeans_stream_batch(
            spark, e.where(F.col("vec_id") % N_WAVES == m), m, out, k=K
        )
    cents = centroids_of(read_kmeans_state(out))
    return local_frame(spark, 
        [(ci, d, int(v)) for ci, c in enumerate(cents) for d, v in enumerate(c)],
        "cluster int, dim int, val bigint",
    )


# ------------------------------------------- cluster-balanced sampling
# Semantic-diversity selection (the SemDeDup/SSL-prototypes companion):
# instead of keeping the corpus' natural cluster mix, draw an EQUAL
# number of members per k-means cluster, ranked by a per-key hash draw
# (h32; membership is a function of the key, as in queries/_draws.py) —
# the deterministic form of "balance the topic distribution before
# training". Plan: the final
# assignment frame + one hash projection + a per-cluster
# WindowGroupLimit top-M; no extra shuffle beyond the window's
# cluster partitioning. All integer/hash — value-hashes directly.
PER_CLUSTER = 10


def _balanced_sql() -> str:
    from cargo_chat_spark.functions.hashing import h32_sql

    draw = h32_sql("'cbs|' || CAST(vec_id AS VARCHAR)")
    return _chain(ITERS) + f"""
SELECT cluster, vec_id, CAST(draw_rank AS INT) AS draw_rank FROM (
  SELECT cluster, vec_id,
         row_number() OVER (
             PARTITION BY cluster ORDER BY {draw}, vec_id) AS draw_rank
  FROM a{ITERS + 1})
WHERE draw_rank <= {PER_CLUSTER}
"""


@register("cluster_balanced_sample", sql=_balanced_sql())
def cluster_balanced_sample(spark, sf_dir):
    """Up to PER_CLUSTER members per trained cluster, drawn by the
    md5 order (h32('cbs|' || vec_id), vec_id) — the deterministic
    topic-balanced sample a diversity-aware pipeline feeds to training
    instead of the raw cluster mix."""
    from cargo_chat_spark.functions.hashing import h32

    _, assigned = _fit(spark, sf_dir)
    draw = h32(F.concat(F.lit("cbs|"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("cluster").orderBy(draw, F.asc("vec_id"))
    return (
        assigned.select("cluster", "vec_id")
        .withColumn("draw_rank", F.row_number().over(w).cast("int"))
        .where(F.col("draw_rank") <= PER_CLUSTER)
    )
