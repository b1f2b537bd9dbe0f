"""Random-projection LSH ANN (SURVEY §4 / §7 step 7).

The reference's index is an RP-tree forest (ann.rs:254, 16 trees, seed 42)
— approximate Euclidean top-k. This is the Spark-native analog: signed
random-projection (SimHash-for-vectors) bucketing with DETERMINISTIC
hyperplanes derived from the portable hash constants, so the whole ANN path
— bucketing, candidate join, re-score — is DuckDB-oracle-checkable, and its
recall is measured against the exact kNN (tests/test_ann_recall.py),
mirroring the RP-tree-vs-exact tradeoff.

Scale shape: corpus bucket keys are computed in one scan (and at 100 TB
would be written as a partition/bucket column); the query↔corpus join is an
equi-join on bucket key — shuffle O(matching buckets), never the full cross
join. nprobe-style widening = hamming-adjacent keys (not needed at this
corpus size).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from cargo_chat_spark import caching
from cargo_chat_spark.functions import hashing, vectors
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table, parquet_rows

N_PLANES = 8

# Unrolled literal-weight bucket keys win only when per-row work dominates
# the one-off plan cost of an 8x(dim)-term expression tree (~0.5 s of
# driver-side analysis, measured): below this corpus size the interpreted
# HOF fold is net faster, above it the codegen'd chain is.
_FIXED_KEY_MIN_ROWS = 50_000


def _weight_sql(l: str, i: str) -> str:
    # deterministic pseudo-random weight in [-0.5, 0.5)
    return (
        f"(CAST((({l} * 10007 + {i} * 97) * 2654435761) % {hashing.PRIME} AS DOUBLE)"
        f" / {hashing.PRIME} - 0.5)"
    )


def _weight(l: Column, i: Column) -> Column:
    return (
        ((l * 10007 + i * 97) * F.lit(2654435761) % hashing.PRIME).cast("double")
        / hashing.PRIME
        - 0.5
    )


def bucket_key(embedding: Column) -> Column:
    """Sign-bit key over N_PLANES deterministic hyperplanes (dim-agnostic
    HOF form — interpreted; prefer ``bucket_key_fixed`` when the dim is
    known)."""
    def _proj_fn(plane: int):
        return lambda x, i: x.cast("double") * _weight(F.lit(plane), i)

    bits = []
    for l in range(N_PLANES):
        proj = F.aggregate(
            F.zip_with(embedding, F.sequence(F.lit(1), F.size(embedding)), _proj_fn(l + 1)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _weight_py(l: int, i: int) -> float:
    # EXACTLY the Column/SQL arithmetic: integer ops are exact in all three
    # engines, the division and subtraction are the same IEEE doubles, and
    # repr() round-trips — so the literal-weight form is bit-identical
    return ((l * 10007 + i * 97) * 2654435761 % hashing.PRIME) / hashing.PRIME - 0.5


def bucket_key_fixed(col_name: str, dim: int) -> Column:
    """Sign-bit key with the hyperplane weights PRE-COMPUTED as literals
    and the projection unrolled into one SQL string: whole-stage-codegen'd
    straight-line arithmetic instead of 8 interpreted HOF folds per row,
    and one py4j round trip instead of ~100 (see SCALE.md driver-side plan
    costs). Same values as ``bucket_key`` — same fold order from 0.0."""
    bits = []
    for l in range(N_PLANES):
        terms = " + ".join(
            f"(CAST(element_at(`{col_name}`, {i}) AS DOUBLE) * {_weight_py(l + 1, i)!r}D)"
            for i in range(1, dim + 1)
        )
        bits.append(f"(CASE WHEN (0.0D + {terms}) > 0.0D THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ", ".join(bits) + ")")


def bucket_key_sql(embedding: str) -> str:
    bits = []
    for l in range(N_PLANES):
        proj = (
            f"list_sum(list_transform(generate_series(1, len({embedding})), "
            f"i -> CAST({embedding}[i] AS DOUBLE) * {_weight_sql(str(l + 1), 'i')}))"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


_RP_SQL = f"""
WITH corpus AS (
    SELECT vec_id, embedding, {bucket_key_sql('embedding')} AS bkey
    FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, embedding AS qvec, {bucket_key_sql('embedding')} AS bkey
    FROM embeddings WHERE vec_id % 100 = 0
),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
        sqrt(list_sum(list_transform(generate_series(1, len(q.qvec)),
            i -> (CAST(q.qvec[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
               * (CAST(q.qvec[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))))
            AS distance
    FROM q JOIN corpus c ON q.bkey = c.bkey
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM scored
QUALIFY "rank" <= 10
"""


@register("rp_lsh_topk", sql=_RP_SQL)
def rp_lsh_topk(spark, sf_dir):
    """Approximate top-10: bucket equi-join + exact re-score inside the
    bucket. May return < 10 rows per query (bucket smaller than k) — the
    accuracy/recall tradeoff the reference's RP-trees make too."""
    emb = load_table(spark, sf_dir, "embeddings")
    big = parquet_rows(f"{sf_dir}/embeddings.parquet") >= _FIXED_KEY_MIN_ROWS
    if big:
        dim = vectors.infer_dim(emb, "embedding")  # one scalar job, big path only
        bkey = lambda: bucket_key_fixed("embedding", dim)  # noqa: E731
        dist = F.expr(vectors.euclidean_fixed_sql("`qvec`", "`embedding`", dim))
    else:
        bkey = lambda: bucket_key(F.col("embedding"))  # noqa: E731
        dist = vectors.euclidean(F.col("qvec"), F.col("embedding"))
    corpus = emb.select("vec_id", "embedding", bkey().alias("bkey"))
    q = (
        emb.where(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            bkey().alias("bkey"),
        )
    )
    scored = q.join(corpus, "bkey").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dist.alias("distance"),
    )
    w = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )


# ------------------------------------------------------- multiprobe variant
def _flip_sql(key: str, i: int) -> str:
    """SQL: flip bit-char i (0-based) of the 8-char key string."""
    return (
        f"substring({key}, 1, {i}) || "
        f"(CASE substring({key}, {i + 1}, 1) WHEN '0' THEN '1' ELSE '0' END) || "
        f"substring({key}, {i + 2}, {N_PLANES - i - 1})"
    )


_PROBE_KEYS_SQL = "[bkey, " + ", ".join(
    _flip_sql("bkey", i) for i in range(N_PLANES)
) + "]"

_RP_MULTI_SQL = f"""
WITH corpus AS (
    SELECT vec_id, embedding, {bucket_key_sql('embedding')} AS bkey
    FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, embedding AS qvec, {bucket_key_sql('embedding')} AS bkey
    FROM embeddings WHERE vec_id % 100 = 0
),
probes AS (
    SELECT query_id, qvec, unnest({_PROBE_KEYS_SQL}) AS pkey FROM q
),
scored AS (
    SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
        sqrt(list_sum(list_transform(generate_series(1, len(p.qvec)),
            i -> (CAST(p.qvec[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
               * (CAST(p.qvec[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))))
            AS distance
    FROM probes p JOIN corpus c ON p.pkey = c.bkey
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM scored
QUALIFY "rank" <= 10
"""


def _flip_col(key, i: int):
    flipped = F.when(F.substring(key, i + 1, 1) == "0", "1").otherwise("0")
    parts = []
    if i > 0:
        parts.append(F.substring(key, 1, i))
    parts.append(flipped)
    if i < N_PLANES - 1:
        parts.append(F.substring(key, i + 2, N_PLANES - i - 1))
    return F.concat(*parts)


@register("rp_lsh_multiprobe_topk", sql=_RP_MULTI_SQL)
def rp_lsh_multiprobe_topk(spark, sf_dir):
    """Multiprobe RP-LSH: each query probes its own bucket plus the
    {N_PLANES} hamming-1-adjacent buckets (flip one sign bit) — the
    standard recall lever: ~(1+{N_PLANES})x candidate cost for a large
    recall jump, still an equi-join (no cross join). Candidates reached
    via multiple probes dedup before re-scoring.

    Retired from the catalog in round 5 (recall-dominated: 0.54 at
    hamming-1 / 0.66 at a hamming-2 retune vs the 12-table forest's
    0.90, because widening probes around ONE 8-plane partition explores
    a single Voronoi neighborhood while independent tables re-draw the
    partition itself — use rp_lsh_forest_topk for production probing).
    RE-REGISTERED in round 11 as part of the oldest-green re-proof wave
    (its only external CORRECTNESS row dated to round 1): the
    correctness claim — bucket+probe candidate generation and exact
    re-rank are value-hash-identical to the DuckDB twin — is
    independent of the recall verdict, and the re-proof cycle needs the
    row gated at current HEAD. Recall property stays pinned in
    tests/test_ann_recall.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    big = parquet_rows(f"{sf_dir}/embeddings.parquet") >= _FIXED_KEY_MIN_ROWS
    if big:
        dim = vectors.infer_dim(emb, "embedding")  # one scalar job, big path only
        bkey = lambda: bucket_key_fixed("embedding", dim)  # noqa: E731
        dist = F.expr(vectors.euclidean_fixed_sql("`qvec`", "`embedding`", dim))
    else:
        bkey = lambda: bucket_key(F.col("embedding"))  # noqa: E731
        dist = vectors.euclidean(F.col("qvec"), F.col("embedding"))
    corpus = emb.select("vec_id", "embedding", bkey().alias("bkey"))
    q = (
        emb.where(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            bkey().alias("bkey"),
        )
    )
    probe_keys = F.array(F.col("bkey"), *[_flip_col(F.col("bkey"), i) for i in range(N_PLANES)])
    probes = q.select("query_id", "qvec", F.explode(probe_keys).alias("bkey"))
    scored = (
        probes.join(corpus, "bkey")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist.alias("distance"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )


# --------------------------------------------------------- LSH forest variant
# The direct analog of the reference's RP-tree FOREST (ann.rs:254 — 16
# trees, every vector in every tree, query probes all trees and unions
# candidates): L independent hash tables, each with its own deterministic
# hyperplane set (table t uses plane ids t*16+1 .. t*16+n, disjoint from the
# single-table ids 1..8). Fewer planes per table than rp_lsh_topk → bigger
# buckets; independence across tables → a near neighbor only needs to
# collide in ONE of the L tables. Measured recall@10 at sf0.001: 0.90
# (single-table 0.44, multiprobe 0.54) at ~L×bucket candidate cost —
# the same storage-for-recall trade the reference forest makes at 16×.
#
# Scale shape: one scan explodes each row into L (t, key) rows (at 100 TB
# the keyed copies would be written bucketed by (t, key) once, amortized
# across all queries); query↔corpus is an equi-join on (t, key); candidates
# dedup before the exact re-rank.
N_TABLES_FOREST = 12
N_PLANES_FOREST = 5

# Per-bucket occupancy target behind the AUTO-SIZED plane count (r13
# verdict item 2): expected occupancy = corpus / 2^planes, so planes
# must grow with log2(corpus) or buckets blow up a decade later — the
# r13 two-decade probe measured 6.2k vecs/bucket and a 0.93 decade
# exponent at the FIXED 5-plane key. The target is 16 so the formula
# resolves to exactly the oracle-pinned 5 planes for every corpus up to
# 512 vectors (both driver gate SFs: 50 and 500) — the oracle SQL stays
# the 5-plane form and keeps hash-matching at the gate, while bigger
# corpora get deeper keys automatically.
_FOREST_TARGET_OCC = 16


def forest_planes_for(n_rows: int) -> int:
    """Occupancy-derived plane count: max(default, ceil(log2(n/occ))).
    Never below the oracle-pinned default; grows one plane per corpus
    doubling past 2^default * occ, holding expected bucket occupancy
    ~flat at any scale (the rp_tree_forest_topk depth rule applied to
    the hash-table forest)."""
    import math

    if n_rows <= 0:
        return N_PLANES_FOREST
    return max(
        N_PLANES_FOREST,
        math.ceil(math.log2(max(1.0, n_rows / _FOREST_TARGET_OCC))),
    )


def bucket_key_forest(embedding: Column, t: Column) -> Column:
    """Sign-bit key for hash table ``t`` (1-based): plane ids t*16+p keep
    every table's hyperplanes disjoint from each other and from the
    single-table key's ids."""
    def _proj_fn(plane: int):
        return lambda x, i: x.cast("double") * _weight(t * 16 + plane, i)

    bits = []
    for p in range(1, N_PLANES_FOREST + 1):
        proj = F.aggregate(
            F.zip_with(embedding, F.sequence(F.lit(1), F.size(embedding)), _proj_fn(p)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _forest_keys_numpy(
    df,
    vec_col: str,
    id_col: str,
    out_id: str,
    out_vec: str,
    n_tables: int = N_TABLES_FOREST,
    n_planes: int = N_PLANES_FOREST,
):
    """(id, vec) -> one row per hash table: (out_id, out_vec, t, bkey) via
    an Arrow-batched NumPy kernel. The HOF form (bucket_key_forest) runs
    12 tables × 5 planes interpreted folds per row — measured ~4 s for
    2k rows at sf0.1, the bulk of the forest query; here all 60
    projections accumulate dim-by-dim with vectorized float64 ops in the
    SAME left-fold order from 0.0, and the weights come from _weight_py
    (bit-identical to the SQL arithmetic — the bucket_key_fixed
    precedent), so keys match both the HOF form and the DuckDB oracle
    exactly. One narrow map, no shuffle; the explode-by-table happens in
    the kernel output.

    ``n_planes`` is the 100 TB occupancy lever (SCALE.md round-9 probe:
    per-bucket occupancy = corpus / 2^planes, so planes scale with
    log2(corpus) to hold probe cost flat). The DEFAULT (12, 5) is the
    oracle-pinned configuration; at the defaults the plane-id stride is
    16 (t*16+p, the historical scheme), and a non-default plane count
    widens the stride to keep every table's hyperplane ids disjoint."""
    import numpy as np

    stride = 16 if n_planes <= 15 else n_planes + 1

    def keys(batches):
        w = None  # (tables, planes, dim) literal weights, built per dim
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            dim = m.shape[1]
            if w is None or w.shape[2] != dim:
                w = np.array(
                    [
                        [
                            [_weight_py(t * stride + p, i) for i in range(1, dim + 1)]
                            for p in range(1, n_planes + 1)
                        ]
                        for t in range(1, n_tables + 1)
                    ],
                    dtype=np.float64,
                )
            n = len(pdf)
            proj = np.zeros((n, n_tables, n_planes))
            for i in range(dim):
                proj += m[:, i, None, None] * w[None, :, :, i]
            bits = np.where(proj > 0, "1", "0")
            out_rows = {
                out_id: np.repeat(pdf[id_col].to_numpy(), n_tables),
                out_vec: [v for v in pdf[vec_col] for _ in range(n_tables)],
                "t": np.tile(
                    np.arange(1, n_tables + 1), n
                ).astype("int32"),
                "bkey": [
                    "".join(bits[r, t])
                    for r in range(n)
                    for t in range(n_tables)
                ],
            }
            import pandas as pd

            yield pd.DataFrame(out_rows)

    vec_type = df.schema[vec_col].dataType.simpleString()
    return df.mapInPandas(
        keys, f"`{out_id}` bigint, `{out_vec}` {vec_type}, t int, bkey string"
    )


def bucket_key_forest_sql(embedding: str, t_expr: str = "t") -> str:
    bits = []
    for p in range(1, N_PLANES_FOREST + 1):
        proj = (
            f"list_sum(list_transform(generate_series(1, len({embedding})), "
            f"i -> CAST({embedding}[i] AS DOUBLE) * "
            f"{_weight_sql(f'({t_expr} * 16 + {p})', 'i')}))"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


_RP_FOREST_SQL = f"""
WITH tables AS (
    SELECT unnest(generate_series(1, {N_TABLES_FOREST})) AS t
),
corpus AS (
    SELECT e.vec_id, e.embedding, tb.t,
           {bucket_key_forest_sql('e.embedding', 'tb.t')} AS bkey
    FROM embeddings e CROSS JOIN tables tb
),
q AS (
    SELECT e.vec_id AS query_id, e.embedding AS qvec, tb.t,
           {bucket_key_forest_sql('e.embedding', 'tb.t')} AS bkey
    FROM embeddings e CROSS JOIN tables tb
    WHERE e.vec_id % 100 = 0
),
scored AS (
    SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
        sqrt(list_sum(list_transform(generate_series(1, len(q.qvec)),
            i -> (CAST(q.qvec[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
               * (CAST(q.qvec[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))))
            AS distance
    FROM q JOIN corpus c ON q.t = c.t AND q.bkey = c.bkey
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM scored
QUALIFY "rank" <= 10
"""


@register("rp_lsh_forest_topk", sql=_RP_FOREST_SQL)
def rp_lsh_forest_topk(spark, sf_dir):
    """L-table LSH forest top-10 (module comment above): explode each
    vector into its {N_TABLES_FOREST} table keys (NumPy kernel,
    _forest_keys_numpy — bit-identical to the HOF form), equi-join
    queries to the corpus on (table, key), dedup candidates, exact
    re-rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_rows = parquet_rows(f"{sf_dir}/embeddings.parquet")
    if n_rows >= _FIXED_KEY_MIN_ROWS:
        dim = vectors.infer_dim(emb, "embedding")
        dist = F.expr(vectors.euclidean_fixed_sql("`qvec`", "`embedding`", dim))
    else:
        dist = vectors.euclidean(F.col("qvec"), F.col("embedding"))
    # auto-sized key depth (forest_planes_for): resolves to the
    # oracle-pinned 5 planes at both gate SFs, deepens past 512 vectors
    planes = forest_planes_for(n_rows)
    corpus = _forest_keys_numpy(
        emb.select("vec_id", "embedding"),
        "embedding", "vec_id", "vec_id", "embedding",
        n_planes=planes,
    )
    q = _forest_keys_numpy(
        emb.where(F.col("vec_id") % 100 == 0).select("vec_id", "embedding"),
        "embedding", "vec_id", "query_id", "qvec",
        n_planes=planes,
    )
    scored = (
        q.join(corpus, ["t", "bkey"])
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist.alias("distance"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )


# ------------------------------------------------- rp_forest_persisted
# The forest's SCALE PATH made concrete (round 8): the decade probe
# measured the batch forest as the most data-proportional headline
# kernel (exponent 0.78) because it recomputes all 12 corpus key sets
# per run. sources/forest_store.py materializes the postings ONCE
# (partitioned by table, bkey-clustered; vectors NOT duplicated — ids
# only); a probe is then broadcast-batch-keys → unshuffled store join →
# candidate-id vector fetch → exact re-rank. Results are bit-identical
# to the batch gate, so the ORACLE IS SHARED verbatim (the
# bm25_topk_persisted precedent). Store built once per (session, sf)
# via the session memo.

from cargo_chat_spark.caching import register_memo as _register_memo

_FOREST_STORE_MEMO: dict = {}
_register_memo(_FOREST_STORE_MEMO)


def _forest_store(spark, sf_dir):
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from cargo_chat_spark.sources.forest_store import write_forest_store

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _FOREST_STORE_MEMO.get(key)
    if path is None:
        sf_tag = _os.path.basename(_os.path.normpath(sf_dir))
        path = _os.path.join(
            _tempfile.gettempdir(),
            f"ccs_foreststore_{sf_tag}_{_os.getpid()}",
        )
        if _os.path.isdir(path):
            _shutil.rmtree(path)
        # same auto-sized depth as the batch gate, so the persisted
        # probe stays bit-identical to it at every SF (the probe keys
        # itself from the store's meta sidecar)
        write_forest_store(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            ),
            path,
            n_planes=forest_planes_for(
                parquet_rows(f"{sf_dir}/embeddings.parquet")
            ),
        )
        _FOREST_STORE_MEMO[key] = path
    return path


@register("rp_forest_persisted", sql=_RP_FOREST_SQL)
def rp_forest_persisted(spark, sf_dir):
    """Forest top-10 served from the PERSISTED posting store; must equal
    the recompute-everything batch gate bit for bit."""
    from cargo_chat_spark.sources.forest_store import probe_forest_store

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return probe_forest_store(
        spark, _forest_store(spark, sf_dir), queries, emb, k=10
    )


# ------------------------------------------------- rp_forest_cdc_synced
# The forest joins the persisted-state CDC family (round 8 — making it a
# QUARTET with lexical postings, near-dup bands, and ANN cells): the
# posting store follows a MUTATING vector snapshot through its change
# feed (sources/forest_store.py::apply_forest_cdc — re-keyed appends for
# inserts/updates, merge-on-read tombstones for deletes/old
# generations). The gate's MERGE negates the updated embeddings, so
# every projection sign flips and every updated vector MOVES buckets in
# all 12 tables — the hardest maintenance case. The probe after the CDC
# apply must equal the from-scratch forest over the FINAL logical
# vectors (the oracle rebinds the corpus CTE; same construction as
# ivf_topk_cdc_synced).

_FOREST_CDC_SQL = _RP_FOREST_SQL.replace(
    "WITH tables AS (",
    """WITH embeddings2 AS (
    SELECT vec_id,
           CASE WHEN vec_id % 10 = 3
                THEN list_transform(embedding, x -> -x)
                ELSE embedding END AS embedding
    FROM embeddings WHERE vec_id % 10 <> 4
),
tables AS (""",
    1,
).replace("FROM embeddings e", "FROM embeddings2 e")


_FOREST_CDC_MEMO: dict = {}
_register_memo(_FOREST_CDC_MEMO)


def _forest_cdc_fixture(spark, sf_dir):
    """The rp_forest_cdc_synced lifecycle FIXTURE (write → sync →
    MERGE-negate → CoW-delete → CDC-apply), memoized per (session,
    sf_dir); returns (table, store). Factored out so bench.py can time
    the one-time maintenance lifecycle separately from the steady-state
    probe (registered via register_phase_builder)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from cargo_chat_spark.sources.forest_store import (
        apply_forest_cdc,
        sync_forest_from_snapshot,
    )
    from cargo_chat_spark.sources.snapshots import (
        snap_delete,
        snap_merge,
        snap_write,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _FOREST_CDC_MEMO.get(key)
    if cached is not None:
        return cached
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    sf_tag = _os.path.basename(_os.path.normpath(sf_dir))
    table = _os.path.join(
        _tempfile.gettempdir(), f"ccs_forestcdc_t_{sf_tag}_{_os.getpid()}"
    )
    store = _os.path.join(
        _tempfile.gettempdir(), f"ccs_forestcdc_s_{sf_tag}_{_os.getpid()}"
    )
    for p in (table, store):
        if _os.path.isdir(p):
            _shutil.rmtree(p)
    sync_marker = store.rstrip("/") + ".sync.json"
    if _os.path.exists(sync_marker):
        _os.remove(sync_marker)

    snap_write(emb, table)
    sync_forest_from_snapshot(spark, store, table)
    # v1: MERGE-negate — every updated vector changes buckets
    upd = emb.where(F.col("vec_id") % 10 == 3).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    snap_merge(spark, table, upd, "vec_id")
    # v2: CoW delete
    snap_delete(
        spark, table,
        emb.where(F.col("vec_id") % 10 == 4).select("vec_id"),
        "vec_id",
    )
    apply_forest_cdc(spark, store, table)
    _FOREST_CDC_MEMO[key] = (table, store)
    return table, store


@register("rp_forest_cdc_synced", sql=_FOREST_CDC_SQL)
def rp_forest_cdc_synced(spark, sf_dir):
    """Forest probe after a write → sync → MERGE-negate → CoW-delete →
    CDC-apply lifecycle; must equal the from-scratch forest over the
    final logical vectors."""
    from cargo_chat_spark.sources.forest_store import probe_forest_store
    from cargo_chat_spark.sources.snapshots import snap_read

    table, store = _forest_cdc_fixture(spark, sf_dir)
    final = snap_read(spark, table)
    queries = final.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return probe_forest_store(spark, store, queries, final, k=10)


# bench.py phase split (r8 verdict item 7): the store build / CDC
# lifecycle is the one-time phase; the registered queries above are the
# steady-state probes.
from cargo_chat_spark.queries.registry import register_phase_builder as _rpb

_rpb("rp_forest_persisted", _forest_store)
_rpb("rp_forest_cdc_synced", _forest_cdc_fixture)


# ------------------------------------------------------- RP-TREE forest (r13)
# The reference's ACTUAL ANN data structure is 16 recursive random-
# projection TREES (ann.rs:254 via the external `vector` crate): each
# tree recursively splits the corpus at the MEDIAN of a random
# projection until leaves are small; a query descends each tree and the
# union of its 16 leaves is the candidate set. The RP-LSH forest above
# is the hash-table analog (fixed sign-bit hyperplanes); this card is
# the literal algorithm — data-DEPENDENT median splits, so every leaf
# holds exactly corpus/2^depth vectors regardless of the distribution
# (the property sign-bit buckets lack under skew). Spark-first shape:
# projections in one Arrow-batched kernel (dim-order left-fold == the
# SQL list_sum, the _forest_keys_numpy precedent), then D rounds of
# window rank-median per (tree, node) — the recursion becomes D
# sequential (tree, node)-keyed windows over an N x T key frame, and
# query-leaf lookup is the same (t, leaf) equi-join as the forest. At
# 100 TB the build amortizes exactly like the persisted forest store
# (leaves written bucketed by (t, leaf) once); depth grows with
# log2(corpus/leaf_target), keeping probe cost flat.
N_TREES_RPT = 16
DEPTH_RPT = 3


def _rpt_plane_sql(t_expr: str, lvl: int) -> str:
    return f"(1000 + ({t_expr} - 1) * {DEPTH_RPT} + {lvl})"


def _rpt_proj_sql(embedding: str, t_expr: str, lvl: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({embedding})), "
        f"i -> CAST({embedding}[i] AS DOUBLE) * "
        f"{_weight_sql(_rpt_plane_sql(t_expr, lvl), 'i')}))"
    )


def _rpt_level_sql(lvl: int) -> str:
    """Two CTE stages for one median split: rank within (t, node), then
    threshold = the LOWER-MEDIAN element (rank (cnt+1)//2 — an exact
    member of the projection multiset, so both engines compare the same
    double; > goes right, ties left)."""
    prev = f"l{lvl - 1}" if lvl > 1 else "p0"
    keep = ", ".join(f"p{j}" for j in range(lvl + 1, DEPTH_RPT + 1))
    keep = (keep + ", ") if keep else ""
    return f"""
r{lvl} AS (
    SELECT *, row_number() OVER (PARTITION BY t, node ORDER BY p{lvl}, vec_id) AS rk,
        count(*) OVER (PARTITION BY t, node) AS cnt
    FROM {prev}
),
s{lvl} AS (
    SELECT *, max(CASE WHEN rk = (cnt + 1) // 2 THEN p{lvl} END)
        OVER (PARTITION BY t, node) AS thr
    FROM r{lvl}
),
l{lvl} AS (
    SELECT vec_id, t, {keep}
        node * 2 + CASE WHEN p{lvl} > thr THEN 1 ELSE 0 END AS node
    FROM s{lvl}
)"""


_RPT_SQL = f"""
WITH p0 AS (
    SELECT e.vec_id, tr.t,
        {", ".join(f"{_rpt_proj_sql('e.embedding', 'tr.t', l)} AS p{l}" for l in range(1, DEPTH_RPT + 1))},
        0 AS node
    FROM embeddings e
    CROSS JOIN (SELECT unnest(generate_series(1, {N_TREES_RPT})) AS t) tr
),
{", ".join(_rpt_level_sql(l).strip() for l in range(1, DEPTH_RPT + 1))},
cand AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM l{DEPTH_RPT} q JOIN l{DEPTH_RPT} c ON q.t = c.t AND q.node = c.node
    WHERE q.vec_id % 100 = 0
    GROUP BY 1, 2
),
resc AS (
    SELECT cand.query_id, cand.neighbor_id,
        sqrt(list_sum(list_transform(generate_series(1, len(qe.embedding)),
            i -> (CAST(qe.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE))
               * (CAST(qe.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE)))))
            AS distance
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM resc
QUALIFY "rank" <= 10
"""


# Per-leaf occupancy target behind the AUTO-SIZED tree depth (r14, the
# forest_planes_for twin executed for the tree structure): leaf size =
# corpus / 2^depth exactly (median splits balance), so depth must grow
# with log2(corpus) or the leaf-union candidate frame blows up a decade
# later — the r14 probe at the fixed depth 3 put 25k vectors in every
# leaf at 200k corpus and the candidate broadcast with it. The target
# is 64 so the formula resolves to exactly the oracle-pinned depth 3
# for every corpus up to 512 vectors (both driver gate SFs: 500) — the
# depth-3 oracle SQL stays verbatim and keeps hash-matching at the
# gate, while bigger corpora split deeper automatically. Plane ids are
# 1000 + (t-1)*depth + lvl, disjoint per tree at ANY depth and equal to
# the historical ids at the default.
_RPT_LEAF_TARGET = 64


def rpt_depth_for(n_rows: int) -> int:
    """Occupancy-derived tree depth: max(default, ceil(log2(n/64)))."""
    import math

    if n_rows <= 0:
        return DEPTH_RPT
    return max(
        DEPTH_RPT,
        math.ceil(math.log2(max(1.0, n_rows / _RPT_LEAF_TARGET))),
    )


def _rpt_leaves(spark, sf_dir, depth: int | None = None):
    """(vec_id, t, node) leaf assignment for every vector under the
    {N_TREES_RPT}-tree median-split forest at the given depth (default:
    auto-sized from the corpus count, oracle-pinned 3 at gate SFs).
    Projections come from one mapInPandas kernel (dim-order float64
    accumulation from 0.0 — bit-identical to the oracle's list_sum left
    fold); each split level is a (t, node)-keyed rank window whose
    threshold is the lower-median ELEMENT, so both engines branch on
    exactly the same double."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    if depth is None:
        depth = rpt_depth_for(parquet_rows(f"{sf_dir}/embeddings.parquet"))
    DEPTH = depth

    def proj_rows(batches):
        w = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            dim = m.shape[1]
            if w is None or w.shape[2] != dim:
                w = np.array(
                    [
                        [
                            [
                                _weight_py(
                                    1000 + (t - 1) * DEPTH + lvl, i
                                )
                                for i in range(1, dim + 1)
                            ]
                            for lvl in range(1, DEPTH + 1)
                        ]
                        for t in range(1, N_TREES_RPT + 1)
                    ],
                    dtype=np.float64,
                )
            n = len(pdf)
            proj = np.zeros((n, N_TREES_RPT, DEPTH))
            for i in range(dim):
                proj += m[:, i, None, None] * w[None, :, :, i]
            ids = pdf["vec_id"].to_numpy()
            out = {
                "vec_id": np.repeat(ids, N_TREES_RPT),
                "t": np.tile(
                    np.arange(1, N_TREES_RPT + 1, dtype=np.int32), n
                ),
            }
            for lvl in range(DEPTH):
                out[f"p{lvl + 1}"] = proj[:, :, lvl].reshape(-1)
            yield pd.DataFrame(out)

    schema = "vec_id bigint, t int, " + ", ".join(
        f"p{l} double" for l in range(1, DEPTH + 1)
    )
    df = emb.select("vec_id", "embedding").mapInPandas(
        proj_rows, schema
    ).withColumn("node", F.lit(0))
    for lvl in range(1, DEPTH + 1):
        w_rank = Window.partitionBy("t", "node").orderBy(f"p{lvl}", "vec_id")
        w_node = Window.partitionBy("t", "node")
        df = (
            df.withColumn("rk", F.row_number().over(w_rank))
            .withColumn("cnt", F.count(F.lit(1)).over(w_node))
            .withColumn(
                "thr",
                F.max(
                    F.when(
                        F.col("rk") == F.expr("(cnt + 1) DIV 2"),
                        F.col(f"p{lvl}"),
                    )
                ).over(w_node),
            )
            .withColumn(
                "node",
                F.col("node") * 2
                + F.when(F.col(f"p{lvl}") > F.col("thr"), 1).otherwise(0),
            )
            .drop("rk", "cnt", "thr", f"p{lvl}")
        )
    return df.select("vec_id", "t", "node")


def _rpt_candidates(spark, sf_dir):
    """(query_id, neighbor_id): the vectors that share a leaf with a query
    (``vec_id % 100 == 0``) in some tree. The leaf frame (mapInPandas
    projection + DEPTH rank-window levels) feeds BOTH sides of this
    self-join, so it is persisted once per session and fixture and shared
    by both RP-tree entries (captured plan unmaterialized: 4 MapInPandas /
    8 parquet scans). The persist is lazy: building a plan runs no job."""
    leaves = caching.memo_persist(
        spark, ("rpt_leaves", sf_dir), lambda: _rpt_leaves(spark, sf_dir)
    )
    qleaves = leaves.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "t", "node"
    )
    return (
        qleaves.join(
            leaves.select(F.col("vec_id").alias("neighbor_id"), "t", "node"),
            ["t", "node"],
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )


@register("rp_tree_forest_topk", sql=_RPT_SQL)
def rp_tree_forest_topk(spark, sf_dir):
    """{N_TREES_RPT} recursive median-split random-projection trees (the
    literal ann.rs:254 / `vector`-crate structure), depth {DEPTH_RPT}:
    candidates = union of the query's leaf across trees (a (t, leaf)
    equi-join on the balanced leaf frame, :func:`_rpt_candidates`),
    exact re-rank top-10. Depth is the occupancy lever — it grows with
    log2(corpus/leaf_target) at scale; measured recall@10 vs exact:
    0.92 sf0.001 / 0.86 sf0.01."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = _rpt_candidates(spark, sf_dir)
    qvecs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    rescored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            vectors.euclidean(F.col("qvec"), F.col("embedding")).alias(
                "distance"
            ),
        )
    )
    w_r = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w_r))
        .where(F.col("rank") <= 10)
    )


# ---------------------------------- filtered approximate kNN (r14)
# The reference's POST-FILTER retrieval mode composed with its literal
# ANN structure (hyde.rs:500-519: over-fetch k*2 from the index, apply
# the metadata filter AFTER retrieval, truncate to k — possibly fewer
# than k survivors): candidates come from the 16-tree RP forest's leaf
# union, the exact re-rank keeps the top 2k, and only then does the
# label predicate run — the approximate sibling of hard_negatives_topk
# (which pushes the same predicate INTO exact candidate generation) and
# the ANN face of O2/O3. Scale shape is rp_tree_forest_topk's plus one
# broadcast of the tiny per-query label: leaf equi-join, bounded 2k
# over-fetch per query, codegen'd filter, WindowGroupLimit truncate —
# the corpus still never shuffles on anything but the (t, leaf) key.
_RPT_FILTER_K = 10


def _rpt_filtered_sql() -> str:
    projs = ", ".join(
        f"{_rpt_proj_sql('e.embedding', 'tr.t', lv)} AS p{lv}"
        for lv in range(1, DEPTH_RPT + 1)
    )
    levels = ", ".join(
        _rpt_level_sql(lv).strip() for lv in range(1, DEPTH_RPT + 1)
    )
    k = _RPT_FILTER_K
    return f"""
WITH p0 AS (
    SELECT e.vec_id, tr.t,
        {projs},
        0 AS node
    FROM embeddings e
    CROSS JOIN (SELECT unnest(generate_series(1, {N_TREES_RPT})) AS t) tr
),
{levels},
cand AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM l{DEPTH_RPT} q JOIN l{DEPTH_RPT} c ON q.t = c.t AND q.node = c.node
    WHERE q.vec_id % 100 = 0
    GROUP BY 1, 2
),
resc AS (
    SELECT cand.query_id, cand.neighbor_id,
        qe.label AS query_label, ce.label AS label,
        sqrt(list_sum(list_transform(generate_series(1, len(qe.embedding)),
            i -> (CAST(qe.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE))
               * (CAST(qe.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE)))))
            AS distance
    FROM cand
    JOIN embeddings qe ON qe.vec_id = cand.query_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
),
fetched AS (
    SELECT *
    FROM resc
    QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) <= {2 * k}
)
SELECT query_id, neighbor_id, label, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM fetched
WHERE label <> query_label
QUALIFY "rank" <= {k}
"""


@register("rp_tree_filtered_topk", sql=_rpt_filtered_sql())
def rp_tree_filtered_topk(spark, sf_dir):
    """Post-filter mode over the RP-tree forest (module comment above):
    leaf-union candidates -> exact re-rank -> top-2k over-fetch ->
    label-mismatch filter -> truncate k. Reference: hyde.rs:500-519
    (over-fetch + post-filter), ann.rs:254 (the forest)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = _rpt_candidates(spark, sf_dir)
    qvecs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("query_label"),
    )
    rescored = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"), "embedding", "label"
        )
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "label",
            "query_label",
            vectors.euclidean(F.col("qvec"), F.col("embedding")).alias(
                "distance"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    k = _RPT_FILTER_K
    fetched = (
        rescored.withColumn("fetch_rank", F.row_number().over(w))
        .where(F.col("fetch_rank") <= 2 * k)
        .drop("fetch_rank")
    )
    return (
        fetched.where(F.col("label") != F.col("query_label"))
        .drop("query_label")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
