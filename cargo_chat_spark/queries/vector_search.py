"""Vector-search correctness queries (SURVEY §2.4 J1/J3, §2.5 O1-O3).

Deterministic query set: embeddings rows with ``vec_id % 100 == 0`` act as
query vectors against the full embeddings corpus — exact Euclidean top-k
with (distance, neighbor_id) total order, mirroring ann.rs:252-268 semantics
in exact mode (SURVEY §7 risk register pins exact as the checkable
contract).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.functions import vectors
from cargo_chat_spark.operators.knn import knn_join
from cargo_chat_spark.sources.testdata import load_table
from cargo_chat_spark.queries.registry import register


# Left-fold sum over element index keeps float accumulation order identical
# to Spark's aggregate(zip_with(...)) expression.
_EUCLID = """
    sqrt(list_sum(list_transform(
        generate_series(1, len(e.embedding)),
        i -> (CAST(q.query_vec[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
           * (CAST(q.query_vec[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
    )))
"""

_KNN_SQL = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS query_vec
    FROM embeddings WHERE vec_id % 100 = 0
),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id, {_EUCLID} AS distance
    FROM embeddings e CROSS JOIN q
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


def _query_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.where((F.col("vec_id") % 100) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@register("knn_exact", sql=_KNN_SQL)
def knn_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(_query_vectors(spark, sf_dir), emb, k=10)


_KNN_OVERFETCH_SQL = _KNN_SQL.replace('"rank" <= 10', '"rank" <= 20')


@register("knn_overfetch_2k", sql=_KNN_OVERFETCH_SQL)
def knn_overfetch_2k(spark, sf_dir):
    """Reference-mode k*2 over-fetch before filtering (hyde.rs:500)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(_query_vectors(spark, sf_dir), emb, 2 * 10)


# ------------------------------------------------- int8-quantized kNN + re-rank
# The 100 TB memory/bandwidth lever: store the corpus as int8 (4x smaller
# than float32, 8x than float64), scan candidates in the integer domain,
# re-rank only the short list at full precision. Symmetric GLOBAL-scale
# quantization (one scale for the whole corpus, gscale = max|x|/127) keeps
# the candidate metric PURE INTEGER — sum((qa-qb)^2) is exact in any engine,
# so candidate selection is deterministic and oracle-checkable, unlike
# per-vector-scale schemes whose float mixing reintroduces rounding drift.
# floor(x/gscale + 0.5) is the portable round-half-up (Spark round() and
# DuckDB round() disagree on tie direction in general).
_QUANT_CAND = 32  # candidates per query entering the exact re-rank

_KNN_INT8_SQL = f"""
WITH g AS (
    SELECT max(list_max(list_transform(embedding,
        x -> abs(CAST(x AS DOUBLE))))) / 127.0 AS gscale
    FROM embeddings
),
quant AS (
    -- gscale joined in as a column: DuckDB lambdas can capture row columns
    -- but not subqueries
    SELECT vec_id, embedding,
        list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) / gscale + 0.5) AS BIGINT)) AS q
    FROM embeddings CROSS JOIN g
),
qq AS (
    SELECT vec_id AS query_id, embedding AS qvec, q AS qq
    FROM quant WHERE vec_id % 100 = 0
),
cand AS (
    SELECT qq.query_id, qq.qvec, c.vec_id AS neighbor_id, c.embedding,
        list_sum(list_transform(generate_series(1, len(qq.qq)),
            i -> (qq.qq[i] - c.q[i]) * (qq.qq[i] - c.q[i]))) AS qdist
    FROM quant c CROSS JOIN qq
),
shortlist AS (
    SELECT query_id, qvec, neighbor_id, embedding,
        row_number() OVER (
            PARTITION BY query_id ORDER BY qdist, neighbor_id
        ) AS qr
    FROM cand
),
rescored AS (
    SELECT query_id, neighbor_id,
        sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
            i -> (CAST(qvec[i] AS DOUBLE) - CAST(embedding[i] AS DOUBLE))
               * (CAST(qvec[i] AS DOUBLE) - CAST(embedding[i] AS DOUBLE)))))
            AS distance
    FROM shortlist WHERE qr <= {_QUANT_CAND}
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM rescored
QUALIFY "rank" <= 10
"""


@register("knn_int8_rerank", sql=_KNN_INT8_SQL)
def knn_int8_rerank(spark, sf_dir):
    """Quantize → integer-distance shortlist ({_QUANT_CAND}/query) → exact
    re-rank top-10. The global scale is a bounded driver scalar (like the
    k-means centroids); quantized vectors would be the stored form at scale
    (4x less scan bandwidth), with the float originals read only for the
    shortlist.

    Physical strategy (r13 rework — the r12 keys-only rework was
    scale-right but paid 5 corpus scans + a per-pair JVM lambda at
    fixture scale): ONE aggregate pass computes gscale and one collect
    brings the query set (every 100th vector: 5-20 rows on the
    fixtures) to the driver, then ONE mapInPandas pass quantizes each
    Arrow batch in NumPy and emits the local integer top-{_QUANT_CAND}
    per query via an exact float64 GEMM
    (|q|^2+|c|^2-2qc; every intermediate < 2^53, so bit-exact vs the
    oracle's BIGINT arithmetic). The shuffle then carries only
    O(partitions x |Q| x {_QUANT_CAND}) key rows; floats re-attach by
    broadcasting the pruned shortlist back onto one corpus scan (the
    r12 payload-slimming rule kept — the corpus itself never shuffles).
    There is no bounded form for a query set too large for the driver:
    as with ``knn_join``, such a set is blocked by the caller.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    is_q = F.col("vec_id") % 100 == 0
    gscale = float(emb.agg(F.max(absmax)).first()[0]) / 127.0
    qrows = (
        emb.where(is_q)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    qmat = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    qq = np.floor(qmat / gscale + 0.5)  # float64 holds the exact ints
    qq_sq = (qq * qq).sum(axis=1)
    bc = spark.sparkContext.broadcast((qids, qq, qq_sq))

    def local_topk(batches):
        bqids, bqq, bqq_sq = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            cq = np.floor(cmat / gscale + 0.5)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            # exact integer distances via float64 GEMM: values bounded by
            # dim * 254^2 << 2^53, so the BLAS path loses nothing
            d2 = bqq_sq[:, None] + (cq * cq).sum(axis=1)[None, :] - 2.0 * (
                bqq @ cq.T
            )
            keep = min(_QUANT_CAND, d2.shape[1])
            out = {"query_id": [], "neighbor_id": [], "qdist": []}
            for qi in range(len(bqids)):
                order = np.lexsort((ids, d2[qi]))[:keep]
                out["query_id"].extend([bqids[qi]] * keep)
                out["neighbor_id"].extend(ids[order])
                out["qdist"].extend(d2[qi, order].astype(np.int64))
            yield pd.DataFrame(out)

    local = emb.select("vec_id", "embedding").mapInPandas(
        local_topk, "query_id bigint, neighbor_id bigint, qdist bigint"
    )
    w_q = Window.partitionBy("query_id").orderBy("qdist", "neighbor_id")
    shortlist = (
        local.withColumn("qr", F.row_number().over(w_q))
        .where(F.col("qr") <= _QUANT_CAND)
        .select("query_id", "neighbor_id")
    )
    from cargo_chat_spark.functions import vectors

    qvecs = local_frame(spark, 
        [(int(r["query_id"]), r["embedding"]) for r in qrows],
        "query_id bigint, qvec array<float>",
    )
    rescored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .join(F.broadcast(shortlist), "neighbor_id")
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


# ------------------------------------------- S4/S6 index persistence roundtrip
# Oracle: the roundtrip must be the identity over the embeddings fixture.
# Float arrays aren't hashable cells for the harness, so both sides emit the
# vector as '|'-joined fixed-point micro-units (floor(x*1e6) in DOUBLE) —
# float→double widening is exact, parquet double roundtrip is exact, so the
# integers agree iff write_index∘read_index preserved every value.
_ROUNDTRIP_SQL = """
SELECT vec_id AS chunk_id,
       CAST(len(embedding) AS INT) AS dim,
       array_to_string(list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), '|') AS emb_fp
FROM embeddings
"""


@register("index_roundtrip", sql=_ROUNDTRIP_SQL)
def index_roundtrip(spark, sf_dir):
    """S6→S4 parity gate (sources/index_io.py): persist the embeddings
    fixture through write_index, load it back with read_index (which
    re-validates dim like ann.rs:128-161), and emit every value. A lost row,
    reordered column, or perturbed float shows up as a hash mismatch against
    the identity oracle."""
    import os
    import tempfile

    from cargo_chat_spark.sources.index_io import read_index, write_index

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    idx = emb.select(
        F.col("vec_id").alias("chunk_id"),
        F.concat(F.lit("vec_"), F.col("vec_id"), F.lit(".txt")).alias("file"),
        F.col("label").cast("string").alias("code"),
        F.lit("text").alias("language"),
        F.lit("txt").alias("extension"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    # PID-keyed dir: stable across repeated catalog runs in one process
    # (write_index overwrites), but two concurrent runs (parallel pytest
    # workers, driver alongside local tests) never race on the same path.
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"ccs_index_roundtrip_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{os.getpid()}",
    )
    write_index(idx, out_dir, dim)
    back, meta = read_index(spark, out_dir)
    assert meta["dim"] == dim
    fp = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x * F.lit(1000000.0)).cast("bigint"),
    )
    return back.select(
        "chunk_id",
        F.size("embedding").alias("dim"),
        F.array_join(fp.cast("array<string>"), "|").alias("emb_fp"),
    )


# ------------------------------------------------- per-label centroid pooling
# Group-wise embedding aggregation — the pooling primitive behind class
# centroids, per-cluster summaries, and mean-pooled doc embeddings. The
# only operator family that AGGREGATES array columns (everything else
# scores or buckets them), so its machinery gets its own gate: posexplode
# to (label, dim_pos, value), one hash aggregate, then reassembly into
# dim order. Cross-engine exactness: doubles are fixed-pointed FIRST
# (floor(x*1e6) — exact integers), summed exactly (integer addition is
# associative, so shuffle/accumulation order cannot matter), and the mean
# is integer division (x div n) — every step identical in both engines,
# no float reduction anywhere. Scale: explode is map-side (rows x dim,
# narrow), the shuffle carries (labels x dim) partial sums after map-side
# combine — the same shape as any wide aggregate.
_CENTROID_SQL = """
WITH exploded AS (
    SELECT label, i AS pos,
        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
),
sums AS (
    SELECT label, pos, SUM(v) AS s, COUNT(*) AS n
    FROM exploded GROUP BY label, pos
)
SELECT label,
    CAST(MIN(n) AS BIGINT) AS n_vectors,
    array_to_string(list(CAST(s // n AS VARCHAR) ORDER BY pos), '|')
        AS centroid_fp
FROM sums
GROUP BY label
"""


@register("label_centroids", sql=_CENTROID_SQL)
def label_centroids(spark, sf_dir):
    """Mean embedding per label in exact fixed-point (see note above);
    centroid serialized as '|'-joined per-dim integers (floor(x*1e6),
    floor-divided by the group count)."""
    emb = load_table(spark, sf_dir, "embeddings")
    expl = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x") * 1000000).cast("bigint").alias("v"),
    )
    sums = expl.groupBy("label", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    per_dim = sums.select(
        "label", "pos", F.expr("s div n").alias("m"), "n"
    )
    return per_dim.groupBy("label").agg(
        F.min("n").cast("bigint").alias("n_vectors"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ),
                lambda st: st.getField("m").cast("string"),
            ),
            "|",
        ).alias("centroid_fp"),
    )


# ------------------------------------- product-quantized kNN + exact re-rank
# The memory lever BEYOND int8: PQ stores each vector as M=8 one-byte
# codes (8 bytes vs 256 B float32 — 32×), the compression regime where a
# 100 TB vector corpus's candidate scan fits in executor RAM. Codebooks
# are FROZEN literals trained ONCE per 8-dim subspace
# (queries/_pq_codebooks.py — deterministic k-means|| + Lloyd's on the
# sf0.01 slices) and rendered identically into both engines (the
# ivf_topk_trained pattern). An earlier cut derived the codebooks from
# the IVF centroids' slices instead — recall@10 was 0.54 because the 32
# rows of one 64-dim codebook are heavily correlated ACROSS subspaces;
# independent per-subspace training plus re-rank depth 64 (the standard
# PQ knob — deeper than int8's 32 because the 32x-lossier approx
# ordering needs more exact-verify headroom) lifts it to 0.82 in-domain
# at sf0.01 (0.66 out-of-domain at sf0.001).
#
# Search uses the asymmetric distance ||q - recon(v)||² where recon
# concatenates the code's sub-centroids. Production ADC evaluates the
# same sum via per-subspace lookup tables; reconstruction is the
# algebraically identical form both engines can share fold-order-exact.
# Shortlist 32/query on approx distance, exact re-rank to top-10 —
# the knn_int8_rerank two-stage contract at 32× (vs 4×) compression.
_PQ_M = 8
_PQ_SUB = 8
_PQ_NCODES = 32
_PQ_SHORTLIST = 64


def _pq_codebooks() -> list[list[list[float]]]:
    from cargo_chat_spark.queries._pq_codebooks import PQ_CODEBOOKS

    return PQ_CODEBOOKS


def _pq_sql() -> str:
    cbs = _pq_codebooks()
    cb_rows = ", ".join(
        f"({s}, {c}, [" + ", ".join(repr(x) for x in cbs[s][c]) + "])"
        for s in range(_PQ_M)
        for c in range(_PQ_NCODES)
    )
    sq64 = """sqrt(list_sum(list_transform(generate_series(1, 64),
            i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
               * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))))"""
    return f"""
WITH cb AS (
    SELECT * FROM (VALUES {cb_rows}) AS t(s, c, sub)
),
subdists AS (
    SELECT e.vec_id, cb.s, cb.c,
        list_sum(list_transform(generate_series(1, {_PQ_SUB}),
            j -> (CAST(e.embedding[cb.s * {_PQ_SUB} + j] AS DOUBLE) - cb.sub[j])
               * (CAST(e.embedding[cb.s * {_PQ_SUB} + j] AS DOUBLE) - cb.sub[j])))
            AS sd
    FROM embeddings e CROSS JOIN cb
),
codes AS (
    SELECT vec_id, s, c FROM subdists
    QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY sd, c) = 1
),
recon AS (
    SELECT codes.vec_id, flatten(list(cb.sub ORDER BY cb.s)) AS rvec
    FROM codes JOIN cb ON cb.s = codes.s AND cb.c = codes.c
    GROUP BY codes.vec_id
),
queries AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id % 100 = 0
),
shortlist AS (
    SELECT q.query_id, r.vec_id AS neighbor_id
    FROM recon r CROSS JOIN queries q
    QUALIFY row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY {sq64.format(a="q.qvec", b="r.rvec")}, r.vec_id
    ) <= {_PQ_SHORTLIST}
),
rescored AS (
    SELECT sl.query_id, sl.neighbor_id,
        {sq64.format(a="q.qvec", b="e.embedding")} AS distance
    FROM shortlist sl
    JOIN queries q USING (query_id)
    JOIN embeddings e ON e.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM rescored
QUALIFY "rank" <= 10
"""


@register("pq_knn_rerank", sql=_pq_sql())
def pq_knn_rerank(spark, sf_dir):
    """PQ-encode the corpus (Arrow/NumPy kernel, dim-ascending left-fold
    accumulation = the oracle's list_sum order; argmin first-occurrence =
    lowest code, matching ORDER BY sd, c), reconstruct from the frozen
    codebook literals JVM-side, shortlist {_PQ_SHORTLIST}/query on the
    asymmetric distance with the broadcast-kNN machinery, exact re-rank
    top-10. Narrow encode map — no shuffle, no collect; at scale the
    codes column IS the stored index (8 B/vector)."""
    import numpy as np

    from cargo_chat_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    cb_arr = np.asarray(_pq_codebooks(), dtype=np.float64)  # (M, NCODES, SUB)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            codes = np.empty((len(pdf), _PQ_M), dtype=np.int32)
            for s in range(_PQ_M):
                xs = x[:, s * _PQ_SUB : (s + 1) * _PQ_SUB]
                acc = np.zeros((len(pdf), _PQ_NCODES), dtype=np.float64)
                for j in range(_PQ_SUB):
                    d = xs[:, j : j + 1] - cb_arr[s, :, j][None, :]
                    acc += d * d
                codes[:, s] = np.argmin(acc, axis=1)
            # r14: reconstruct IN the kernel — rvec elements are exact
            # copies of the frozen codebook doubles (no arithmetic), so
            # this is bit-identical to the former 16k-literal
            # element_at expression, whose parse+analyze cost dominated
            # the driver gap profiled for the PQ queries. At scale the
            # stored index is still the codes (8 B/vector); decoding at
            # scan time is the same work either way.
            rv = cb_arr[np.arange(_PQ_M)[None, :], codes, :]
            yield pdf[["vec_id"]].assign(
                rvec=list(rv.reshape(len(pdf), _PQ_M * _PQ_SUB))
            )

    recon = emb.mapInPandas(encode, schema="vec_id bigint, rvec array<double>")
    queries = _query_vectors(spark, sf_dir)
    short = knn_join(
        queries, recon, k=_PQ_SHORTLIST, corpus_vec="rvec"
    ).select("query_id", "neighbor_id")

    from pyspark.sql import Window

    from cargo_chat_spark.functions import vectors

    rescored = (
        short.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            vectors.euclidean(F.col("query_vec"), F.col("embedding")).alias(
                "distance"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )


# --------------------------------------------------- IVF-PQ composition
# The production ANN index shape (FAISS IVFPQ): coarse cell pruning
# (probe nprobe of ncells — scan 1/4 of the corpus) COMPOSED with PQ
# compression (approx distances on 8-byte codes — the scanned quarter is
# 32x smaller in memory), then exact re-rank of the survivors. Both
# stages reuse their individually-gated frozen artifacts
# (_ivf_centroids.py, _pq_codebooks.py), and the full pipeline —
# assign -> encode -> probe -> ADC shortlist -> exact top-10 — carries a
# single value-hash oracle, so the COMPOSITION itself is what this gate
# pins. At 100 TB: cell_id is the partition column, codes are the
# in-memory scan artifact, raw vectors are fetched only for the
# shortlist (64 rows/query).
def _ivfpq_sql() -> str:
    from cargo_chat_spark.queries.similarity import (
        _N_ASSIGN_TRAINED,
        _N_PROBE_TRAINED,
        _cent_values_sql,
    )

    cbs = _pq_codebooks()
    cb_rows = ", ".join(
        f"({s}, {c}, [" + ", ".join(repr(x) for x in cbs[s][c]) + "])"
        for s in range(_PQ_M)
        for c in range(_PQ_NCODES)
    )
    sq = """list_sum(list_transform(generate_series(1, len({a})),
            i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
               * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"""
    sq64 = """sqrt(list_sum(list_transform(generate_series(1, 64),
            i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
               * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))))"""
    return f"""
WITH centroids AS (
    SELECT * FROM (VALUES {_cent_values_sql()}) AS t(cell_id, cvec)
),
cb AS (
    SELECT * FROM (VALUES {cb_rows}) AS t(s, c, sub)
),
assigned AS (
    SELECT b.vec_id, b.embedding, a.cell_id,
        row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY {sq.format(a="a.cvec", b="b.embedding")}, a.cell_id
        ) AS cr
    FROM embeddings b CROSS JOIN centroids a
),
cells AS (
    SELECT vec_id, cell_id FROM assigned WHERE cr <= {_N_ASSIGN_TRAINED}
),
subdists AS (
    SELECT e.vec_id, cb.s, cb.c,
        list_sum(list_transform(generate_series(1, {_PQ_SUB}),
            j -> (CAST(e.embedding[cb.s * {_PQ_SUB} + j] AS DOUBLE) - cb.sub[j])
               * (CAST(e.embedding[cb.s * {_PQ_SUB} + j] AS DOUBLE) - cb.sub[j])))
            AS sd
    FROM embeddings e CROSS JOIN cb
),
codes AS (
    SELECT vec_id, s, c FROM subdists
    QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY sd, c) = 1
),
recon AS (
    SELECT codes.vec_id, flatten(list(cb.sub ORDER BY cb.s)) AS rvec
    FROM codes JOIN cb ON cb.s = codes.s AND cb.c = codes.c
    GROUP BY codes.vec_id
),
queries AS (
    SELECT vec_id AS query_id, embedding AS qvec
    FROM embeddings WHERE vec_id % 100 = 0
),
probes AS (
    SELECT q.query_id, a.cell_id,
        row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY sqrt({sq.format(a="a.cvec", b="q.qvec")}), a.cell_id
        ) AS pr
    FROM queries q CROSS JOIN centroids a
    QUALIFY pr <= {_N_PROBE_TRAINED}
),
cand AS (
    SELECT DISTINCT p.query_id, c.vec_id
    FROM probes p JOIN cells c ON c.cell_id = p.cell_id
),
shortlist AS (
    SELECT cand.query_id, cand.vec_id AS neighbor_id
    FROM cand
    JOIN queries q ON q.query_id = cand.query_id
    JOIN recon r ON r.vec_id = cand.vec_id
    QUALIFY row_number() OVER (
        PARTITION BY cand.query_id
        ORDER BY {sq64.format(a="q.qvec", b="r.rvec")}, cand.vec_id
    ) <= {_PQ_SHORTLIST}
),
rescored AS (
    SELECT sl.query_id, sl.neighbor_id,
        {sq64.format(a="q.qvec", b="e.embedding")} AS distance
    FROM shortlist sl
    JOIN queries q USING (query_id)
    JOIN embeddings e ON e.vec_id = sl.neighbor_id
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM rescored
QUALIFY "rank" <= 10
"""


def _pq_encoded(spark, emb):
    """PQ-encode the corpus (same NumPy kernel/fold order as
    pq_knn_rerank) and reconstruct in-kernel from the frozen codebook
    (exact double copies — bit-identical to the literal expression it
    replaces; see the r14 note in pq_knn_rerank's encode)."""
    import numpy as np

    cb_arr = np.asarray(_pq_codebooks(), dtype=np.float64)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            codes = np.empty((len(pdf), _PQ_M), dtype=np.int32)
            for s in range(_PQ_M):
                xs = x[:, s * _PQ_SUB : (s + 1) * _PQ_SUB]
                acc = np.zeros((len(pdf), _PQ_NCODES), dtype=np.float64)
                for j in range(_PQ_SUB):
                    d = xs[:, j : j + 1] - cb_arr[s, :, j][None, :]
                    acc += d * d
                codes[:, s] = np.argmin(acc, axis=1)
            rv = cb_arr[np.arange(_PQ_M)[None, :], codes, :]
            yield pdf[["vec_id"]].assign(
                rvec=list(rv.reshape(len(pdf), _PQ_M * _PQ_SUB))
            )

    return emb.mapInPandas(encode, schema="vec_id bigint, rvec array<double>")


@register("ivfpq_topk", sql=_ivfpq_sql())
def ivfpq_topk(spark, sf_dir):
    """IVF cell pruning + PQ approximate shortlist + exact re-rank —
    the composed production index, one value-hash oracle end to end."""
    from pyspark.sql import Window

    from cargo_chat_spark.functions import vectors
    from cargo_chat_spark.operators import kmeans
    from cargo_chat_spark.queries.similarity import (
        _N_ASSIGN_TRAINED,
        _N_PROBE_TRAINED,
        _euclid,
    )
    from cargo_chat_spark.queries._ivf_centroids import (
        TRAINED_CENTROIDS,
        TRAINED_DIM,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = vectors.infer_dim(emb, "embedding")
    if dim != TRAINED_DIM:
        raise ValueError(
            f"frozen centroids are dim {TRAINED_DIM}, corpus is dim {dim}"
        )
    cells = kmeans.assign_cells(
        emb, TRAINED_CENTROIDS, dim=dim, n_assign=_N_ASSIGN_TRAINED
    ).select("vec_id", "cell_id")
    recon = _pq_encoded(spark, emb)
    queries = _query_vectors(spark, sf_dir)

    cent_rows = local_frame(spark, 
        [(i, c) for i, c in enumerate(TRAINED_CENTROIDS)],
        "cell_id int, cvec array<double>",
    )
    w_probe = Window.partitionBy("query_id").orderBy("cdist", "cell_id")
    probes = (
        queries.crossJoin(F.broadcast(cent_rows))
        .withColumn("cdist", _euclid(F.col("cvec"), F.col("query_vec")))
        .withColumn("pr", F.row_number().over(w_probe))
        .where(F.col("pr") <= _N_PROBE_TRAINED)
        .select("query_id", "cell_id")
    )
    cand = (
        cells.join(F.broadcast(probes), "cell_id")
        .select("query_id", "vec_id")
        .distinct()
    )
    adist = F.expr(
        vectors.euclidean_fixed_sql("`query_vec`", "`rvec`", 64)
    )
    w_short = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    short = (
        cand.join(recon, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", adist.alias("adist"))
        .withColumn("sr", F.row_number().over(w_short))
        .where(F.col("sr") <= _PQ_SHORTLIST)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    rescored = (
        short.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            vectors.euclidean(F.col("query_vec"), F.col("embedding")).alias(
                "distance"
            ),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= 10)
    )


# ------------------------------------- S4 interop: reference index.bin import
# Round-6 gate closing the last S4 seam: sources/index_cells.import_reference_
# index reads the reference's single-JSON ``index.bin`` layout
# (main.rs:365-368 parallel arrays, ann.rs:165-172) into the parquet index.
# The fixture is BUILT from the embeddings table itself (first N rows by
# vec_id, rendered driver-side into the reference layout), so the oracle can
# verify the migration end-to-end against the source data: a dropped row, a
# misaligned metadata/vector zip, or a float perturbed by the JSON round trip
# all break the fixed-point value hash. N is migration-fixture bounded (the
# reference's whole index is one JSON blob — driver-side by construction).
_IMPORT_N = 200

_IMPORT_SQL = f"""
WITH src AS (
    SELECT vec_id, label, embedding,
           ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS chunk_id
    FROM embeddings
    WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_IMPORT_N})
)
SELECT chunk_id,
       'vec_' || CAST(vec_id AS VARCHAR) || '.txt' AS file,
       CAST(label AS VARCHAR) AS code,
       'text' AS language,
       'txt' AS extension,
       CAST(len(embedding) AS INT) AS dim,
       array_to_string(list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), '|') AS emb_fp
FROM src
"""


@register("index_import_reference", sql=_IMPORT_SQL)
def index_import_reference(spark, sf_dir):
    """S4 interop gate: render the first N embeddings rows into the
    reference's index.bin JSON layout, import via import_reference_index
    (dim sniff + length checks per ann.rs:128-161, positional chunk ids),
    and emit every imported value fixed-point — identity vs the source
    table proves the migration path lossless."""
    import json
    import os
    import tempfile

    from cargo_chat_spark.sources.index_cells import import_reference_index

    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.orderBy("vec_id").limit(_IMPORT_N).collect()  # fixture-bounded
    blob = {
        "index": {"kind": "reference"},
        "vectors": [[float(x) for x in r["embedding"]] for r in src],
        "metadata": [
            {
                "file": f"vec_{r['vec_id']}.txt",
                "code": str(r["label"]),
                "language": "text",
                "extension": "txt",
            }
            for r in src
        ],
    }
    base = os.path.join(
        tempfile.gettempdir(),
        f"ccs_index_import_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{os.getpid()}",
    )
    os.makedirs(base, exist_ok=True)
    bin_path = os.path.join(base, "index.bin")
    with open(bin_path, "w", encoding="utf-8") as fh:
        json.dump(blob, fh)
    imported, meta = import_reference_index(
        spark, bin_path, os.path.join(base, "imported")
    )
    assert meta["dim"] == len(src[0]["embedding"])
    fp = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x * F.lit(1000000.0)).cast("bigint"),
    )
    return imported.select(
        "chunk_id",
        "file",
        "code",
        "language",
        "extension",
        F.size("embedding").alias("dim"),
        F.array_join(fp.cast("array<string>"), "|").alias("emb_fp"),
    )


# --------------------------------- incremental IVF index maintenance
# Round-6 gate for sources/index_cells.upsert_index_cells: a training-corpus
# index is never static — new/changed vectors must land WITHOUT rewriting
# the table. Fixture: build the cell-partitioned index from vec_id < 400,
# then upsert vec_id >= 350 with NEGATED embeddings (ids 350-399 are true
# in-place updates whose new vector may move cells; 400-499 are inserts).
# The oracle states the expected FINAL table directly from the source
# data, so a lost row, a stale pre-update survivor, a duplicate across
# cells, or a perturbed float is a value/row mismatch. Cell layout is an
# implementation detail the values never depend on; the physical
# only-touched-partitions / moved-cell / emptied-cell behaviors are
# pinned by tests/test_partitioned_index.py.
_UPSERT_SQL = """
SELECT vec_id AS chunk_id,
       CAST(len(embedding) AS INT) AS dim,
       array_to_string(list_transform(embedding, x ->
           CAST(floor(CAST(CASE WHEN vec_id >= 350 THEN -x ELSE x END
                           AS DOUBLE) * 1000000) AS BIGINT)), '|') AS emb_fp
FROM embeddings
"""


@register("index_upsert_cells", sql=_UPSERT_SQL)
def index_upsert_cells(spark, sf_dir):
    """Build cell-partitioned index on vec_id<400, upsert negated
    vec_id>=350, emit the final table fixed-point (identity vs the
    expected post-upsert state)."""
    import os
    import tempfile

    from cargo_chat_spark.queries._ivf_centroids import TRAINED_CENTROIDS
    from cargo_chat_spark.sources.index_cells import (
        upsert_index_cells,
        write_index_partitioned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # index dim == centroid dim by construction (assignment distances are
    # only defined when they match, and the upsert's dim gate checks
    # updates against the stored meta) — no need for a dim-sniff job
    dim = len(TRAINED_CENTROIDS[0])
    base = emb.where(F.col("vec_id") < 400).select(
        F.col("vec_id").alias("chunk_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    centroids = local_frame(spark, 
        [(i, c) for i, c in enumerate(TRAINED_CENTROIDS)],
        "cell_id int, cvec array<double>",
    )
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"ccs_index_upsert_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{os.getpid()}",
    )
    write_index_partitioned(base, out_dir, dim, centroids)
    updates = emb.where(F.col("vec_id") >= 350).select(
        F.col("vec_id").alias("chunk_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: -x
        ).alias("embedding"),
    )
    upsert_index_cells(spark, out_dir, updates)
    back = spark.read.parquet(os.path.join(out_dir, "index"))
    fp = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x * F.lit(1000000.0)).cast("bigint"),
    )
    return back.select(
        "chunk_id",
        F.size("embedding").alias("dim"),
        F.array_join(fp.cast("array<string>"), "|").alias("emb_fp"),
    )


# --------------------------------- ANN search over the PERSISTED index
# Ties the index lifecycle together end to end: build the cell-partitioned
# index ON DISK (write_index_partitioned, hard assignment, frozen trained
# centroids), then answer the standard query set by probing nprobe cells
# through read_index_cells — a PARTITION-PRUNED scan of the persisted
# table (PartitionFilters pinned by tests/test_partitioned_index.py), not
# an in-memory frame. This is the production shape at 100 TB: the index
# is a table, queries scan probed-cells/ncells of it. The oracle states
# hard-assigned IVF from the source table, so a row mis-assigned at write
# time, lost in the layout, or probed from the wrong cell is a value
# mismatch. (ivf_topk_trained gates the same technology with SOFT
# assignment on an in-memory frame; this gate covers the persisted path.)
_PERSIST_PROBE = 8

_SQ = """list_sum(list_transform(generate_series(1, len({a})),
        i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
           * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"""


def _persisted_sql() -> str:
    from cargo_chat_spark.queries.similarity import _cent_values_sql

    sq = _SQ
    return f"""
WITH centroids AS (
    SELECT * FROM (VALUES {_cent_values_sql()}) AS t(cell_id, cvec)
),
assigned AS (
    SELECT b.vec_id, b.embedding, a.cell_id,
        row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY sqrt({sq.format(a="a.cvec", b="b.embedding")}), a.cell_id
        ) AS cr
    FROM embeddings b CROSS JOIN centroids a
),
cells AS (
    SELECT vec_id, embedding, cell_id FROM assigned WHERE cr = 1
),
queries AS (
    SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0
),
probes AS (
    SELECT b.query_id, a.cell_id,
        row_number() OVER (
            PARTITION BY b.query_id
            ORDER BY sqrt({sq.format(a="a.cvec", b="b.embedding")}), a.cell_id
        ) AS pr
    FROM queries b CROSS JOIN centroids a
    QUALIFY pr <= {_PERSIST_PROBE}
),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
        sqrt({sq.format(a="q.embedding", b="c.embedding")}) AS distance
    FROM queries q
    JOIN probes p ON p.query_id = q.query_id
    JOIN cells c ON c.cell_id = p.cell_id
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM scored
QUALIFY "rank" <= 10
"""


from cargo_chat_spark.caching import register_memo as _register_memo

_IVF_STORE_MEMO: dict = {}
_register_memo(_IVF_STORE_MEMO)


def _centroids_df(spark):
    from cargo_chat_spark.queries._ivf_centroids import TRAINED_CENTROIDS

    return local_frame(spark, 
        [(i, c) for i, c in enumerate(TRAINED_CENTROIDS)],
        "cell_id int, cvec array<double>",
    )


def _ivf_persisted_fixture(spark, sf_dir) -> str:
    """The persisted cell-partitioned index BUILD (hard-assign + write),
    memoized per (session, sf_dir); returns the index dir. Factored out
    so bench.py can time the one-time build separately from the probe
    (register_phase_builder below)."""
    import os
    import tempfile

    from cargo_chat_spark.functions import vectors
    from cargo_chat_spark.sources.index_cells import write_index_partitioned

    key = ("persisted", spark.sparkContext.applicationId, sf_dir)
    out_dir = _IVF_STORE_MEMO.get(key)
    if out_dir is None:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = vectors.infer_dim(emb, "embedding")
        out_dir = os.path.join(
            tempfile.gettempdir(),
            f"ccs_ivf_persisted_{os.path.basename(os.path.normpath(sf_dir))}"
            f"_{os.getpid()}",
        )
        write_index_partitioned(
            emb.select(
                F.col("vec_id").alias("chunk_id"),
                F.col("embedding").cast("array<double>").alias("embedding"),
            ),
            out_dir,
            dim,
            _centroids_df(spark),
        )
        _IVF_STORE_MEMO[key] = out_dir
    return out_dir


@register("ivf_topk_persisted", sql=_persisted_sql())
def ivf_topk_persisted(spark, sf_dir):
    """IVF top-10 answered from the persisted cell-partitioned index:
    hard-assign + write, probe 8/32 cells per query, partition-pruned
    scan of the probed cells' union, exact rank within candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    out_dir = _ivf_persisted_fixture(spark, sf_dir)
    return _persisted_topk(spark, emb, out_dir, _centroids_df(spark))


def _persisted_topk(spark, emb, out_dir, centroids):
    """Shared query tail over a cell-partitioned on-disk index: probe
    _PERSIST_PROBE cells per standard query, partition-pruned scan of
    the probed union, exact (distance, neighbor_id) rank ≤ 10."""
    from pyspark.sql import Window

    from cargo_chat_spark.functions import vectors
    from cargo_chat_spark.sources.index_cells import read_index_cells

    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    w_probe = Window.partitionBy("query_id").orderBy("cdist", "cell_id")
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("cdist", vectors.euclidean(F.col("cvec"), F.col("qvec")))
        .withColumn("pr", F.row_number().over(w_probe))
        .where(F.col("pr") <= _PERSIST_PROBE)
        .select("query_id", "cell_id")
    )
    probed = sorted(
        r["cell_id"] for r in probes.select("cell_id").distinct().collect()
    )  # bounded by ncells
    idx = read_index_cells(spark, out_dir, probed)
    scored = (
        idx.join(F.broadcast(probes), "cell_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            F.col("chunk_id").alias("neighbor_id"),
            vectors.euclidean(F.col("qvec"), F.col("embedding")).alias(
                "distance"
            ),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= 10)
    )


# --------------------------------- CDC-synced persisted ANN index
# The ANN member of the CDC trio (inverted index, band store, now the
# cell-partitioned vector index): the index follows a MUTATING snapshot
# table of (chunk_id, embedding) rows — updated vectors upsert (cell
# moves included: the negation flips every assignment), deleted vectors
# rewrite out of their cells; each step O(changed files + touched
# cells). The oracle states hard-assigned IVF over the FINAL logical
# vector set, so a stale row, a resurrected delete, or an update left in
# its old cell is a value mismatch.


def _cdc_persisted_sql() -> str:
    from cargo_chat_spark.queries.similarity import _cent_values_sql

    sq = _SQ
    return f"""
WITH centroids AS (
    SELECT * FROM (VALUES {_cent_values_sql()}) AS t(cell_id, cvec)
),
vecs AS (
    SELECT vec_id,
           CASE WHEN vec_id % 10 = 3
                THEN list_transform(embedding, x -> -CAST(x AS DOUBLE))
                ELSE list_transform(embedding, x -> CAST(x AS DOUBLE))
           END AS embedding
    FROM embeddings WHERE vec_id % 10 <> 7
),
assigned AS (
    SELECT b.vec_id, b.embedding, a.cell_id,
        row_number() OVER (
            PARTITION BY b.vec_id
            ORDER BY sqrt({sq.format(a="a.cvec", b="b.embedding")}), a.cell_id
        ) AS cr
    FROM vecs b CROSS JOIN centroids a
),
cells AS (
    SELECT vec_id, embedding, cell_id FROM assigned WHERE cr = 1
),
queries AS (
    SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0
),
probes AS (
    SELECT b.query_id, a.cell_id,
        row_number() OVER (
            PARTITION BY b.query_id
            ORDER BY sqrt({sq.format(a="a.cvec", b="b.embedding")}), a.cell_id
        ) AS pr
    FROM queries b CROSS JOIN centroids a
    QUALIFY pr <= {_PERSIST_PROBE}
),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
        sqrt({sq.format(a="q.embedding", b="c.embedding")}) AS distance
    FROM queries q
    JOIN probes p ON p.query_id = q.query_id
    JOIN cells c ON c.cell_id = p.cell_id
)
SELECT query_id, neighbor_id, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM scored
QUALIFY "rank" <= 10
"""


def _ann_cdc_fixture(spark, sf_dir) -> str:
    """The ivf_topk_cdc_synced lifecycle FIXTURE (sync → MERGE-negate
    %10==3 → delete %10==7 → apply), memoized per (session, sf_dir);
    returns the index dir. Factored out for bench.py's phase split."""
    import os
    import shutil
    import tempfile

    from cargo_chat_spark.functions import vectors
    from cargo_chat_spark.sources.index_cells import (
        apply_ann_cdc,
        sync_ann_index_from_snapshot,
    )
    from cargo_chat_spark.sources.snapshots import (
        snap_delete,
        snap_merge,
        snap_write,
    )

    key = ("cdc", spark.sparkContext.applicationId, sf_dir)
    cached = _IVF_STORE_MEMO.get(key)
    if cached is not None:
        return cached[1]
    emb = load_table(spark, sf_dir, "embeddings")
    dim = vectors.infer_dim(emb, "embedding")
    centroids = _centroids_df(spark)
    vecs = emb.select(
        F.col("vec_id").alias("chunk_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}"
    tbl = os.path.join(tempfile.gettempdir(), f"ccs_anncdc_tbl_{tag}")
    idx = os.path.join(tempfile.gettempdir(), f"ccs_anncdc_idx_{tag}")
    for p in (tbl, idx):
        if os.path.isdir(p):
            shutil.rmtree(p)
    sync_marker = idx.rstrip("/") + ".ann_sync.json"
    if os.path.exists(sync_marker):
        os.remove(sync_marker)
    snap_write(vecs, tbl)
    sync_ann_index_from_snapshot(spark, idx, tbl, dim, centroids)
    upd = vecs.where(F.col("chunk_id") % 10 == 3).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    snap_merge(spark, tbl, upd, "chunk_id")
    snap_delete(
        spark, tbl,
        vecs.where(F.col("chunk_id") % 10 == 7).select("chunk_id"),
        "chunk_id",
    )
    apply_ann_cdc(spark, idx, tbl)
    _IVF_STORE_MEMO[key] = (tbl, idx)
    return idx


def _ann_cdc_table(spark, sf_dir) -> str:
    """The lifecycle fixture's SNAPSHOT TABLE path (the index's source
    of truth) — built on demand; used by CDC-consuming reports."""
    _ann_cdc_fixture(spark, sf_dir)
    key = ("cdc", spark.sparkContext.applicationId, sf_dir)
    return _IVF_STORE_MEMO[key][0]


@register("ivf_topk_cdc_synced", sql=_cdc_persisted_sql())
def ivf_topk_cdc_synced(spark, sf_dir):
    """Persisted IVF index advanced ONLY via the snapshot CDC feed
    (sync → MERGE-negate %10==3 → delete %10==7 → apply), then queried —
    must equal hard-assigned IVF over the final logical vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _ann_cdc_fixture(spark, sf_dir)
    return _persisted_topk(spark, emb, idx, _centroids_df(spark))


# ------------------------------------------------- MMR diversified top-k
# Maximal-marginal-relevance selection (the diversified retrieval pass a
# RAG pipeline runs after kNN): greedily pick K items maximizing
#   score(d) = -2 * dist2(query, d) + min_{s in selected} dist2(d, s)
# (distance form of MMR: relevance pulls toward the query, the min-
# distance-to-selected term pushes picks apart; the empty-set diversity
# term is 0, so pick 1 is the plain nearest neighbor). Floor-quantized
# bigint vectors (operators/clustering.SCALE) make every score an exact
# integer, so the full greedy ITERATION value-hashes across engines —
# the kmeans/BPE/pagerank unrolled-oracle discipline applied to greedy
# selection. Scale shape: each of the K steps is one MAP-ONLY corpus
# scan (selected vectors ride as literals, codegen'd integer zip_with
# distances — the kmeans assignment kernel) + a 1-row argmax collect;
# no shuffle anywhere, K·O(corpus/executors) wall-clock.

_MMR_K = 5


def _mmr_oracle_sql() -> str:
    from cargo_chat_spark.operators.clustering import SCALE

    d2 = (
        "CAST(list_sum(list_transform(generate_series(1, len({a}.q)),"
        " i -> ({a}.q[i] - {b}.q[i]) * ({a}.q[i] - {b}.q[i]))) AS BIGINT)"
    )
    sql = f"""
WITH eq AS (
  SELECT vec_id, list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
qv AS (SELECT q FROM eq WHERE vec_id = 0),
base AS (
  SELECT e.vec_id, {d2.format(a='e', b='qv')} AS d2q, e.q
  FROM eq e CROSS JOIN qv WHERE e.vec_id <> 0
),
s1 AS (
  SELECT vec_id, d2q, q, CAST(-2 * d2q AS BIGINT) AS score
  FROM base ORDER BY score DESC, vec_id ASC LIMIT 1
)"""
    for k in range(2, _MMR_K + 1):
        prior = [f"s{j}" for j in range(1, k)]
        least = ", ".join(d2.format(a="r", b=p) for p in prior)
        least = least if len(prior) == 1 else f"LEAST({least})"
        not_in = " AND ".join(f"r.vec_id <> {p}.vec_id" for p in prior)
        sql += f""",
s{k} AS (
  SELECT r.vec_id, r.d2q, r.q,
         CAST(-2 * r.d2q + {least} AS BIGINT) AS score
  FROM base r CROSS JOIN {", ".join(prior)}
  WHERE {not_in}
  ORDER BY score DESC, r.vec_id ASC LIMIT 1
)"""
    sql += "\n" + "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS sel_rank, vec_id, d2q, score FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return sql


@register("mmr_diversified_topk", sql=_mmr_oracle_sql())
def mmr_diversified_topk(spark, sf_dir):
    """Greedy MMR selection of _MMR_K diversified neighbors of vec 0's
    embedding over the whole corpus, exact integer scores."""
    from cargo_chat_spark.operators.clustering import (
        _dist_sql,
        quantize_embeddings,
    )

    eq = quantize_embeddings(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "q"
    )
    qvec = [int(v) for v in eq.where(F.col("vec_id") == 0).head()["q"]]
    base = (
        eq.where(F.col("vec_id") != 0)
        .withColumn("d2q", F.expr(_dist_sql("q", qvec)))
        # consumed once per greedy step: materialize the quantize + d2q
        .persist()
    )
    selected: list = []
    out_rows: list = []
    for k in range(1, _MMR_K + 1):
        if not selected:
            div = F.lit(0).cast("long")
            cand = base
        else:
            terms = [
                F.expr(_dist_sql("q", [int(v) for v in s["q"]]))
                for s in selected
            ]
            div = terms[0] if len(terms) == 1 else F.least(*terms)
            cand = base.where(
                ~F.col("vec_id").isin([int(s["vec_id"]) for s in selected])
            )
        top = (
            cand.withColumn(
                "score", (F.lit(-2) * F.col("d2q") + div).cast("long")
            )
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)  # bounded collect: exactly one row per step
            .collect()[0]
        )
        selected.append(top)
        out_rows.append(
            (k, int(top["vec_id"]), int(top["d2q"]), int(top["score"]))
        )
    return local_frame(spark, 
        out_rows, "sel_rank int, vec_id bigint, d2q bigint, score bigint"
    )


# bench.py phase split (r8 verdict item 7): index build / CDC lifecycle
# is the one-time phase; the registered queries are steady-state probes.
from cargo_chat_spark.queries.registry import register_phase_builder as _rpb
from cargo_chat_spark.functions.localframe import local_frame

_rpb("ivf_topk_persisted", _ivf_persisted_fixture)
_rpb("ivf_topk_cdc_synced", _ann_cdc_fixture)


# --------------------------------------- 1-bit binary quantization + re-rank
# The compression rung BELOW int8 on the ANN ladder (32x smaller than
# float32): keep only each dimension's SIGN, packed into two 32-bit words
# per 64-dim vector, scan candidates by Hamming distance (XOR + popcount —
# pure integer, a few cycles per pair), re-rank the shortlist at full
# precision. The production posture for first-pass filtering at 100 TB:
# the packed corpus is 16 bytes/vector, so a billion vectors fit in
# executor memory and the scan is bandwidth-, not compute-, bound.
# Bits live in 0..31 of each word (never bit 63), so the packed values
# are small positive BIGINTs — no signed-shift portability edge between
# engines. Shortlist selection is exactly engine-reproducible: integer
# Hamming with a (hamming, neighbor_id) total order.
_BQ_CAND = 64  # candidates per query entering the exact re-rank


def _bq_pack_sql(vec: str, lo: int) -> str:
    return f"""list_sum(list_transform(generate_series(1, 32),
        i -> CASE WHEN {vec}[i + {lo}] > 0
                  THEN (CAST(1 AS BIGINT) << (i - 1))
                  ELSE CAST(0 AS BIGINT) END))"""


_BQ_SQL = f"""
WITH packed AS (
    SELECT vec_id, embedding,
        {_bq_pack_sql('embedding', 0)} AS w0,
        {_bq_pack_sql('embedding', 32)} AS w1
    FROM embeddings
),
qq AS (
    SELECT vec_id AS query_id, embedding AS qvec, w0 AS qw0, w1 AS qw1
    FROM packed WHERE vec_id % 100 = 0
),
cand AS (
    SELECT qq.query_id, qq.qvec, c.vec_id AS neighbor_id, c.embedding,
        bit_count(xor(qq.qw0, c.w0)) + bit_count(xor(qq.qw1, c.w1))
            AS hamming
    FROM packed c CROSS JOIN qq
),
shortlist AS (
    SELECT query_id, qvec, neighbor_id, embedding, hamming,
        row_number() OVER (
            PARTITION BY query_id ORDER BY hamming, neighbor_id
        ) AS hr
    FROM cand
),
rescored AS (
    SELECT query_id, neighbor_id, CAST(hamming AS INT) AS hamming,
        sqrt(list_sum(list_transform(generate_series(1, len(qvec)),
            i -> (CAST(qvec[i] AS DOUBLE) - CAST(embedding[i] AS DOUBLE))
               * (CAST(qvec[i] AS DOUBLE) - CAST(embedding[i] AS DOUBLE)))))
            AS distance
    FROM shortlist WHERE hr <= {_BQ_CAND}
)
SELECT query_id, neighbor_id, hamming, distance,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, neighbor_id
    ) AS INT) AS "rank"
FROM rescored
QUALIFY "rank" <= 10
"""


@register("bq_hamming_rerank", sql=_BQ_SQL)
def bq_hamming_rerank(spark, sf_dir):
    """Sign-bit binary quantization → XOR/popcount Hamming shortlist
    ({CAND}/query, (hamming, id) total order) → exact re-rank top-10.
    The packed corpus form (two 32-bit words per 64-dim vector) is what
    a 100 TB deployment scans first; floats are read only for the
    shortlist. All-JVM integer candidate metric (bit_count over ^),
    broadcast query side, corpus never shuffles."""
    from pyspark.sql import Window

    from cargo_chat_spark.functions import vectors

    emb = load_table(spark, sf_dir, "embeddings")

    def pack(lo: int):
        # one SQL string (the *_fixed_sql convention): the Python
        # F.shiftleft only takes a literal bit count, the SQL form takes a
        # column
        return F.expr(
            f"""aggregate(sequence(1, 32), 0L,
                (acc, i) -> acc + IF(element_at(embedding, i + {lo}) > 0,
                                     shiftleft(1L, i - 1), 0L))"""
        )

    # the Hamming scan carries ONLY (ids, packed words) — never the float
    # vectors: the shortlist window sorts |Q|x|C| candidate rows, and a
    # 128-double payload per row multiplies that sort's volume ~10x
    # (measured on the decade probe). Vectors re-attach AFTER the prune:
    # the query side broadcasts (it always did), and the corpus floats
    # come from a broadcast of the |Q|*CAND-row shortlist back onto the
    # corpus scan — map-side both ways, corpus still never shuffles.
    packed = emb.select("vec_id", pack(0).alias("w0"), pack(32).alias("w1"))
    qq = packed.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    hamming = F.expr("bit_count(qw0 ^ w0) + bit_count(qw1 ^ w1)")
    cand = packed.crossJoin(F.broadcast(qq)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        hamming.alias("hamming"),
    )
    w_h = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    shortlist = (
        cand.withColumn("hr", F.row_number().over(w_h))
        .where(F.col("hr") <= _BQ_CAND)
        .select("query_id", "neighbor_id", "hamming")
    )
    qvecs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    rescored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.col("hamming").cast("int").alias("hamming"),
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
