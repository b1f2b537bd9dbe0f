"""Hybrid lexical retrieval: BM25 scoring + reciprocal-rank fusion.

The reference's retrieval is embedding-kNN (+ rerank); production RAG
engines pair that with a lexical ranker and fuse the two rankings. This
module supplies the missing half Spark-first:

- ``bm25_topk``: Okapi BM25 (k1=1.2, b=0.75) over the documents table for
  a fixed query — tf/df/dl computed as integer aggregates (exact), the
  floating-point scoring formula evaluated with identical structure in
  both engines, ranked on the 6-dp-rounded score with doc_id tie-break.
- ``hybrid_rrf_retrieval``: reciprocal-rank fusion (k=60) of the BM25
  ranking with a token-set Jaccard ranking — the standard score-free
  fusion (ranks only, so heterogeneous scorers compose without
  calibration). FULL OUTER over the two top-100 lists, missing-list
  contributions drop out, top-20 under a total order.

Scale: every stage is a map-side-combinable aggregate over the exploded
token frame (query terms filter BEFORE the tf aggregate, so the per-term
frame is |terms|/|vocab| of the corpus); ranks are global row_numbers over
top-100 frames (tiny). At 100 TB the BM25 side is one scan + one shuffle
on doc_id; df/avgdl are scalar broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.operators import dedup as D
from cargo_chat_spark.queries._topk import global_topk_ranked
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table

_TERMS = ("spark", "join", "window")
_K1 = 1.2
_B = 0.75
_TOPK = 20
_FUSE_N = 100
_RRF_K = 60

_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _TERMS) + ")"

_BM25_CTES = f"""
toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents),
dl AS (
    SELECT doc_id, COUNT(*) AS dl FROM toks WHERE token <> '' GROUP BY 1),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf
    FROM toks WHERE token IN {_TERMS_SQL} GROUP BY 1, 2),
df AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
    SELECT t.doc_id,
        round(SUM(
            ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
            * (t.tf * ({_K1} + 1.0))
            / (t.tf + {_K1} * (1 - {_B} + {_B} * d.dl / s.avgdl))
        ), 6) AS bm25
    FROM tf t
    JOIN df f USING (token)
    JOIN dl d USING (doc_id)
    CROSS JOIN stats s
    GROUP BY t.doc_id),
bm25_ranked AS (
    SELECT doc_id, bm25,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
    FROM scored)
"""

_BM25_SQL = f"""
WITH {_BM25_CTES}
SELECT doc_id, bm25, CAST(rnk AS INT) AS rank
FROM bm25_ranked WHERE rnk <= {_TOPK}
"""


def _bm25_scored(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(D.tokens(F.col("text"))).alias("token")
    )
    dl = (
        toks.where(F.col("token") != "")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("token").isin(*_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf") * F.lit(_K1 + 1.0)
    ) / (
        F.col("tf")
        + F.lit(_K1)
        * (F.lit(1 - _B) + F.lit(_B) * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )


@register("bm25_topk", sql=_BM25_SQL)
def bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 for the fixed query (see module docstring)."""
    scored = _bm25_scored(spark, sf_dir)
    # global top-k via TakeOrderedAndProject + k-row rank window (see
    # queries/_topk.global_topk_ranked): output-identical, no
    # corpus-wide single-partition sort
    return global_topk_ranked(
        scored, [F.desc("bm25"), F.col("doc_id")], _TOPK, "rank"
    )


_JACCARD_CTES = f"""
jtoks AS (
    SELECT DISTINCT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents),
jstats AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN token IN {_TERMS_SQL} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inter
    FROM jtoks WHERE token <> '' GROUP BY 1),
jscored AS (
    SELECT doc_id,
           round(CAST(n_inter AS DOUBLE)
                 / (n_distinct + {len(_TERMS)} - n_inter), 6) AS jaccard
    FROM jstats),
jac_ranked AS (
    SELECT doc_id, jaccard,
           row_number() OVER (ORDER BY jaccard DESC, doc_id) AS rnk
    FROM jscored)
"""

_RRF_SQL = f"""
WITH {_BM25_CTES},
{_JACCARD_CTES},
fused AS (
    SELECT COALESCE(b.doc_id, j.doc_id) AS doc_id,
           round(COALESCE(1.0 / ({_RRF_K} + b.rnk), 0)
                 + COALESCE(1.0 / ({_RRF_K} + j.rnk), 0), 6) AS rrf_score,
           CAST(b.rnk AS INT) AS bm25_rank,
           CAST(j.rnk AS INT) AS jaccard_rank
    FROM (SELECT * FROM bm25_ranked WHERE rnk <= {_FUSE_N}) b
    FULL OUTER JOIN (SELECT * FROM jac_ranked WHERE rnk <= {_FUSE_N}) j
        ON b.doc_id = j.doc_id)
SELECT doc_id, rrf_score, bm25_rank, jaccard_rank,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
           AS fused_rank
FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT {_TOPK}
"""


@register("hybrid_rrf_retrieval", sql=_RRF_SQL)
def hybrid_rrf_retrieval(spark, sf_dir):
    """Reciprocal-rank fusion of the BM25 and token-Jaccard rankings."""
    docs = load_table(spark, sf_dir, "documents")
    jtoks = docs.select(
        "doc_id", F.explode(D.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "").distinct()
    jstats = jtoks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(
            F.when(F.col("token").isin(*_TERMS), 1).otherwise(0)
        ).cast("bigint").alias("n_inter"),
    )
    jscored = jstats.select(
        "doc_id",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("n_distinct") + F.lit(len(_TERMS)) - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )
    jac = global_topk_ranked(
        jscored, [F.desc("jaccard"), F.col("doc_id")], _FUSE_N, "jrnk"
    ).select("doc_id", "jrnk")
    bm = global_topk_ranked(
        _bm25_scored(spark, sf_dir),
        [F.desc("bm25"), F.col("doc_id")], _FUSE_N, "brnk",
    ).select("doc_id", "brnk")
    fused = bm.join(jac, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("brnk")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("jrnk")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
        F.col("brnk").cast("int").alias("bm25_rank"),
        F.col("jrnk").cast("int").alias("jaccard_rank"),
    )
    return global_topk_ranked(
        fused, [F.desc("rrf_score"), F.col("doc_id")], _TOPK, "fused_rank"
    )


# ------------------------------------------ persisted inverted index gates
# sources/inverted_index.py: the production form of the lexical ranker —
# postings built ONCE (here: in three incremental waves, gating the
# append path), queried with a single shard-pruned scan. Both gates
# share one store build through the session memo.

from cargo_chat_spark.caching import register_memo as _memo_register
from cargo_chat_spark.sources import inverted_index as II

_II_MEMO: dict = {}
_memo_register(_II_MEMO)


def _ii_store(spark, sf_dir) -> str:
    """Build the inverted index from documents in 3 incremental waves
    (doc_id % 3) once per (session, sf_dir); returns its path."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _II_MEMO.get(key)
    if cached is None:
        docs = load_table(spark, sf_dir, "documents")
        out = _os.path.join(
            _tempfile.gettempdir(),
            f"ccs_inv_index_{_os.path.basename(_os.path.normpath(sf_dir))}"
            f"_{_os.getpid()}",
        )
        if _os.path.isdir(out):
            _shutil.rmtree(out)
        II.write_inverted_index(docs.where(F.col("doc_id") % 3 == 0), out)
        for wave in (1, 2):
            II.append_inverted_index(
                docs.where(F.col("doc_id") % 3 == wave), out
            )
        cached = out
        _II_MEMO[key] = cached
    return cached


_POSTINGS_SQL = f"""
WITH {_BM25_CTES}
SELECT t.token, t.doc_id, t.tf, d.dl
FROM tf t JOIN dl d USING (doc_id)
"""


@register("inverted_postings_waves", sql=_POSTINGS_SQL)
def inverted_postings_waves(spark, sf_dir):
    """The persisted postings for the fixed query terms, after a
    3-wave incremental build — must equal the single-pass batch tf/dl
    computation exactly (gates the append path externally)."""
    return II.read_postings(spark, _ii_store(spark, sf_dir), list(_TERMS)).select(
        "token", "doc_id", F.col("tf").cast("bigint").alias("tf"),
        F.col("dl").cast("bigint").alias("dl"),
    )


@register("bm25_topk_persisted", sql=_BM25_SQL)
def bm25_topk_persisted(spark, sf_dir):
    """BM25 top-20 served from the persisted index: one shard-pruned
    postings scan + sidecar stats — scores bit-identical to the batch
    ``bm25_topk`` gate (shared oracle)."""
    scored = II.bm25_query(spark, _ii_store(spark, sf_dir), list(_TERMS))
    return global_topk_ranked(
        scored, [F.desc("bm25"), F.col("doc_id")], _TOPK, "rank"
    )


# --------------------------------------- CDC-synced index (lakehouse ∘ BM25)
# The full composition: a snapshot table of documents is the source of
# truth; the index follows its change feed incrementally (inserts append
# versioned postings, deletes/updates tombstone old generations
# merge-on-read, stats adjust additively) and must then serve BM25
# scores identical to a from-scratch computation over the table's final
# logical state. The oracle IS that from-scratch computation: the batch
# BM25 CTEs over the final corpus expression.

_CDC_CORPUS = """corpus AS (
    SELECT doc_id,
           CASE WHEN doc_id % 11 = 0 THEN text || ' spark' ELSE text END
               AS text
    FROM documents WHERE doc_id % 7 <> 0)"""

_CDC_BM25_SQL = f"""
WITH {_CDC_CORPUS},
{_BM25_CTES.replace("FROM documents", "FROM corpus")}
SELECT doc_id, bm25, CAST(rnk AS INT) AS rank
FROM bm25_ranked WHERE rnk <= {_TOPK}
"""


def _cdc_index(spark, sf_dir) -> str:
    """Snapshot table lifecycle (write → append → MERGE update → CoW
    delete) with the index advanced through apply_index_cdc after each
    commit; returns the index path. Memoized per (session, sf_dir)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from cargo_chat_spark.sources import snapshots as S
    from cargo_chat_spark.sources.inverted_index import (
        apply_index_cdc,
        sync_index_from_snapshot,
    )

    key = ("cdc", spark.sparkContext.applicationId, sf_dir)
    cached = _II_MEMO.get(key)
    if cached is None:
        base = _os.path.join(
            _tempfile.gettempdir(),
            f"ccs_cdc_idx_{_os.path.basename(_os.path.normpath(sf_dir))}"
            f"_{_os.getpid()}",
        )
        if _os.path.isdir(base):
            _shutil.rmtree(base)
        table = _os.path.join(base, "table")
        idx = _os.path.join(base, "index")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

        S.snap_write(docs.where(F.col("doc_id") % 5 != 0), table)
        sync_index_from_snapshot(spark, idx, table)

        S.snap_append(docs.where(F.col("doc_id") % 5 == 0), table)
        apply_index_cdc(spark, idx, table)

        updates = docs.where(F.col("doc_id") % 11 == 0).select(
            "doc_id", F.concat(F.col("text"), F.lit(" spark")).alias("text")
        )
        S.snap_merge(spark, table, updates, "doc_id")
        apply_index_cdc(spark, idx, table)

        S.snap_delete(
            spark, table, docs.where(F.col("doc_id") % 7 == 0), "doc_id"
        )
        apply_index_cdc(spark, idx, table)

        cached = idx
        _II_MEMO[key] = cached
    return cached


@register("bm25_cdc_synced_index", sql=_CDC_BM25_SQL)
def bm25_cdc_synced_index(spark, sf_dir):
    """BM25 top-20 from the index kept in sync with a mutating snapshot
    table purely through its change feed — scores must equal the
    from-scratch oracle over the table's final logical state."""
    scored = II.bm25_query(spark, _cdc_index(spark, sf_dir), list(_TERMS))
    return global_topk_ranked(
        scored, [F.desc("bm25"), F.col("doc_id")], _TOPK, "rank"
    )


@register("bm25_cdc_compacted_index", sql=_CDC_BM25_SQL)
def bm25_cdc_compacted_index(spark, sf_dir):
    """Same contract as bm25_cdc_synced_index AFTER
    compact_index_tombstones materialized the merge-on-read state:
    rewriting only the dirty postings files must not move a single
    score. Shares the synced store (compaction mutates it in place —
    idempotent, so gate order doesn't matter)."""
    from cargo_chat_spark.sources.inverted_index import (
        compact_index_tombstones,
    )

    idx = _cdc_index(spark, sf_dir)
    compact_index_tombstones(spark, idx)
    scored = II.bm25_query(spark, idx, list(_TERMS))
    return global_topk_ranked(
        scored, [F.desc("bm25"), F.col("doc_id")], _TOPK, "rank"
    )


# ----------------------------------------------- phrase over the store
# Positional-postings phrase search served from the PERSISTED index —
# the production form of textstats.phrase_match_docs (which scans the
# corpus): one shard-pruned scan of exactly the two phrase terms, then
# a map-side positions intersection. The oracle recomputes the phrase
# positions from the raw corpus with the index's tokenizer (trimmed
# \s+ — note the batch gate's ' +' split differs on tabs/newlines, so
# the two gates are distinct contracts on purpose).
_PHRASE_STORE = ("table", "hash")

_PHRASE_STORE_SQL = """
WITH w AS (
  SELECT doc_id, arr[i] AS token, i
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS arr
        FROM documents),
       unnest(generate_series(1, len(arr))) AS t(i)
  WHERE arr[i] <> ''
)
SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
WHERE a.token = 'table' AND b.token = 'hash'
GROUP BY a.doc_id
"""


@register("phrase_match_persisted", sql=_PHRASE_STORE_SQL)
def phrase_match_persisted(spark, sf_dir):
    """Phrase matches served from the 3-wave persisted positional index
    — must equal the from-raw-corpus positional recomputation."""
    return II.phrase_query(spark, _ii_store(spark, sf_dir), _PHRASE_STORE)


# bench.py phase split (r8 verdict item 7): the 3-wave index build and
# the CDC snapshot lifecycle are one-time phases; the BM25/phrase
# queries served from them are the steady state. inverted_postings_waves
# is deliberately NOT phased — it IS the build gate.
from cargo_chat_spark.queries.registry import register_phase_builder as _rpb

_rpb("bm25_topk_persisted", _ii_store)
_rpb("phrase_match_persisted", _ii_store)
_rpb("bm25_cdc_synced_index", _cdc_index)
_rpb("bm25_cdc_compacted_index", _cdc_index)
