"""Rerank + remaining small-operator correctness queries (SURVEY §2.4 J2,
§2.5 O4, §2.2 P7, §2.7 U1).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.functions.language import LANGUAGE_EXTENSIONS
from cargo_chat_spark.operators import filters, ranking
from cargo_chat_spark.queries import fixtures
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table
from cargo_chat_spark.functions.localframe import local_frame

# ------------------------------------------------------- J2 + O4 rerank
# Deterministic cross-encoder stand-in, SQL-portable: token-set Jaccard
# between the query text and the candidate code (the mock provider's
# rerank_scores formula, models/mock.py).
_QUERY_TEXTS = [
    (0, "implement rust parser table"),
    (1, "how does the spark join work"),
    (2, "explain the customer data"),
    (3, "debug the window sort error"),
]
_QT_ROWS = ", ".join(f"({q}, '{t}')" for q, t in _QUERY_TEXTS)

_RERANK_SQL = f"""
WITH candidates AS ({fixtures.CANDIDATES_SQL}),
qt AS (SELECT * FROM (VALUES {_QT_ROWS}) AS t(query_id, query_text)),
toks AS (
    SELECT c.query_id, c.chunk_id, c.distance,
        list_distinct(regexp_split_to_array(lower(trim(q.query_text)), '\\s+')) AS qt_toks,
        list_distinct(regexp_split_to_array(lower(trim(c.code)), '\\s+')) AS c_toks
    FROM candidates c JOIN qt q USING (query_id)
),
scored AS (
    SELECT query_id, chunk_id, distance,
        CAST(len(list_filter(qt_toks, x -> list_contains(c_toks, x))) AS DOUBLE) /
        CAST(len(list_filter(qt_toks, x -> list_contains(c_toks, x)))
             + len(qt_toks) + len(c_toks)
             - 2 * len(list_filter(qt_toks, x -> list_contains(c_toks, x)))
             AS DOUBLE) AS rerank_score
    FROM toks
)
SELECT query_id, chunk_id, rerank_score,
    CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY rerank_score DESC, chunk_id
    ) AS INT) AS "rank"
FROM scored
QUALIFY "rank" <= 10
"""


@register("rerank_topk", sql=_RERANK_SQL)
def rerank_topk(spark, sf_dir):
    """J2/O4 (hyde.rs:529-552): deterministic pair scores, descending
    re-sort with chunk_id tie-break, top-10 per query."""
    c = fixtures.candidates_df(spark, sf_dir)
    qt = local_frame(spark, _QUERY_TEXTS, "query_id bigint, query_text string")
    joined = c.join(F.broadcast(qt), "query_id")
    q_toks = F.array_distinct(F.split(F.lower(F.trim("query_text")), r"\s+"))
    c_toks = F.array_distinct(F.split(F.lower(F.trim("code")), r"\s+"))
    toks = joined.select(
        "query_id", "chunk_id", "distance",
        q_toks.alias("qt_toks"), c_toks.alias("c_toks"),
    )
    inter = F.size(F.array_intersect("qt_toks", "c_toks"))
    union = inter + F.size("qt_toks") + F.size("c_toks") - 2 * inter
    scored = toks.select(
        "query_id", "chunk_id", "distance",
        (inter.cast("double") / union.cast("double")).alias("rerank_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rerank_score"), F.asc("chunk_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "chunk_id", "rerank_score", "rank")
    )


# -------------------------------------------------------- P7 dim validation
_DIM_SQL = """
SELECT CAST(len(embedding) AS INT) AS dim,
       COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN len(embedding) IN (64, 512, 1024) THEN 0 ELSE 1 END)
            AS BIGINT) AS n_invalid
FROM embeddings
GROUP BY 1
"""


@register("dim_validation", sql=_DIM_SQL)
def dim_validation(spark, sf_dir):
    """P7 (ann.rs:34-50, embedding.rs:119-125): all vectors share one dim;
    dims outside the supported set are flagged (the driver corpus is 64-d;
    the reference supports 512/1024)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.groupBy(F.size("embedding").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.when(F.size("embedding").isin(64, 512, 1024), 0).otherwise(1)
            ).cast("bigint").alias("n_invalid"),
        )
    )


# ------------------------------------------------- U1 extension-list union
_EXT_ROWS = ", ".join(
    f"('{lang}', {('[' + ', '.join(chr(39) + e + chr(39) for e in exts) + ']')})"
    for lang, exts in LANGUAGE_EXTENSIONS.items()
)

_EXT_UNION_SQL = f"""
WITH lang_exts AS (
    SELECT * FROM (VALUES {_EXT_ROWS}) AS t(language, exts)
)
SELECT CAST(len(flatten(list(exts ORDER BY language))) AS BIGINT) AS n_extensions,
       array_to_string(list_sort(flatten(list(exts ORDER BY language))), '|')
           AS all_extensions
FROM lang_exts
"""


@register("supported_extensions_union", sql=_EXT_UNION_SQL)
def supported_extensions_union(spark, sf_dir):
    """U1 (language.rs:103-125): concatenation of per-language extension
    lists (disjoint → union-all), rendered sorted + '|'-joined for
    determinism (harness needs hashable cells)."""
    rows = [(lang, exts) for lang, exts in LANGUAGE_EXTENSIONS.items()]
    df = local_frame(spark, rows, "language string, exts array<string>")
    return df.agg(
        F.size(F.flatten(F.array_sort(F.collect_list(F.struct("language", "exts")))
                         .getField("exts"))).cast("bigint").alias("n_extensions"),
        F.array_join(
            F.array_sort(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("language", "exts"))),
                        lambda x: x["exts"],
                    )
                )
            ),
            "|",
        ).alias("all_extensions"),
    )


# --------------------------------------- distinct counts: exact + approximate
_DISTINCT_SQL = """
SELECT source,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(DISTINCT doc_id) AS n_docs
FROM documents
GROUP BY source
"""


@register("distinct_counts_exact", sql=_DISTINCT_SQL)
def distinct_counts_exact(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# The sketch ESTIMATES are engine-specific (DuckDB has no HLL++ twin),
# but the error-bound BOOLEAN is deterministic and value-hashable
# (r9 verdict item 4): Spark's HLL++ merge is register-max — order
# independent — so abs(est-exact)/exact is a fixed number per dataset,
# and the oracle asserts the bound holds by emitting the TRUE the gate
# must reproduce. A sketch regression (accuracy loss, wrong column,
# changed relativeSD default) flips a boolean and hash-mismatches.
_DISTINCT_APPROX_EPS = 0.05

_DISTINCT_APPROX_SQL = f"""
SELECT source,
       COUNT(DISTINCT lang) AS n_langs_exact,
       COUNT(DISTINCT doc_id) AS n_docs_exact,
       TRUE AS langs_within_{int(_DISTINCT_APPROX_EPS * 100)}pct,
       TRUE AS docs_within_{int(_DISTINCT_APPROX_EPS * 100)}pct
FROM documents
GROUP BY source
"""


@register("distinct_counts_approx", sql=_DISTINCT_APPROX_SQL)
def distinct_counts_approx(spark, sf_dir):
    """approx_count_distinct (SURVEY §7.8 extension): the 100 TB path for
    corpus stats — HLL++ partial aggregation, no exact-distinct shuffle of
    raw values. Value-hash gated via the deterministic error bound: the
    frame carries the exact counts plus `within_eps` booleans comparing
    the sketch estimate against them (<=5% relative error, the default
    approx_count_distinct relativeSD envelope; tests/test_sketch_bounds.py pins
    the numeric margin). Cost: the sketch agg plus the exact-distinct agg
    it is being graded against — the PRODUCTION query is the sketch half
    alone; the exact half exists because this is the evaluation gate."""
    d = load_table(spark, sf_dir, "documents")
    eps = _DISTINCT_APPROX_EPS
    agg = d.groupBy("source").agg(
        F.countDistinct("lang").alias("n_langs_exact"),
        F.countDistinct("doc_id").alias("n_docs_exact"),
        F.approx_count_distinct("lang").alias("la"),
        F.approx_count_distinct("doc_id").alias("da"),
    )
    within = lambda est, ex: (  # noqa: E731
        F.abs(F.col(est) - F.col(ex)) <= F.lit(eps) * F.col(ex)
    )
    return agg.select(
        "source",
        "n_langs_exact",
        "n_docs_exact",
        within("la", "n_langs_exact").alias(
            f"langs_within_{int(eps * 100)}pct"
        ),
        within("da", "n_docs_exact").alias(
            f"docs_within_{int(eps * 100)}pct"
        ),
    )
