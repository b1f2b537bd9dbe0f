"""Retrieval-pipeline correctness queries (SURVEY §2.2 P2/P4/P5/P6,
§2.3 F2-F5/F8, §2.5 O1-O7) over the synthesized candidates/classification
fixtures. Oracle SQL is assembled from the same emitter functions that sit
next to each Spark predicate (operators.filters), so the two dialects are
generated from one source of truth.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cargo_chat_spark.functions import paths
from cargo_chat_spark.functions.language import (
    detect_language_expr,
    detect_language_sql_case,
)
from cargo_chat_spark.operators import filters, ranking
from cargo_chat_spark.operators.context import (
    DEFAULT_INSTRUCTION,
    INTENT_INSTRUCTIONS,
    OUTPUT_TEMPLATE,
    assemble_prompt,
)
from cargo_chat_spark.queries import fixtures
from cargo_chat_spark.queries.registry import register

_BASE = f"""
WITH candidates AS ({fixtures.CANDIDATES_SQL}),
cls AS ({fixtures.CLASSIFICATIONS_SQL}),
joined AS (
    SELECT c.*, q.q_language, q.intent, q.wants_code, q.confidence,
           q.target_folders, q.target_extensions, q.exclude_patterns, q.k
    FROM candidates c JOIN cls q USING (query_id)
)
"""

# ------------------------------------------------------- fixture self-check
_CAND_SQL = f"WITH candidates AS ({fixtures.CANDIDATES_SQL}) SELECT * FROM candidates"


@register("candidates_fixture", sql=_CAND_SQL)
def candidates_fixture(spark, sf_dir):
    """Parity gate for the fixture synthesis itself — if the Spark and
    DuckDB candidate definitions ever drift, this fails first."""
    return fixtures.candidates_df(spark, sf_dir)


# ------------------------------------------------------------------ P2 / F1
_LANG_SQL = f"""
WITH candidates AS ({fixtures.CANDIDATES_SQL})
SELECT chunk_id, extension,
       {detect_language_sql_case('extension')} AS detected_language
FROM candidates
"""


@register("language_detect", sql=_LANG_SQL)
def language_detect(spark, sf_dir):
    """P2: extension → display-name lookup (language.rs:76-100), NULL
    passthrough for unknown/missing extensions."""
    return fixtures.candidates_df(spark, sf_dir).select(
        "chunk_id",
        "extension",
        detect_language_expr(F.col("extension")).alias("detected_language"),
    )


# ------------------------------------------------------------------ P4 / P5
_SNIPPET_SQL = f"""
WITH candidates AS ({fixtures.CANDIDATES_SQL})
SELECT chunk_id,
       {paths.snippet_sql('code')} AS snippet,
       {paths.clean_path_sql("'./' || file")} AS clean_file,
       {paths.extension_from_path_sql('file')} AS path_ext
FROM candidates
"""


@register("snippet_and_paths", sql=_SNIPPET_SQL)
def snippet_and_paths(spark, sf_dir):
    """P4 snippet truncation (main.rs:414-419), P5 ./-stripping
    (hyde.rs:663), P1 extension-from-path (chunker.rs:43)."""
    c = fixtures.candidates_df(spark, sf_dir)
    return c.select(
        "chunk_id",
        paths.snippet(F.col("code")).alias("snippet"),
        paths.clean_path(F.concat(F.lit("./"), F.col("file"))).alias("clean_file"),
        paths.extension_from_path(F.col("file")).alias("path_ext"),
    )


# ----------------------------------------------------------------- F2/F3/F4
def _filter_query(name: str, sql_pred: str, spark_pred):
    sql = f"""{_BASE}
SELECT query_id, chunk_id, file, extension
FROM joined
WHERE {sql_pred}
"""

    @register(name, sql=sql)
    def _q(spark, sf_dir, _pred=spark_pred):
        j = fixtures.joined_candidates_df(spark, sf_dir)
        return j.where(_pred()).select("query_id", "chunk_id", "file", "extension")

    return _q


filter_folder = _filter_query(
    "filter_folder",
    filters.folder_match_sql("file", "target_folders"),
    lambda: filters.folder_match(F.col("file"), F.col("target_folders")),
)
filter_extension = _filter_query(
    "filter_extension",
    filters.extension_match_sql("extension", "file", "target_extensions"),
    lambda: filters.extension_match(
        F.col("extension"), F.col("file"), F.col("target_extensions")
    ),
)
filter_exclude = _filter_query(
    "filter_exclude",
    filters.exclude_match_sql("file", "exclude_patterns"),
    lambda: filters.exclude_match(F.col("file"), F.col("exclude_patterns")),
)

# --------------------------------------------- full reference ranking (O1-O7)
def _indexed_candidates(spark, sf_dir):
    """joined candidates + ``chunk_index``: the 0-based enumerate position
    the reference assigns over the RAW k*2 similarity output BEFORE any
    filtering (hyde.rs:1227-1231). Computed pre-filter so filtered-out
    candidates leave holes in the printed indices, like the reference."""
    from pyspark.sql import Window

    j = fixtures.joined_candidates_df(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("chunk_id"))
    return j.withColumn("chunk_index", (F.row_number().over(w) - 1).cast("int"))


_RETRIEVAL_SQL = f"""{_BASE},
indexed AS (
    -- the reference enumerates the RAW k*2 similarity output BEFORE any
    -- filtering (hyde.rs:1227-1231); that 0-based position is what P6
    -- later prints as Chunk ID, so it is pinned here, pre-filter
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY distance, chunk_id
    ) - 1 AS INT) AS chunk_index
    FROM joined
),
filtered AS (
    SELECT * FROM indexed
    WHERE {filters.folder_match_sql('file', 'target_folders')}
      AND {filters.extension_match_sql('extension', 'file', 'target_extensions')}
      AND {filters.exclude_match_sql('file', 'exclude_patterns')}
),
flags AS (
    SELECT *,
        {filters.high_confidence_code_sql('wants_code', 'confidence')} AS _branch_a,
        {filters.is_code_sql('extension', 'file')} AS _is_code,
        {filters.is_doc_simple_sql('extension')} AS _is_doc_simple,
        {filters.lang_match_sql('language', 'extension', 'q_language')} AS _lmatch
    FROM filtered
),
enriched AS (
    SELECT *,
        CASE WHEN _branch_a THEN CASE WHEN _is_code THEN 0 ELSE 1 END
             ELSE CASE WHEN NOT wants_code AND _is_doc_simple THEN 0 ELSE 1 END
        END AS _tier,
        CASE WHEN _branch_a AND _is_code AND q_language IS NOT NULL AND _lmatch
             THEN 0 ELSE 1 END AS _langkey,
        SUM(CASE WHEN _branch_a AND _is_code THEN 1 ELSE 0 END)
            OVER (PARTITION BY query_id) AS _code_count,
        row_number() OVER (
            PARTITION BY query_id, _is_code ORDER BY distance, chunk_id
        ) AS _doc_rank
    FROM flags
),
capped AS (
    SELECT *,
        CASE WHEN confidence > 0.8 THEN 0
             WHEN intent = 'how_it_works'
                 THEN CASE WHEN _code_count >= 3 THEN 0 ELSE 1 END
             WHEN intent IN ('implementation', 'debugging') THEN 0
             WHEN intent = 'explanation' THEN 1
             ELSE 0 END AS _doc_limit
    FROM capped_src
),
included AS (
    SELECT * FROM capped
    WHERE (NOT _branch_a) OR _is_code OR _doc_rank <= _doc_limit
),
selected AS (
    SELECT *,
        row_number() OVER (
            PARTITION BY query_id ORDER BY _tier, _langkey, distance, chunk_id
        ) AS _sel_rank
    FROM included
),
ranked AS (
    -- tiers choose WHICH rows survive truncate(k); the output rank is the
    -- reference's final re-sort by ascending distance (hyde.rs:545-552).
    -- Rust's sort is stable, so distance ties keep selection order:
    -- tie-break on _sel_rank, not chunk_id (ADVICE r2)
    SELECT query_id, chunk_id, file, code, language, extension, distance, k,
        chunk_index,
        CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY distance, _sel_rank
        ) AS INT) AS "rank"
    FROM selected WHERE _sel_rank <= k
)
SELECT query_id, chunk_id, file, language, extension, distance, chunk_index,
       "rank"
FROM ranked WHERE "rank" <= k
""".replace("FROM capped_src", "FROM enriched")


@register("retrieval_rank_reference", sql=_RETRIEVAL_SQL)
def retrieval_rank_reference(spark, sf_dir):
    """The reference's full post-search pipeline: F2-F4 filters, code/doc
    partition, language priority, intent doc caps, truncate(k), final
    distance re-sort (hyde.rs:500-552 + 975-1215) — declarative window
    passes. ``chunk_index`` is the 0-based enumerate position over the RAW
    pre-filter candidate list (hyde.rs:1227-1231) carried through for P6."""
    j = _indexed_candidates(spark, sf_dir)
    j = j.where(filters.scope_match())
    out = ranking.reference_rank(j)
    return out.select(
        "query_id", "chunk_id", "file", "language", "extension", "distance",
        "chunk_index", "rank",
    )


# ------------------------------------------------------- P6 context assembly
# The engine's prompt (operators/context.assemble_prompt, the one retrieve()
# sends) over the ranked rows, one per query, against the reference's
# prompt layout (hyde.rs:645-740) restated in DuckDB SQL. Only the constant
# texts are shared; every format rule is written out again here. The
# question text is fixed per query.
def _sql_str(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


_NL = "chr(10)"
# Rust's str::trim: the Unicode White_Space characters
_RUST_WHITESPACE = " || ".join(
    f"chr({c})"
    for c in [9, 10, 11, 12, 13, 32, 0x85, 0xA0, 0x1680, *range(0x2000, 0x200B),
              0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
)
_INSTRUCTION_SQL = (
    "CASE q.intent "
    + " ".join(
        f"WHEN {_sql_str(k)} THEN {_sql_str(v)}" for k, v in INTENT_INSTRUCTIONS.items()
    )
    + f" ELSE {_sql_str(DEFAULT_INSTRUCTION)} END"
)
# one "## Code Reference N" block (hyde.rs:648-685); Chunk ID is the
# pre-filter enumerate position, the fence language defaults to rust
_CLEAN_FILE = "regexp_replace(r.file, '^(\\./)+', '')"
_BLOCK_SQL = f"""
    '## Code Reference ' || CAST(r."rank" AS VARCHAR) || ' - ' || {_CLEAN_FILE}
    || CASE WHEN r.extension IS NULL THEN '' ELSE '.' || r.extension END
    || CASE WHEN r.language IS NULL THEN '' ELSE ' [' || upper(r.language) || ']' END
    || {_NL} || '**Location:** ' || {_CLEAN_FILE} || {_NL}
    || '**Relevance Score:** ' || printf('%.3f', r.distance)
    || ' (lower = more relevant)' || {_NL}
    || '**Chunk ID:** ' || CAST(r.chunk_index AS VARCHAR) || {_NL} || {_NL}
    || '```' || coalesce(r.language, 'rust') || {_NL}
    || trim(r.code, {_RUST_WHITESPACE}) || '```' || {_NL}
"""
# Reuse the retrieval WITH-chain (everything before its final SELECT)
_CONTEXT_SQL = f"""{_RETRIEVAL_SQL.rsplit('SELECT query_id', 1)[0]}
SELECT r.query_id,
    '# User Query' || {_NL} || 'question ' || CAST(r.query_id AS VARCHAR) || {_NL} || {_NL}
    || '# Analysis Task' || {_NL} || {_INSTRUCTION_SQL} || {_NL} || {_NL}
    || '# System Context' || {_NL} || 'You are analyzing a software repository'
    || {_NL} || {_NL} || '# Available Code References' || {_NL}
    || string_agg({_BLOCK_SQL}, {_NL} || {_NL} ORDER BY r."rank")
    || {_NL} || {_NL} || {_sql_str(OUTPUT_TEMPLATE)} AS context
FROM ranked r JOIN cls q ON r.query_id = q.query_id
WHERE r."rank" <= r.k
GROUP BY r.query_id, q.intent
"""


@register("context_assembly", sql=_CONTEXT_SQL)
def context_assembly(spark, sf_dir):
    """P6 (hyde.rs:645-740): the prompt ``retrieve()`` builds, one
    ``context`` row per query, from the reference-ranked rows —
    ``assemble_prompt`` over ``reference_rank``, with the pre-filter
    ``chunk_index`` printed as Chunk ID."""
    ranked = ranking.reference_rank(
        _indexed_candidates(spark, sf_dir).where(filters.scope_match())
    )
    question = F.concat(F.lit("question "), F.col("query_id").cast("string"))
    return assemble_prompt(
        ranked.withColumn("query_text", question), F.col("query_text")
    ).withColumnRenamed("user_prompt", "context")
