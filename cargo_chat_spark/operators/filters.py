"""Classification-driven candidate filters (SURVEY §2.3 F2-F5, F8).

The scope filters F2-F4 are implemented twice, deliberately adjacent so
they cannot drift: a Spark Column expression and a DuckDB SQL emitter used
by the oracle queries. The ranking predicates (F5, F8 and the O5 language
match) are one SQL text emitter each, shared by both engines: Spark runs
the text through ``selectExpr`` in ``ranking.reference_rank`` (one driver
round trip per plan pass instead of hundreds of Column calls) and the
oracle embeds it in DuckDB SQL.
Semantics are exactly the reference's retain() closures:

- F2 folder filter      /root/reference/src/hyde.rs:825-866
- F3 extension filter   /root/reference/src/hyde.rs:869-927
- F4 exclude patterns   /root/reference/src/hyde.rs:930-964
- F5 code/doc split     /root/reference/src/hyde.rs:1012-1056 (high-conf
                        branch; path fallback when extension is NULL) and
                        hyde.rs:1190-1199 (simple ext-only variant, no adoc)
- F8 confidence gate    hyde.rs:1008
- O5 language match     hyde.rs:1065-1103

A NULL or empty array means "filter disabled" (the reference wraps each in
``if let Some(..) if !empty``).

Scale note: these are pure predicates over already-partitioned data — they
fuse into the same whole-stage-codegen span as the kNN distance projection,
so at 100 TB they cost a scan, never a shuffle. In "improved mode"
(plans.retrieval) they are applied BEFORE the kNN so Catalyst pushes them
into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cargo_chat_spark.functions.language import (
    DOC_EXTENSIONS,
    DOC_EXTENSIONS_SIMPLE,
    detect_language_sql_case,
)


def _disabled(arr: Column) -> Column:
    return arr.isNull() | (F.size(arr) == 0)


# ---------------------------------------------------------------- F2 folder
def folder_match(file: Column, folders: Column) -> Column:
    """∃ folder f: file contains "/f/" OR file startswith "f/" OR
    (file contains "/f" AND file endswith "/" + last-segment(f))."""

    def one(f: Column) -> Column:
        last_seg = F.element_at(F.split(f, "/"), -1)
        return (
            file.contains(F.concat(F.lit("/"), f, F.lit("/")))
            | file.startswith(F.concat(f, F.lit("/")))
            | (
                file.contains(F.concat(F.lit("/"), f))
                & file.endswith(F.concat(F.lit("/"), last_seg))
            )
        )

    return _disabled(folders) | F.exists(folders, one)


def folder_match_sql(file: str, folders: str) -> str:
    return f"""(
        {folders} IS NULL OR len({folders}) = 0 OR
        len(list_filter({folders}, f ->
            contains({file}, '/' || f || '/')
            OR starts_with({file}, f || '/')
            OR (contains({file}, '/' || f)
                AND ends_with({file}, '/' || list_extract(string_split(f, '/'), len(string_split(f, '/')))))
        )) > 0
    )"""


# ------------------------------------------------------------- F3 extension
def extension_match(ext: Column, file: Column, targets: Column) -> Column:
    """Dot-normalized equality on extension; path-suffix fallback when the
    extension column is NULL."""

    def norm(t: Column) -> Column:
        return F.regexp_replace(t, r"^\.+", "")

    by_ext = F.exists(targets, lambda t: norm(ext) == norm(t))
    by_path = F.exists(targets, lambda t: file.endswith(F.concat(F.lit("."), norm(t))))
    return _disabled(targets) | F.when(ext.isNotNull(), by_ext).otherwise(by_path)


def extension_match_sql(ext: str, file: str, targets: str) -> str:
    return f"""(
        {targets} IS NULL OR len({targets}) = 0 OR
        CASE WHEN {ext} IS NOT NULL
             THEN len(list_filter({targets}, t ->
                  regexp_replace({ext}, '^\\.+', '') = regexp_replace(t, '^\\.+', ''))) > 0
             ELSE len(list_filter({targets}, t ->
                  ends_with({file}, '.' || regexp_replace(t, '^\\.+', '')))) > 0
        END
    )"""


# -------------------------------------------------------------- F4 exclude
def exclude_match(file: Column, patterns: Column) -> Column:
    """TRUE when the row should be KEPT (no pattern matches). Patterns are
    lowercased; path lowercased. NB: the first clause (plain contains)
    subsumes the others — preserved verbatim from the reference."""
    file_lower = F.lower(file)

    def one(p: Column) -> Column:
        pl = F.lower(p)
        return (
            file_lower.contains(pl)
            | file_lower.contains(F.concat(F.lit("/"), pl, F.lit("/")))
            | file_lower.startswith(F.concat(pl, F.lit("/")))
            | file_lower.endswith(F.concat(F.lit("/"), pl))
        )

    return _disabled(patterns) | ~F.exists(patterns, one)


def exclude_match_sql(file: str, patterns: str) -> str:
    return f"""(
        {patterns} IS NULL OR len({patterns}) = 0 OR
        len(list_filter({patterns}, p ->
            contains(lower({file}), lower(p))
            OR contains(lower({file}), '/' || lower(p) || '/')
            OR starts_with(lower({file}), lower(p) || '/')
            OR ends_with(lower({file}), '/' || lower(p))
        )) = 0
    )"""


# ------------------------------------------------------------ F2-F4 scope
def scope_match() -> Column:
    """F2 ∧ F3 ∧ F4 over the standard column names: ``file`` and
    ``extension`` from the candidate, ``target_folders``,
    ``target_extensions`` and ``exclude_patterns`` from the
    classification."""
    file = F.col("file")
    return (
        folder_match(file, F.col("target_folders"))
        & extension_match(F.col("extension"), file, F.col("target_extensions"))
        & exclude_match(file, F.col("exclude_patterns"))
    )


# ---------------------------------------------------------- F5 code vs doc
# F5, F8 and the O5 language match are SQL text for BOTH engines:
# ``ranking.reference_rank`` passes it to Spark's ``selectExpr`` and the
# oracle embeds it in DuckDB SQL, so every function used here must exist
# in both dialects (suffix tests are LIKE, not ends_with/endswith).
_PATH_DOC_MARKERS = ["/docs/", "readme", "resources", "changelog", "license"]


def is_code_sql(ext: str, file: str) -> str:
    """High-confidence branch partition (hyde.rs:1016-1056): with an
    extension, code = ext ∉ {md,txt,rst,adoc}; without, path analysis."""
    doc_exts = ", ".join(f"'{e}'" for e in DOC_EXTENSIONS)
    not_markers = " AND ".join(
        f"NOT contains(lower({file}), '{m}')" for m in _PATH_DOC_MARKERS
    )
    return f"""(
        CASE WHEN {ext} IS NOT NULL THEN {ext} NOT IN ({doc_exts})
             ELSE NOT lower({file}) LIKE '%.md'
                  AND NOT lower({file}) LIKE '%.txt'
                  AND {not_markers}
        END
    )"""


def is_doc_simple_sql(ext: str) -> str:
    """Low-confidence branch doc flag (hyde.rs:1190-1199): ext-only,
    {md,txt,rst} — the reference omits adoc here; quirk preserved."""
    exts = ", ".join(f"'{e}'" for e in DOC_EXTENSIONS_SIMPLE)
    return f"(COALESCE({ext} IN ({exts}), FALSE))"


# ----------------------------------------------------------- F8 confidence
def high_confidence_code_sql(wants_code: str, confidence: str) -> str:
    """Branch gate (hyde.rs:1008): wants_code AND confidence > 0.7."""
    return f"({wants_code} AND {confidence} > 0.7)"


# ------------------------------------------------------ O5 language match
def lang_match_sql(language: str, extension: str, target_lang: str) -> str:
    """O5 (hyde.rs:1065-1103): the metadata language equals the target
    case-insensitively, OR the extension-detected language's display name
    does."""
    detected = detect_language_sql_case(extension)
    return f"""(
        COALESCE(lower({language}) = lower({target_lang}), FALSE)
        OR COALESCE(lower({detected}) = lower({target_lang}), FALSE)
    )"""
