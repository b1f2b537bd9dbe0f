"""Classification-driven candidate filters (SURVEY §2.3 F2-F5, F8).

The scope filters F2-F4 have three forms, deliberately adjacent so they
cannot drift: Spark SQL text (``_folder_spark`` & co.), which the Column
forms ``folder_match``, ``extension_match``, ``exclude_match`` and
``scope_match`` parse with one ``F.expr`` each; a DuckDB SQL emitter
used by the oracle queries; and :func:`scope_keep`, one row in plain
Python, which ``plans.retrieval.retrieve`` runs in the driver over a
question's hits. All three keep SQL ``exists``'s three-valued result: a
NULL scope element matches nothing, and where no element matches it
leaves the predicate NULL. ``tests/test_driver_ranking.py`` checks the
Python form against the Spark form, and the DuckDB form against the
Python form, on every row of a few hundred random questions. The ranking
predicates (F5, F8 and the O5 language
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

Scale note: these are pure predicates over already-partitioned data, so
at 100 TB they cost a scan, never a shuffle. In reference mode they run on
the k-NN's top-2k rows; in "improved mode" (plans.retrieval) they run
BEFORE the k-NN, over the index scan.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from cargo_chat_spark.functions.language import (
    DOC_EXTENSIONS,
    DOC_EXTENSIONS_SIMPLE,
    detect_language_sql_case,
)

# a plain name never starts with "_", the prefix of the Spark SQL lambda
# variables below, so a lambda never shadows a column it reads
_PLAIN_NAME = re.compile(r"[A-Za-z][A-Za-z0-9_]*")


def _name(col: Column) -> str:
    """The SQL name of a plain column reference such as ``F.col("file")``
    (one py4j call); ``TypeError`` for anything else."""
    name = col._jc.toString() if isinstance(col, Column) else None
    if name is None or not _PLAIN_NAME.fullmatch(name):
        raise TypeError(f"expected a plain column name, got {col!r}")
    return name


def _exists_duckdb(items: str, var: str, pred: str) -> str:
    """SQL ``exists(items, var -> pred)`` over a non-NULL DuckDB list:
    TRUE if ``pred`` holds for an element, else NULL if it is NULL for
    one, else FALSE (DuckDB's ``list_filter`` drops a NULL verdict)."""
    return f"""(CASE
        WHEN len(list_filter({items}, {var} -> {pred})) > 0 THEN TRUE
        WHEN len(list_filter({items}, {var} -> ({pred}) IS NULL)) > 0 THEN NULL
        ELSE FALSE END)"""


# ---------------------------------------------------------------- F2 folder
def _folder_spark(file: str, folders: str) -> str:
    """∃ folder f: file contains "/f/" OR file startswith "f/" OR
    (file contains "/f" AND file endswith "/" + last-segment(f))."""
    return f"""({folders} IS NULL OR size({folders}) = 0 OR exists({folders}, _f ->
        contains({file}, concat('/', _f, '/'))
        OR startswith({file}, concat(_f, '/'))
        OR (contains({file}, concat('/', _f))
            AND endswith({file}, concat('/', element_at(split(_f, '/'), -1))))))"""


def folder_match(file: Column, folders: Column) -> Column:
    """F2 over two plain column references, e.g. ``F.col("file")``."""
    return F.expr(_folder_spark(_name(file), _name(folders)))


def folder_match_sql(file: str, folders: str) -> str:
    match = f"""
            contains({file}, '/' || f || '/')
            OR starts_with({file}, f || '/')
            OR (contains({file}, '/' || f)
                AND ends_with({file}, '/' || list_extract(string_split(f, '/'), len(string_split(f, '/')))))"""
    return f"""(
        {folders} IS NULL OR len({folders}) = 0 OR
        {_exists_duckdb(folders, "f", match)}
    )"""


# ------------------------------------------------------------- F3 extension
def _extension_spark(ext: str, file: str, targets: str) -> str:
    """Dot-normalized equality on extension; path-suffix fallback when the
    extension column is NULL."""
    return f"""({targets} IS NULL OR size({targets}) = 0 OR CASE WHEN {ext} IS NOT NULL
        THEN exists({targets}, _t ->
            regexp_replace({ext}, '^[.]+', '') = regexp_replace(_t, '^[.]+', ''))
        ELSE exists({targets}, _t ->
            endswith({file}, concat('.', regexp_replace(_t, '^[.]+', ''))))
        END)"""


def extension_match(ext: Column, file: Column, targets: Column) -> Column:
    """F3 over three plain column references."""
    return F.expr(_extension_spark(_name(ext), _name(file), _name(targets)))


def extension_match_sql(ext: str, file: str, targets: str) -> str:
    by_ext = f"regexp_replace({ext}, '^\\.+', '') = regexp_replace(t, '^\\.+', '')"
    by_path = f"ends_with({file}, '.' || regexp_replace(t, '^\\.+', ''))"
    return f"""(
        {targets} IS NULL OR len({targets}) = 0 OR
        CASE WHEN {ext} IS NOT NULL
             THEN {_exists_duckdb(targets, "t", by_ext)}
             ELSE {_exists_duckdb(targets, "t", by_path)}
        END
    )"""


# -------------------------------------------------------------- F4 exclude
def _exclude_spark(file: str, patterns: str) -> str:
    """TRUE when the row should be KEPT (no pattern matches). Patterns are
    lowercased; path lowercased. NB: the first clause (plain contains)
    subsumes the others — preserved verbatim from the reference."""
    return f"""({patterns} IS NULL OR size({patterns}) = 0 OR NOT exists({patterns}, _p ->
        contains(lower({file}), lower(_p))
        OR contains(lower({file}), concat('/', lower(_p), '/'))
        OR startswith(lower({file}), concat(lower(_p), '/'))
        OR endswith(lower({file}), concat('/', lower(_p)))))"""


def exclude_match(file: Column, patterns: Column) -> Column:
    """F4 over two plain column references."""
    return F.expr(_exclude_spark(_name(file), _name(patterns)))


def exclude_match_sql(file: str, patterns: str) -> str:
    match = f"""
            contains(lower({file}), lower(p))
            OR contains(lower({file}), '/' || lower(p) || '/')
            OR starts_with(lower({file}), lower(p) || '/')
            OR ends_with(lower({file}), '/' || lower(p))"""
    return f"""(
        {patterns} IS NULL OR len({patterns}) = 0 OR
        NOT {_exists_duckdb(patterns, "p", match)}
    )"""


# ------------------------------------------------------------ F2-F4 scope
def scope_match() -> Column:
    """F2 ∧ F3 ∧ F4 over the standard column names, as one parse:
    ``file`` and ``extension`` from the candidate, ``target_folders``,
    ``target_extensions`` and ``exclude_patterns`` from the
    classification."""
    return F.expr(" AND ".join([
        _folder_spark("file", "target_folders"),
        _extension_spark("extension", "file", "target_extensions"),
        _exclude_spark("file", "exclude_patterns"),
    ]))


def _exists(items, pred):
    """SQL ``exists``: TRUE if ``pred`` holds for an element, else NULL
    (None) if an element is NULL, else FALSE."""
    hits = [None if x is None else pred(x) for x in items]
    return True if True in hits else (None if None in hits else False)


def scope_keep(file: str, ext: str | None, folders, exts, excludes) -> bool:
    """``scope_match()`` of one row in plain Python: ``file`` and ``ext``
    are the candidate's, the rest the classification's three scopes.
    A NULL scope element matches nothing, and where no element matches
    it leaves the predicate NULL, which drops the row, as in Spark."""

    def folder(f):
        return (f"/{f}/" in file or file.startswith(f + "/")
                or (f"/{f}" in file and file.endswith("/" + f.split("/")[-1])))

    def extension(t):
        t = t.lstrip(".")
        return ext.lstrip(".") == t if ext is not None else file.endswith("." + t)

    low = file.lower()

    def excluded(p):
        # exclude_match's plain contains, which its other clauses imply
        return p.lower() in low

    return ((not folders or _exists(folders, folder) is True)
            and (not exts or _exists(exts, extension) is True)
            and (not excludes or _exists(excludes, excluded) is False))


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
