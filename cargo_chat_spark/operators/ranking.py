"""Reference retrieval ranking (SURVEY §2.5 O1-O7) as SQL window passes.

Reproduces apply_llm_based_filtering (/root/reference/src/hyde.rs:975-1215)
plus the final truncate(k) (hyde.rs:519) declaratively:

high-confidence code branch (wants_code AND confidence > 0.7):
  1. partition candidates into code/doc (filters.is_code_sql)
  2. code sorted by (lang_match_sql DESC when query.language set, distance)
  3. docs sorted by distance, capped at doc_limit:
       confidence > 0.8                      -> 0
       intent how_it_works, ≥3 code hits     -> 0, else 1
       intent implementation | debugging     -> 0
       intent explanation                    -> 1
       other                                 -> 0
  4. code first, then allowed docs
else branch:
  sort by (is_doc_simple_sql DESC when NOT wants_code, distance)

The reference relies on stable Vec sorts for tie order; Spark sorts are not
stable across partitions, so every ordering adds the chunk_id tie-break
(SURVEY §2.11) — this makes results totally ordered and oracle-hashable.

Three adjacent forms: ``reference_rank`` (SQL text for Spark), the same
F5/F8/O5 predicates embedded in the DuckDB oracles, and :func:`rank_rows`,
the ranking of one question's rows in plain Python, which
``plans.retrieval.retrieve`` runs in the driver (so a question over the
driver-resident index needs no Spark job); ``reference_rank`` ranks many
questions at once, in perfbench's bulk pass and the catalog. ``tests/test_driver_ranking.py`` checks
``rank_rows`` against ``reference_rank`` over a few hundred random
questions, and ``tests/test_reference_scenarios.py`` runs the
reference's scenarios through both.

Physical shape: every pass is one ``selectExpr``/``where`` over SQL
text (the F5/F8/O5 predicates come from the shared emitters in
``operators.filters``, the same text the DuckDB oracle embeds), so
building the plan costs tens of driver round trips; the same logic built
from Column expressions costs over a thousand, paid on every interactive
question. Both windows partition by query_id, so Catalyst plans ONE
shuffle on query_id shared by the two Window operators: the selection
rank with the code count beside it, then the final rank. No driver-side
loops, no UDFs; scales with executors × candidates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from cargo_chat_spark.functions.language import (
    DOC_EXTENSIONS, DOC_EXTENSIONS_SIMPLE, EXT_TO_LANGUAGE,
)
from cargo_chat_spark.operators import filters

# tier: branch A puts code first; branch B puts docs first only when NOT
# wants_code (hyde.rs:1184-1205). Language priority applies only in
# branch A, to code rows, when the classification carries a language
# (hyde.rs:1065-1103).
_TIER = """CASE WHEN _branch_a THEN CASE WHEN _is_code THEN 0 ELSE 1 END
    ELSE CASE WHEN NOT wants_code AND _is_doc_simple THEN 0 ELSE 1 END END"""
_LANGKEY = """CASE WHEN _branch_a AND _is_code AND q_language IS NOT NULL
    AND _lmatch THEN 0 ELSE 1 END"""
# One window spec carries the selection rank and the query's branch-A
# code count (a SUM over the whole partition), so both come from ONE
# Window operator.
_SEL_SPEC = "PARTITION BY query_id ORDER BY _tier, _langkey, distance, chunk_id"
_SELECT_COLS = (
    f"row_number() OVER ({_SEL_SPEC}) AS _sel_rank",
    f"""SUM(CASE WHEN _branch_a AND _is_code THEN 1 ELSE 0 END) OVER ({_SEL_SPEC}
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS _code_count""",
)
# doc caps: a branch-A doc survives while its distance rank among the
# query's docs is within the intent's limit (table above). In branch A
# every code row sorts before every doc and docs all have _langkey 1, so
# a doc's rank among the docs is _sel_rank - _code_count, and the rows a
# cap drops all sort after every row it keeps, so dropping them leaves
# the kept rows' _sel_rank unchanged.
_INCLUDED = """NOT _branch_a OR _is_code OR _sel_rank - _code_count <=
    CASE WHEN confidence > 0.8 THEN 0
         WHEN intent = 'how_it_works' THEN CASE WHEN _code_count >= 3 THEN 0 ELSE 1 END
         WHEN intent IN ('implementation', 'debugging') THEN 0
         WHEN intent = 'explanation' THEN 1
         ELSE 0 END"""
# The tiered order only decides WHICH rows survive truncate(k); the
# reference then re-sorts the truncated results purely by ascending
# distance (hyde.rs:545-552, non-rerank path). That Vec sort is STABLE: on
# exact distance ties it preserves the tiered selection order — so the
# final window tie-breaks on _sel_rank (the selection rank), not chunk_id
# (ADVICE r2). _sel_rank is unique per query, so the output stays totally
# ordered and oracle-hashable.
_FINAL_RANK = """row_number() OVER (
    PARTITION BY query_id ORDER BY distance, _sel_rank)"""


def reference_rank(candidates: DataFrame, final_sort: bool = True) -> DataFrame:
    """Input: candidate rows already joined with their query's
    classification columns (query_id, chunk_id, file, extension, language,
    distance, wants_code, confidence, intent, q_language, k).

    Output: rows surviving filtering + doc caps + truncate(k), with a
    1-based ``rank`` encoding the reference's output order.

    ``wants_code`` and ``confidence`` must be non-NULL, as the
    reference's ``bool`` and ``f32`` are (the HTTP provider rejects a
    classification without them). A NULL in either is outside the
    domain: this SQL and :func:`rank_rows` would keep different
    candidates (``rank_rows`` raises on a NULL confidence).

    ``final_sort=True`` models the full retrieve(): after truncate(k) the
    reference re-sorts the survivors purely by ascending distance
    (hyde.rs:545-552, non-rerank path) — the tier order only chooses WHICH
    rows survive. ``final_sort=False`` stops at the selection order, i.e.
    the output of apply_llm_based_filtering itself (what the reference's
    unit tests assert against, hyde.rs:1451-1549).
    """
    out_cols = [f"`{c}`" for c in candidates.columns if c != "rank"]
    flagged = candidates.selectExpr(
        "*",
        f"{filters.high_confidence_code_sql('wants_code', 'confidence')} AS _branch_a",
        f"{filters.is_code_sql('extension', 'file')} AS _is_code",
        f"{filters.is_doc_simple_sql('extension')} AS _is_doc_simple",
        f"{filters.lang_match_sql('language', 'extension', 'q_language')} AS _lmatch",
    )
    selected = (
        flagged.selectExpr("*", f"{_TIER} AS _tier", f"{_LANGKEY} AS _langkey")
        .selectExpr("*", *_SELECT_COLS)
        .where(f"_sel_rank <= k AND ({_INCLUDED})")
    )
    rank = _FINAL_RANK if final_sort else "_sel_rank"
    return selected.selectExpr(*out_cols, f"{rank} AS rank")


def _dist(d: float) -> tuple:
    """A distance's place in Spark SQL's ascending order: NaN after
    every number, and equal to NaN."""
    return (True, 0.0) if math.isnan(d) else (False, d)


def rank_rows(rows: list[dict]) -> list[dict]:
    """``reference_rank`` (``final_sort=True``) of ONE question's
    candidate rows, in the driver.

    ``rows`` are dicts with ``reference_rank``'s input columns, the
    classification repeated on each. Returns the surviving rows in final
    order, each with its 1-based ``rank`` appended. The steps are the
    SQL passes above, under Spark SQL's semantics where Python's differ:
    a NaN distance sorts after every number, and a NaN confidence is
    above every threshold (``NaN > 0.7`` is true).
    """
    if not rows:
        return []
    c = rows[0]
    wants, conf, q_lang = c["wants_code"], c["confidence"], c["q_language"]
    branch_a = wants and (math.isnan(conf) or conf > 0.7)  # F8
    keyed = []  # (_tier, _langkey, distance, chunk_id, _is_code, row)
    for r in rows:
        ext, path = r["extension"], r["file"].lower()
        is_code = (ext not in DOC_EXTENSIONS) if ext is not None else (  # F5
            not path.endswith((".md", ".txt"))
            and not any(m in path for m in filters._PATH_DOC_MARKERS))
        if branch_a:
            tier = 0 if is_code else 1
        else:
            tier = 0 if not wants and ext in DOC_EXTENSIONS_SIMPLE else 1
        names = (r["language"], EXT_TO_LANGUAGE.get(ext.lower()) if ext is not None else None)
        lmatch = q_lang is not None and any(  # O5
            n is not None and n.lower() == q_lang.lower() for n in names)
        langkey = 0 if branch_a and is_code and lmatch else 1
        keyed.append((tier, langkey, _dist(r["distance"]), r["chunk_id"], is_code, r))
    if branch_a:  # the doc caps, by (distance, chunk_id) among the docs
        if math.isnan(conf) or conf > 0.8:
            limit = 0
        elif c["intent"] == "how_it_works":
            limit = 0 if sum(t[4] for t in keyed) >= 3 else 1  # _code_count
        else:
            limit = 1 if c["intent"] == "explanation" else 0
        docs = sorted((t for t in keyed if not t[4]), key=lambda t: t[2:4])
        keyed = [t for t in keyed if t[4]] + docs[:limit]
    selected = sorted(keyed, key=lambda t: t[:4])[:max(c["k"], 0)]
    final = sorted(range(len(selected)), key=lambda i: (selected[i][2], i))
    return [{**selected[i][5], "rank": rank} for rank, i in enumerate(final, 1)]

