"""P6 reference-format parity: the Spark prompt must equal an independent
Python re-derivation of hyde.rs:645-740's formatting, character for
character."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cargo_chat_spark.operators import context as C

ROWS = [
    # (rank, file, code, language, extension, distance, chunk_index)
    # chunk_index is the PRE-FILTER enumerate position (hyde.rs:1227-1231):
    # non-contiguous values pin that filters leave holes in printed ids
    (1, "./src/hyde.rs", "fn hyde_impl() {}\n", "Rust", "rs", 0.312, 0),
    (2, "src/main.rs", "  fn main() {}  ", None, "rs", 0.4, 3),
    (3, "README.md", "# Docs", "Markdown", None, 0.55, 5),
    # Rust's {:.3} rounds the exact binary value (checked with rustc):
    # 0.0625 -> 0.062, 0.1235 -> 0.123, 1.0005 -> 1.000; NaN prints NaN
    (4, "src/a.rs", "fn a() {}", "Rust", "rs", 0.0625, 6),
    (5, "src/b.rs", "fn b() {}", "Rust", "rs", 0.1235, 7),
    (6, "src/c.rs", "fn c() {}", "Rust", "rs", 1.0005, 8),
    (7, "src/d.rs", "fn d() {}", "Rust", "rs", float("nan"), 9),
    # str::trim strips U+00A0 and U+2003 (White_Space) but keeps U+001C
    (8, "src/e.rs", "\u00a0\u2003fn e() {}\u2003\u00a0", "Rust", "rs", 0.9, 10),
    (9, "src/f.rs", "\u001c fn f() {} \u001c", "Rust", "rs", 0.95, 11),
]
# Rust's char::is_whitespace (Unicode White_Space), written out here so
# the mirror does not share the engine's list
WHITE_SPACE = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005"
    "\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)
QUERY = "how does retrieval work"
INTENT = "how_it_works"


def _expected(rows=ROWS, query=QUERY) -> str:
    # independent mirror of the Rust format! calls
    snippets = []
    for rank, file, code, lang, ext, dist, cidx in rows:
        lang_info = f" [{lang.upper()}]" if lang else ""
        ext_info = f".{ext}" if ext else ""
        clean = file
        while clean.startswith("./"):
            clean = clean[2:]
        snippets.append(
            f"## Code Reference {rank} - {clean}{ext_info}{lang_info}\n"
            f"**Location:** {clean}\n"
            f"**Relevance Score:** {'NaN' if math.isnan(dist) else f'{dist:.3f}'}"
            " (lower = more relevant)\n"
            f"**Chunk ID:** {cidx}\n\n"
            f"```{lang or 'rust'}\n"
            f"{code.strip(WHITE_SPACE)}```\n"
        )
    instruction = C.INTENT_INSTRUCTIONS[INTENT]
    return (
        f"# User Query\n{query}\n\n# Analysis Task\n{instruction}\n\n"
        f"# System Context\nYou are analyzing a software repository\n\n"
        f"# Available Code References\n" + "\n\n".join(snippets) + "\n\n"
        + C.OUTPUT_TEMPLATE
    )


def test_prompt_matches_reference_format(spark):
    df = spark.createDataFrame(
        [
            (0, r[0], r[1], r[2], r[3], r[4], float(r[5]), r[6], INTENT, QUERY)
            for r in ROWS
        ],
        "query_id bigint, rank int, file string, code string, language string, "
        "extension string, distance double, chunk_index int, intent string, "
        "query_text string",
    )
    out = C.assemble_prompt(df, F.col("query_text")).collect()
    assert len(out) == 1
    got = out[0]["user_prompt"]
    exp = _expected()
    assert got == exp, (
        "first divergence at char "
        f"{next((i for i, (a, b) in enumerate(zip(got, exp)) if a != b), min(len(got), len(exp)))}:"
        f"\n...got: {got[:200]!r}\n...exp: {exp[:200]!r}"
    )


def test_template_preserves_hard_breaks():
    # the two markdown hard-break lines from hyde.rs:701/713
    assert "## 2. Investigation Plan  \n" in C.OUTPUT_TEMPLATE
    assert "- <Data flow through the system>  \n" in C.OUTPUT_TEMPLATE


def test_format_prompt_matches_reference_format():
    """The driver-side formatter retrieve() calls, over mappings."""
    keys = ("rank", "file", "code", "language", "extension", "distance", "chunk_index")
    rows = [dict(zip(keys, r)) for r in ROWS]
    assert C.format_prompt(QUERY, INTENT, rows) == _expected()


def test_rust_rounding_and_whitespace_literals():
    """The rustc-checked spellings, pinned as literals."""
    got = C.format_prompt(QUERY, INTENT, [
        dict(zip(("rank", "file", "code", "language", "extension", "distance"), r))
        for r in ROWS
    ])
    for score in ("0.062", "0.123", "1.000", "NaN"):
        assert f"**Relevance Score:** {score} (lower" in got
    assert "```Rust\nfn e() {}```" in got
    assert "```Rust\n\u001c fn f() {} \u001c```" in got


def _frame(spark, rows_by_query, with_chunk_index=True):
    cols = "rank int, file string, code string, language string, " \
        "extension string, distance double, "
    return spark.createDataFrame(
        [
            (qid, *r[:5], float(r[5]), *(r[6:] if with_chunk_index else ()), INTENT, q)
            for qid, (q, rows) in rows_by_query.items()
            for r in rows
        ],
        "query_id bigint, " + cols
        + ("chunk_index int, " if with_chunk_index else "")
        + "intent string, query_text string",
    )


def test_assemble_prompt_one_row_per_query(spark):
    by_query = {7: ("first question", ROWS[:4]), 9: ("second question", ROWS[4:])}
    out = C.assemble_prompt(_frame(spark, by_query), F.col("query_text")).collect()
    got = {r["query_id"]: r["user_prompt"] for r in out}
    assert got == {qid: _expected(rows, q) for qid, (q, rows) in by_query.items()}


def test_assemble_prompt_without_chunk_index_prints_rank_minus_one(spark):
    df = _frame(spark, {0: (QUERY, ROWS)}, with_chunk_index=False)
    assert "chunk_index" not in df.columns
    out = C.assemble_prompt(df, F.col("query_text")).collect()
    assert [r["user_prompt"] for r in out] == [
        _expected([(*r[:6], r[0] - 1) for r in ROWS])
    ]


def test_assemble_prompt_of_empty_frame_has_no_rows(spark):
    df = _frame(spark, {0: (QUERY, ROWS)}).limit(0)
    assert C.assemble_prompt(df, F.col("query_text")).collect() == []
