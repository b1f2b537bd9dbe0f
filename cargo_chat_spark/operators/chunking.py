"""Document chunking — the P3 flatMap (SURVEY §2.2 P3, §3.1 step 1).

The reference splits files into ≤1000-char syntax-aware chunks with a
tree-sitter splitter (/root/reference/src/chunker.rs:64-116, cap at
chunker.rs:70). ``build_index`` chunks with ``chunk_text``, a fixed
char-window splitter whose boundaries are OUR spec (SURVEY §7 risk
register): non-overlapping windows of ``max_chars``, last window shorter,
empty text → no chunks. ``chunk_text_sql`` restates it for the DuckDB
oracle. Syntax-aware splitting, if it comes, replaces ``chunk_text`` here
rather than sitting next to it.

Spark shape: explode(sequence(...)) + substring — a pure JVM flatMap, one
row in / ceil(len/max) rows out, no Python, no shuffle; scales linearly and
keeps column pruning (only ``text`` is read from the scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    max_chars: int = 1000,
) -> DataFrame:
    """Explode each row into char-window chunks.

    Output: id_cols + chunk_seq (0-based), chunk_text, chunk_len.
    """
    n = F.ceil(F.length(F.col(text_col)) / F.lit(max_chars)).cast("int")
    seq = F.explode(F.sequence(F.lit(0), n - 1))
    out = (
        df.where(F.length(F.col(text_col)) > 0)
        .withColumn("chunk_seq", seq)
        .withColumn(
            "chunk_text",
            F.substring(
                F.col(text_col), F.col("chunk_seq") * max_chars + 1, max_chars
            ),
        )
    )
    return out.select(
        *id_cols,
        "chunk_seq",
        "chunk_text",
        F.length("chunk_text").alias("chunk_len"),
    )


def chunk_text_sql(
    table: str,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    max_chars: int = 1000,
) -> str:
    ids = ", ".join(id_cols)
    return f"""
    SELECT {ids},
           CAST(s.i AS INT) AS chunk_seq,
           substring({text_col}, CAST(s.i AS INT) * {max_chars} + 1, {max_chars}) AS chunk_text,
           length(substring({text_col}, CAST(s.i AS INT) * {max_chars} + 1, {max_chars})) AS chunk_len
    FROM {table},
         LATERAL unnest(generate_series(0,
             CAST(ceil(length({text_col}) / CAST({max_chars} AS DOUBLE)) AS INT) - 1)) AS s(i)
    WHERE length({text_col}) > 0
    """
