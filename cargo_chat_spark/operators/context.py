"""P6 context assembly, reference-exact format (SURVEY §2.2 P6).

One formatter, :func:`format_prompt`, builds the prompt of hyde.rs:645-740
character for character from a question's ranked rows: ``retrieve()``
calls it on the rows it collected, and :func:`assemble_prompt` runs it
per ``query_id`` group of a DataFrame (the ``context_assembly`` gate).

- snippet block per candidate (idx+1 header, cleaned path, ".ext" suffix,
  " [LANG]" uppercased, 3-decimal distance, **Chunk ID** = the 0-based
  enumerate rank — the §2.11 quirk, NOT a corpus id)
- fence language = candidate language, defaulting to "rust" (the
  reference's unwrap_or("rust"), quirk preserved)
- intent-conditioned instruction (hyde.rs:688-694)
- system context from the repo profile description, else the generic line
- fixed investigative response template (hyde.rs:696-719)

Rust's ``trim()`` strips exactly Unicode ``White_Space`` (``str.strip()``
also strips U+001C-U+001F; the JVM's regex ``\\s`` only ASCII), and its
``{:.3}`` rounds the exact binary value, as Python's ``'%.3f'`` does
(Java's rounds the shortest decimal half-up: 0.0625 -> 0.063, not 0.062).
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import Column, DataFrame

INTENT_INSTRUCTIONS = {
    "how_it_works": "Focus on tracing the execution flow and explaining the algorithmic approach. Show how data moves through the system and what makes each component work internally.",
    "implementation": "Examine the code patterns and implementation techniques. Show concrete examples of how the system is built and what patterns can be reused.",
    "explanation": "Provide a comprehensive explanation that connects high-level concepts to specific implementation details. Make complex algorithms accessible while maintaining technical accuracy.",
    "debugging": "Analyze potential failure points and debugging strategies. Look for error patterns, edge cases, and areas for improvement in the provided code.",
}
DEFAULT_INSTRUCTION = "Analyze the code systematically to provide a complete understanding of how this part of the system works."

# The reference template contains trailing double-spaces on two lines
# (markdown hard breaks) — {SP2} placeholders keep them survivable under
# editor whitespace-stripping.
OUTPUT_TEMPLATE = """===== RESPONSE TEMPLATE =====

## 1. Analysis Overview
<One sentence restating the user's question and what you discovered>

## 2. Investigation Plan{SP2}
<2-4 bullets outlining your analytical approach based on the code references>

## 3. Code Analysis
<For each relevant code reference, explain:>
- **Code Reference X** (file_path): <explanation of what this code does and its role>
- **Key Functions/Structures:** <important symbols found>
- **Role in System:** <how this fits into the bigger picture>

## 4. System Flow & Architecture
<Narrative explanation connecting all the pieces:>
- <How the components interact>
- <Data flow through the system>{SP2}
- <Key architectural decisions visible in the code>

## 5. Core Insight
<The fundamental concept or mechanism that makes this system work - explain the "why" behind the implementation>

=============================""".replace("{SP2}", "  ")

# Rust's char::is_whitespace: the Unicode White_Space property
RUST_WHITESPACE = "".join(
    map(chr, [9, 10, 11, 12, 13, 32, 0x85, 0xA0, 0x1680, *range(0x2000, 0x200B),
              0x2028, 0x2029, 0x202F, 0x205F, 0x3000])
)


def format_prompt(
    question: str, intent: str | None, rows, repo_description: str | None = None
) -> str:
    """The user prompt (hyde.rs:722-740) for ``rows`` in rank order: mappings
    with ``rank, file, code, language, extension, distance`` and an optional
    ``chunk_index``, one "## Code Reference N" block each (hyde.rs:648-685).

    **Chunk ID** prints ``chunk_index``, the 0-based position in the RAW
    k*2 similarity output, assigned BEFORE filtering/rerank
    (hyde.rs:1227-1231), so filtered results print non-contiguous ids, like
    the reference; without it, it prints rank-1."""
    blocks = []
    for r in rows:
        clean = re.sub(r"^(\./)+", "", r["file"])
        ext_info = f".{r['extension']}" if r["extension"] is not None else ""
        lang = r["language"]
        lang_info = f" [{lang.upper()}]" if lang is not None else ""
        cid = r.get("chunk_index")
        # Rust prints NaN as NaN and infinities as inf, -inf
        dist = "NaN" if math.isnan(r["distance"]) else "%.3f" % r["distance"]
        blocks.append(
            f"## Code Reference {r['rank']} - {clean}{ext_info}{lang_info}\n"
            f"**Location:** {clean}\n"
            f"**Relevance Score:** {dist} (lower = more relevant)\n"
            f"**Chunk ID:** {r['rank'] - 1 if cid is None else int(cid)}\n\n"
            f"```{lang if lang is not None else 'rust'}\n"
            f"{r['code'].strip(RUST_WHITESPACE)}```\n"
        )
    system_context = (
        f"You are analyzing {repo_description}"
        if repo_description
        else "You are analyzing a software repository"
    )
    return (
        f"# User Query\n{question}\n\n"
        f"# Analysis Task\n{INTENT_INSTRUCTIONS.get(intent, DEFAULT_INSTRUCTION)}\n\n"
        f"# System Context\n{system_context}\n\n"
        f"# Available Code References\n" + "\n\n".join(blocks)
        + "\n\n" + OUTPUT_TEMPLATE
    )


def assemble_prompt(
    ranked: DataFrame,
    query_text: Column,
    repo_description: str | None = None,
) -> DataFrame:
    """ranked (query_id, rank, file, code, language, extension, distance,
    intent, optionally chunk_index) → one ``(query_id, user_prompt)`` row
    per query: :func:`format_prompt` over each ``query_id`` group, in rank
    order, with the group's first ``query_text`` as the question."""
    cols = ["rank", "file", "code", "language", "extension", "distance"]
    if "chunk_index" in ranked.columns:
        cols.append("chunk_index")

    def prompt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rank")
        text = format_prompt(
            pdf["_query_text"].iloc[0], pdf["intent"].iloc[0],
            pdf[cols].to_dict("records"), repo_description,
        )
        return pd.DataFrame({"query_id": [pdf["query_id"].iloc[0]], "user_prompt": [text]})

    key_type = ranked.schema["query_id"].dataType.simpleString()
    return (
        ranked.select("query_id", query_text.alias("_query_text"), "intent", *cols)
        .groupBy("query_id")
        .applyInPandas(prompt, f"query_id {key_type}, user_prompt string")
    )
