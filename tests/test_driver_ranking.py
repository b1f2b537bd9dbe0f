"""The driver's scope filter and ranking against the Spark forms.

``plans.retrieval`` serves a question over its driver-resident index with
``filters.scope_keep`` and ``ranking.rank_rows``, and every other question
with ``filters.scope_match`` and ``ranking.reference_rank``. Over a few
hundred random questions in one DataFrame (one ``query_id`` each), every
row's scope verdict and every question's ranked rows must be the same.

The generator covers NULL extensions and languages, an extension with
its dot, doc extensions in both cases, non-ASCII paths, exact distance ties, NaN distances, the
confidence thresholds (and a NaN confidence), every intent and None,
``how_it_works`` with 2 and 3 code hits, k from 1 to 10, and scopes with
leading dots, trailing slashes, upper case and a NULL element.
"""

from __future__ import annotations

import math
import random
from collections import Counter, defaultdict

from cargo_chat_spark.operators import filters, ranking

N_QUESTIONS = 300
DDL = (
    "query_id bigint, chunk_id bigint, file string, extension string, "
    "language string, distance double, q_language string, intent string, "
    "wants_code boolean, confidence double, k int, "
    "target_folders array<string>, target_extensions array<string>, "
    "exclude_patterns array<string>"
)
# (file, extension, language)
FILES = [
    ("src/main.rs", "rs", "Rust"), ("src/lib.rs", "rs", None),
    ("src/parser/mod.rs", "rs", "rust"), ("lib/utils.py", "py", "Python"),
    ("app/server.PY", "PY", None), ("web/app.js", "js", "JavaScript"),
    ("README.md", "md", "Markdown"), ("docs/guide.md", "md", None),
    ("docs/API.MD", "MD", None), ("notes/todo.txt", "txt", None),
    ("CHANGELOG.Txt", "Txt", None), ("guide/intro.rst", "rst", None),
    ("guide/book.adoc", "adoc", None), ("LICENSE", None, None),
    ("src/readme_helper", None, None), ("tests/test_main.rs", "rs", "Rust"),
    ("target/debug/main", None, None), ("docs/setup.md", None, None),
    ("scripts/run.txt", None, None), ("resources/logo.svg", "svg", None),
    ("src/Ünïcode/Straße.rs", "rs", "Rust"), ("docs/ΣΟΦΙΑ/ΟΔΗΓΟΣ.md", "md", None),
    ("src/日本語/main.py", "py", "Python"), ("DOCS/Grüße.MD", "MD", None),
    ("pkg/include/vec.hpp", "hpp", "C++"), ("cmd/tool/main.go", "go", None),
    ("src/dotted.rs", ".rs", None),
]
INTENTS = ["how_it_works", "implementation", "debugging", "explanation", "other", None]
CONFIDENCES = [0.5, 0.7, 0.75, 0.8, 0.85, math.nan]
LANGUAGES = [None, "rust", "Rust", "python", "markdown", "C++", "go"]
FOLDERS = [None, [], ["src"], ["src/"], ["docs", "lib"], ["src/parser"], ["Ünïcode"],
           ["tests", None], ["nope"]]
EXTENSIONS = [None, [], ["rs"], [".rs", "..py"], ["md", "MD"], [".txt"], ["PY"],
              [None, "go"], ["svg", "rst"]]
EXCLUDES = [None, [], ["test"], ["TARGET", "docs/"], ["readme"], ["straße"], ["ΣΟΦΙΑ"],
            [None], ["src/", "LICENSE"]]
DISTANCES = [0.1, 0.25, 0.25, 0.5, 0.5, 0.5, 1.0, math.nan]


def _questions(seed: int = 9) -> list[tuple]:
    """N_QUESTIONS random questions, then two ``how_it_works`` questions
    in the doc-cap band (0.7 < confidence <= 0.8) with 2 and 3 code hits
    and two docs each, and one whose language matches only by extension."""
    rng = random.Random(seed)

    def scope(choices):  # each scope is off for about half the questions
        return rng.choice(choices) if rng.random() < 0.4 else None

    rows, chunk_id = [], 0
    for qid in range(N_QUESTIONS):
        cls = (rng.choice(LANGUAGES), INTENTS[qid % len(INTENTS)], rng.random() < 0.7,
               CONFIDENCES[qid // len(INTENTS) % len(CONFIDENCES)], 1 + qid % 10,
               scope(FOLDERS), scope(EXTENSIONS), scope(EXCLUDES))
        for _ in range(rng.randrange(1, 16)):
            file, ext, lang = rng.choice(FILES)
            dist = rng.choice(DISTANCES) if rng.random() < 0.6 else rng.random()
            rows.append((qid, chunk_id, file, ext, lang, dist, *cls))
            chunk_id += 1
    for qid, n_code in ((N_QUESTIONS, 2), (N_QUESTIONS + 1, 3)):
        cls = ("rust", "how_it_works", True, 0.75, 10, None, None, None)
        files = FILES[:n_code] + [FILES[6], FILES[7]]
        for i, (file, ext, lang) in enumerate(files):
            rows.append((qid, chunk_id, file, ext, lang, 0.1 * (len(files) - i), *cls))
            chunk_id += 1
    # O5 from an upper-case extension alone: with k=1 it outranks a nearer row
    cls = ("python", "implementation", True, 0.9, 1, None, None, None)
    for (file, ext, lang), dist in ((FILES[4], 0.5), (FILES[0], 0.1)):
        rows.append((N_QUESTIONS + 2, chunk_id, file, ext, lang, dist, *cls))
        chunk_id += 1
    rng.shuffle(rows)
    return rows


def _scoped(rows: list[tuple], names: list[str]) -> dict:
    """Each question's rows that ``scope_keep`` keeps, as dicts."""
    by_q = defaultdict(list)
    for row in rows:
        r = dict(zip(names, row))
        if filters.scope_keep(r["file"], r["extension"], r["target_folders"],
                              r["target_extensions"], r["exclude_patterns"]):
            by_q[r["query_id"]].append(r)
    return by_q


def test_driver_scope_filter_and_ranking_match_spark(spark):
    rows = _questions()
    df = spark.createDataFrame(rows, DDL)
    names = df.columns

    spark_keep = {r["chunk_id"]: r["keep"] is True for r in df.select(
        "chunk_id", filters.scope_match().alias("keep")).collect()}
    py_keep = {row[1]: filters.scope_keep(*row[2:4], *row[11:14]) for row in rows}
    assert spark_keep == py_keep
    assert 0.2 < sum(py_keep.values()) / len(py_keep) < 0.8

    ranked = ranking.reference_rank(df.where(filters.scope_match())).collect()
    spark_ranked = defaultdict(list)
    for r in sorted(ranked, key=lambda r: (r["query_id"], r["rank"])):
        spark_ranked[r["query_id"]].append(r.asDict())
    driver_ranked = {
        qid: out for qid, cands in _scoped(rows, names).items()
        if (out := ranking.rank_rows(cands))
    }
    assert spark_ranked.keys() == driver_ranked.keys()
    for qid, want in spark_ranked.items():
        # repr: a NaN distance or confidence is not equal to itself
        assert repr(driver_ranked[qid]) == repr(want), f"question {qid}"

    # the cases the generator is meant to reach, reached
    out = [r for rs in driver_ranked.values() for r in rs]
    assert any(math.isnan(r["distance"]) for r in out)
    assert any(math.isnan(r["confidence"]) for r in out)
    assert any(n > 1 for n in Counter((r["query_id"], r["distance"]) for r in out).values())
    assert any(0 < len(rs) < rs[0]["k"] for rs in driver_ranked.values())
    # how_it_works keeps one doc beside 2 code hits and none beside 3
    docs = {qid: sum(r["extension"] == "md" for r in driver_ranked[qid])
            for qid in (N_QUESTIONS, N_QUESTIONS + 1)}
    assert docs == {N_QUESTIONS: 1, N_QUESTIONS + 1: 0}
    assert [r["file"] for r in driver_ranked[N_QUESTIONS + 2]] == ["app/server.PY"]


def test_driver_ranking_of_no_rows_is_empty():
    assert ranking.rank_rows([]) == []
