"""The reference's own unit-test scenarios, ported verbatim
(SURVEY §5 strategy item 3):

- filtering/prioritization: /root/reference/src/hyde.rs:1451-1695
- repo profiling helpers:   /root/reference/src/repo.rs:488-562
- language detection:       /root/reference/src/language.rs:127-155

Where the reference's TestHyde copy diverges from production (it appends
ALL docs; production caps them via the intent doc-limit, SURVEY §2.11),
assertions follow PRODUCTION semantics and note the divergence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cargo_chat_spark.functions.language import (
    EXT_TO_LANGUAGE,
    LANGUAGE_EXTENSIONS,
    detect_language_expr,
)
from cargo_chat_spark.operators import filters, profile as P, ranking

_CAND_SCHEMA = (
    "chunk_id bigint, file string, code string, extension string, "
    "language string, distance double"
)
_CLS_SCHEMA = (
    "query_id bigint, q_language string, intent string, wants_code boolean, "
    "confidence double, target_folders array<string>, "
    "target_extensions array<string>, exclude_patterns array<string>, k int"
)


def _candidates(spark, rows):
    """create_test_result analog (hyde.rs:1243-1260): (file, code, ext,
    lang, distance); chunk_id = input position, reproducing Rust's
    stable-sort input order as the tie-break."""
    data = [
        (i, f, c, e, l, d) for i, (f, c, e, l, d) in enumerate(rows)
    ]
    return spark.createDataFrame(data, _CAND_SCHEMA).withColumn(
        "query_id", F.lit(0).cast("bigint")
    )


def _classification(spark, language, intent, wants_code, confidence,
                    folders=None, exts=None, excludes=None, k=10):
    """create_test_classification analog (hyde.rs:1262-1278)."""
    row = (0, language, intent, wants_code, float(confidence),
           folders, exts, excludes, k)
    return spark.createDataFrame([row], _CLS_SCHEMA)


def _selection(spark, cand_rows, cls_kwargs):
    c = _candidates(spark, cand_rows)
    cls = _classification(spark, **cls_kwargs)
    joined = c.join(F.broadcast(cls), "query_id")
    joined = joined.where(filters.scope_match())
    # final_sort=False: the reference's unit tests of
    # apply_llm_based_filtering itself (hyde.rs:1451-1549) — the SELECTION
    # order, before retrieve()'s final distance re-sort (hyde.rs:545-552)
    out = ranking.reference_rank(joined, final_sort=False)
    return [r["file"] for r in out.orderBy("rank").collect()]


def _ranked(spark, cand_rows, cls_kwargs) -> dict[str, list[str]]:
    """The files in retrieve()'s final order, from each ranker: Spark's
    ``scope_match`` + ``reference_rank``, and the driver's ``scope_keep``
    + ``rank_rows`` that ``retrieve()`` runs. The reference's unit tests
    assert the selection order (``_selection``); each scenario checks it
    in Spark, and checks this final order from both rankers."""
    cls_df = _classification(spark, **cls_kwargs)
    cls = cls_df.first().asDict()
    joined = _candidates(spark, cand_rows).join(F.broadcast(cls_df), "query_id")
    out = ranking.reference_rank(joined.where(filters.scope_match()))
    spark_files = [r["file"] for r in out.orderBy("rank").collect()]
    rows = [
        {"chunk_id": i, "file": f, "code": c, "extension": e,
         "language": lang, "distance": d, **cls}
        for i, (f, c, e, lang, d) in enumerate(cand_rows)
    ]
    kept = [r for r in rows if filters.scope_keep(
        r["file"], r["extension"], cls["target_folders"],
        cls["target_extensions"], cls["exclude_patterns"])]
    return {"spark": spark_files,
            "driver": [r["file"] for r in ranking.rank_rows(kept)]}


def test_retrieve_final_order_is_distance_sorted(spark):
    """End-to-end retrieve() order (hyde.rs:545-552): language priority
    decides survival, but the OUTPUT is re-sorted by ascending distance."""
    rows = [
        ("src/main.py", "def main():", "py", "python", 0.2),
        ("src/hyde.rs", "fn hyde_impl() {}", "rs", "rust", 0.3),
        ("src/app.js", "function app() {}", "js", "javascript", 0.1),
    ]
    for ranker, files in _ranked(spark, rows, dict(
            language="rust", intent="implementation", wants_code=True,
            confidence=0.9)).items():
        assert files == ["src/app.js", "src/main.py", "src/hyde.rs"], ranker


def test_final_resort_is_stable_on_distance_ties(spark):
    """retrieve()'s final sort is Rust's STABLE Vec sort (hyde.rs:545-552):
    exact distance ties keep the tiered selection order — the lang-matched
    rust row outranks the python row at equal distance even though the
    python row has the smaller chunk_id (ADVICE r2)."""
    rows = [
        ("src/main.py", "def main():", "py", "python", 0.2),   # chunk_id 0
        ("src/hyde.rs", "fn hyde_impl() {}", "rs", "rust", 0.2),  # chunk_id 1
    ]
    for ranker, files in _ranked(spark, rows, dict(
            language="rust", intent="implementation", wants_code=True,
            confidence=0.9)).items():
        assert files == ["src/hyde.rs", "src/main.py"], ranker


# --------------------------- hyde.rs:1451-1489 (code over docs, high conf)
def test_prioritizes_code_over_docs_when_wants_code_high_confidence(spark):
    rows = [
        ("README.md", "# Documentation", "md", None, 0.1),
        ("src/hyde.rs", "fn hyde_impl() {}", "rs", "rust", 0.3),
        ("docs/guide.md", "## Guide", "md", None, 0.2),
        ("src/main.rs", "fn main() {}", "rs", "rust", 0.4),
    ]
    # production: implementation intent drops ALL docs (hyde.rs:1135-1141);
    # the reference's TestHyde copy kept them — production wins (§2.11)
    cls = dict(language="rust", intent="implementation", wants_code=True,
               confidence=0.8)
    files = _selection(spark, rows, cls)
    assert files == ["src/hyde.rs", "src/main.rs"]
    for ranker, files in _ranked(spark, rows, cls).items():
        assert files == ["src/hyde.rs", "src/main.rs"], ranker


# ------------------------------- hyde.rs:1491-1526 (language priority)
def test_language_specific_prioritization(spark):
    rows = [
        ("src/main.py", "def main():", "py", "python", 0.2),
        ("src/hyde.rs", "fn hyde_impl() {}", "rs", "rust", 0.3),
        ("src/app.js", "function app() {}", "js", "javascript", 0.1),
    ]
    # the selection order, Spark only: the driver ranking returns only
    # the final order, which test_retrieve_final_order_is_distance_sorted
    # checks for both rankers over these rows
    files = _selection(spark, rows, dict(language="rust", intent="implementation",
                                         wants_code=True, confidence=0.9))
    # Rust first despite higher distance; others by distance
    assert files == ["src/hyde.rs", "src/app.js", "src/main.py"]


# ------------------------- hyde.rs:1528-1549 (low confidence, no reorder)
def test_low_confidence_preserves_distance_order(spark):
    rows = [
        ("README.md", "# Documentation", "md", None, 0.1),
        ("src/hyde.rs", "fn hyde_impl() {}", "rs", "rust", 0.3),
    ]
    cls = dict(language="rust", intent="implementation", wants_code=True,
               confidence=0.5)
    files = _selection(spark, rows, cls)
    assert files == ["README.md", "src/hyde.rs"]
    for ranker, files in _ranked(spark, rows, cls).items():
        assert files == ["README.md", "src/hyde.rs"], ranker
    # at k=1 the selection decides which row survives the final sort
    for ranker, files in _ranked(spark, rows, {**cls, "k": 1}).items():
        assert files == ["README.md"], ranker


# ----------------------------------- hyde.rs:1551-1589 (folder filter)
def test_folder_filtering(spark):
    rows = [
        ("src/main.rs", "fn main() {}", "rs", "rust", 0.1),
        ("tests/test.rs", "#[test] fn test() {}", "rs", "rust", 0.2),
        ("docs/guide.md", "# Guide", "md", None, 0.3),
        ("lib/utils.rs", "pub fn util() {}", "rs", "rust", 0.4),
    ]
    cls = dict(language="rust", intent="implementation", wants_code=True,
               confidence=0.8, folders=["src", "lib"])
    files = _selection(spark, rows, cls)
    assert set(files) == {"src/main.rs", "lib/utils.rs"}
    for ranker, files in _ranked(spark, rows, cls).items():
        assert set(files) == {"src/main.rs", "lib/utils.rs"}, ranker


# -------------------------------- hyde.rs:1591-1620 (extension filter)
def test_extension_filtering(spark):
    rows = [
        ("main.rs", "fn main() {}", "rs", "rust", 0.1),
        ("app.py", "def main():", "py", "python", 0.2),
        ("script.js", "function main() {}", "js", "javascript", 0.3),
        ("README.md", "# README", "md", None, 0.4),
    ]
    cls = dict(language=None, intent="implementation", wants_code=True,
               confidence=0.8, exts=["rs", "py"])
    files = _selection(spark, rows, cls)
    assert set(files) == {"main.rs", "app.py"}
    for ranker, files in _ranked(spark, rows, cls).items():
        assert set(files) == {"main.rs", "app.py"}, ranker


# ------------------------------- hyde.rs:1622-1656 (exclude patterns)
def test_exclude_patterns_filtering(spark):
    rows = [
        ("src/main.rs", "fn main() {}", "rs", "rust", 0.1),
        ("tests/test.rs", "#[test] fn test() {}", "rs", "rust", 0.2),
        ("target/debug/main", "binary", None, None, 0.3),
        ("docs/README.md", "# README", "md", None, 0.4),
    ]
    cls = dict(language="rust", intent="implementation", wants_code=True,
               confidence=0.8, excludes=["test", "target", "docs"])
    files = _selection(spark, rows, cls)
    assert files == ["src/main.rs"]
    for ranker, files in _ranked(spark, rows, cls).items():
        assert files == ["src/main.rs"], ranker


# ---------------------- hyde.rs:1658-1695 (combined folder + extension)
def test_combined_folder_extension_filtering(spark):
    rows = [
        ("src/main.rs", "fn main() {}", "rs", "rust", 0.1),
        ("src/lib.py", "def lib():", "py", "python", 0.2),
        ("tests/test.rs", "#[test] fn test() {}", "rs", "rust", 0.3),
        ("lib/utils.js", "function util() {}", "js", "javascript", 0.4),
    ]
    cls = dict(language="rust", intent="implementation", wants_code=True,
               confidence=0.8, folders=["src"], exts=["rs"])
    files = _selection(spark, rows, cls)
    assert files == ["src/main.rs"]
    for ranker, files in _ranked(spark, rows, cls).items():
        assert files == ["src/main.rs"], ranker


# ------------------------------ repo.rs:492-514 (human_list rendering)
def test_human_list_oxford_comma(spark):
    cases = [
        ([], ""),
        (["Rust"], "Rust"),
        (["Rust", "Python"], "Rust and Python"),
        (["Rust", "Python", "Go"], "Rust, Python, and Go"),
    ]
    df = spark.createDataFrame(
        [(i, items) for i, (items, _) in enumerate(cases)],
        "i int, items array<string>",
    )
    got = {r["i"]: r["out"] for r in
           df.select("i", P.human_list(F.col("items")).alias("out")).collect()}
    for i, (_, expect) in enumerate(cases):
        assert got[i] == expect


# ----------------------------------- repo.rs:516-524 (is_build_file)
def test_is_build_file(spark):
    cases = [("Cargo.toml", True), ("package.json", True), ("Makefile", True),
             ("GEMFILE", True), ("main.rs", False), ("notes.txt", False)]
    df = spark.createDataFrame(cases, "filename string, expect boolean")
    bad = df.where(P.is_build_file(F.col("filename")) != F.col("expect")).count()
    assert bad == 0


# ---------------------------- repo.rs:542-561 (project_type dispatch)
def test_project_type(spark):
    cases = [
        (0, ["Cargo.toml"], ["Rust"], "Rust project"),
        (1, ["package.json", "yarn.lock"], [], "Node.js project"),
        (2, ["Makefile"], ["Python"], "Python project"),   # unknown build → lang
        (3, [], [], "software project"),
    ]
    df = spark.createDataFrame(
        [(i, b, l) for i, b, l, _ in cases],
        "i int, build_files array<string>, primary_languages array<string>",
    )
    got = {r["i"]: r["pt"] for r in df.select(
        "i", P.project_type_expr(F.col("build_files"), F.col("primary_languages")).alias("pt")
    ).collect()}
    for i, _, _, expect in cases:
        assert got[i] == expect, f"case {i}: {got[i]} != {expect}"


# ------------------------- language.rs:127-155 (detection, all + case)
def test_language_detection_all_and_case_insensitive(spark):
    rows = [(e, lang) for e, lang in EXT_TO_LANGUAGE.items()]
    rows += [(e.upper(), lang) for e, lang in EXT_TO_LANGUAGE.items()]
    rows += [("xyz", None), ("", None)]
    df = spark.createDataFrame(rows, "ext string, expect string")
    bad = df.where(
        ~(
            detect_language_expr(F.col("ext")).eqNullSafe(F.col("expect"))
        )
    ).count()
    assert bad == 0
    # 12 languages, 24 extensions — the full table (language.rs:57-72)
    assert len(LANGUAGE_EXTENSIONS) == 12
    assert len(EXT_TO_LANGUAGE) == 24
