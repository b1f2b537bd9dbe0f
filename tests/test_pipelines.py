"""End-to-end pipeline tests: index build → retrieval under the mock
provider, repo scan, streaming incremental indexing, multimodal stubs.
Mirrors the reference's own scenario coverage (SURVEY §5) at pipeline
level."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from cargo_chat_spark.models.mock import MockProvider
from cargo_chat_spark.operators.multimodal import attach_media_columns, extract_features
from cargo_chat_spark.plans.indexing import build_index
from cargo_chat_spark.plans.retrieval import retrieve
from cargo_chat_spark.sources.index_io import read_index, read_profile, write_profile
from cargo_chat_spark.sources.repo import scan_repo
from cargo_chat_spark.streaming.incremental import (
    incremental_index_stream,
    windowed_event_counts,
)

DIM = 16


def _mk_repo(tmp_path):
    (tmp_path / "src").mkdir()
    (tmp_path / "docs").mkdir()
    (tmp_path / "target").mkdir()
    (tmp_path / "src" / "main.rs").write_text("fn main() { println!(\"hi\"); }\n" * 40)
    (tmp_path / "src" / "util.py").write_text("def util():\n    return 1\n" * 30)
    (tmp_path / "docs" / "guide.md").write_text("# Guide\nHow the main function works.\n")
    (tmp_path / "README.md").write_text("# Demo\nA tiny demo repo.\n")
    (tmp_path / "Cargo.toml").write_text("[dependencies]\ntokio = \"1\"\nserde = \"1\"\n")
    (tmp_path / "target" / "junk.rs").write_text("generated\n")
    (tmp_path / ".hidden.rs").write_text("secret\n")
    (tmp_path / ".gitignore").write_text("target/\n")
    return str(tmp_path)


def test_scan_repo_gitignore(spark, tmp_path):
    root = _mk_repo(tmp_path)
    files = scan_repo(spark, root, respects_gitignore=True)
    paths = {r["path"] for r in files.select("path").collect()}
    assert "src/main.rs" in paths
    assert "Cargo.toml" in paths
    # S1 standard filters: gitignored and hidden files excluded
    assert not any(p.startswith("target/") for p in paths)
    assert ".hidden.rs" not in paths
    # S3 no-gitignore walk sees them
    all_files = scan_repo(spark, root, respects_gitignore=False)
    all_paths = {r["path"] for r in all_files.select("path").collect()}
    assert "target/junk.rs" in all_paths


def test_scan_repo_reads_only_kept_files(spark, tmp_path):
    """The read lists exactly the walk's kept files: a gitignored build
    output is never an input file, and a name holding Hadoop glob
    metacharacters is read as itself."""
    root = _mk_repo(tmp_path)
    (tmp_path / "target" / "blob.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "src" / "a[1].rs").write_text("fn a() {}\n")
    (tmp_path / "src" / "b{c,d}.rs").write_text("fn b() {}\n")
    files = scan_repo(spark, root)
    inputs = files.inputFiles()
    assert inputs and not any("/target/" in p for p in inputs), inputs
    got = {r["path"]: r["content"] for r in files.collect()}
    assert got["src/a[1].rs"] == "fn a() {}\n"
    assert got["src/b{c,d}.rs"] == "fn b() {}\n"
    assert not any(p.startswith("target/") for p in got)


def test_non_utf8_file_is_skipped_not_fatal(spark, tmp_path):
    """One Latin-1 source file must not abort the index build: it is
    skipped, like a file the reference cannot read as a string
    (chunker.rs:80-87), and the UTF-8 file is indexed in full."""
    (tmp_path / "good.rs").write_text("fn good() { 1 }\n" * 30, encoding="utf-8")
    (tmp_path / "bad.rs").write_bytes("fn caf\xe9() { 2 }\n".encode("latin-1") * 30)
    index = build_index(scan_repo(spark, str(tmp_path)), MockProvider, DIM, max_chars=200)
    rows = index.select("file").collect()
    assert {r["file"] for r in rows} == {"good.rs"}
    assert len(rows) == 3  # 480 chars in 200-char windows


def test_gitignore_rule_semantics():
    """gitignore(5) pattern semantics matching the `ignore` crate's standard
    filters (chunker.rs:36-40) — pure matcher, no Spark."""
    from cargo_chat_spark.sources.repo import _Rule, _ignored

    def ignored(lines_by_base, rel, is_dir=False):
        rules = [_Rule(ln, base) for base, lines in lines_by_base for ln in lines]
        return _ignored(rel, rules, is_dir)

    # unanchored name matches at any depth; anchored (leading /) only at base
    assert ignored([("", ["foo.log"])], "a/b/foo.log")
    assert ignored([("", ["/foo.log"])], "foo.log")
    assert not ignored([("", ["/foo.log"])], "a/foo.log")
    # middle '/' anchors too (git: separator at start OR middle)
    assert ignored([("", ["doc/frotz"])], "doc/frotz", is_dir=True)
    assert not ignored([("", ["doc/frotz"])], "a/doc/frotz", is_dir=True)
    # dir-only pattern: matches dirs and their contents, not same-named files
    assert ignored([("", ["build/"])], "build", is_dir=True)
    assert ignored([("", ["build/"])], "build/x/y.o")
    assert not ignored([("", ["build/"])], "build", is_dir=False)
    # negation, last match wins — in-file order and nested-overrides-parent
    assert not ignored([("", ["*.log", "!keep.log"])], "keep.log")
    assert ignored([("", ["!keep.log", "*.log"])], "keep.log")
    assert not ignored(
        [("", ["*.tmp"]), ("sub", ["!special.tmp"])], "sub/special.tmp"
    )
    # nested .gitignore scopes to its own subtree
    assert ignored([("sub", ["*.gen"])], "sub/x.gen")
    assert not ignored([("sub", ["*.gen"])], "other/x.gen")
    # ** globs: leading crosses depth, middle matches zero-or-more dirs
    assert ignored([("", ["**/logs"])], "a/b/logs", is_dir=True)
    assert ignored([("", ["a/**/b"])], "a/b", is_dir=True)
    assert ignored([("", ["a/**/b"])], "a/x/y/b", is_dir=True)
    assert ignored([("", ["abc/**"])], "abc/anything/deep")
    # ? and character classes stop at '/'
    assert ignored([("", ["fo?.txt"])], "foo.txt")
    assert not ignored([("", ["fo?.txt"])], "fo/.txt")
    assert ignored([("", ["[a-c].rs"])], "b.rs")
    assert not ignored([("", ["[!a-c].rs"])], "b.rs")


def test_scan_repo_nested_and_negated_gitignore(spark, tmp_path):
    """S1 walk honors nested .gitignore files, ! re-inclusion, anchored and
    dir-only patterns; excluded-parent pruning is absolute."""
    (tmp_path / "src").mkdir()
    (tmp_path / "src" / "gen").mkdir()
    (tmp_path / "vendor").mkdir()
    (tmp_path / "logs").mkdir()
    (tmp_path / "src" / "main.rs").write_text("fn main() {}\n")
    (tmp_path / "src" / "debug.log").write_text("x\n")
    (tmp_path / "src" / "keep.log").write_text("x\n")
    (tmp_path / "src" / "gen" / "out.rs").write_text("x\n")
    (tmp_path / "src" / "gen" / "precious.rs").write_text("x\n")
    (tmp_path / "vendor" / "lib.rs").write_text("x\n")
    (tmp_path / "logs" / "a.txt").write_text("x\n")
    (tmp_path / "main.rs").write_text("fn other() {}\n")
    # root: ignore all .log, anchored /main.rs, dir-only logs/, vendor tree
    (tmp_path / ".gitignore").write_text(
        "*.log\n/main.rs\nlogs/\nvendor/\n"
    )
    # nested: re-include keep.log; ignore gen outputs except precious.rs
    (tmp_path / "src" / ".gitignore").write_text(
        "!keep.log\ngen/*.rs\n!gen/precious.rs\n"
    )
    paths = {
        r["path"]
        for r in scan_repo(spark, str(tmp_path), respects_gitignore=True)
        .select("path")
        .collect()
    }
    assert "src/main.rs" in paths
    assert "main.rs" not in paths          # anchored at root only
    assert "src/debug.log" not in paths    # parent *.log
    assert "src/keep.log" in paths         # nested negation overrides parent
    assert "src/gen/out.rs" not in paths   # nested scoped pattern
    assert "src/gen/precious.rs" in paths  # nested negation, same file
    assert not any(p.startswith("vendor/") for p in paths)  # pruned subtree
    assert not any(p.startswith("logs/") for p in paths)    # dir-only


def test_index_and_retrieve_reference_mode(spark, tmp_path):
    root = _mk_repo(tmp_path)
    files = scan_repo(spark, root)
    index = build_index(files, MockProvider, DIM, max_chars=200)
    rows = index.collect()
    assert rows, "index is empty"
    assert all(len(r["embedding"]) == DIM for r in rows)
    assert all(len(r["code"]) <= 200 for r in rows)
    # F1: unsupported extensions (none here beyond toml) were dropped
    assert all(r["extension"] in {"rs", "py", "md"} for r in rows)

    out = retrieve(
        spark, index, "how does the rust main function work", k=5,
        provider=MockProvider(DIM),
    )
    cls = out["classification"]
    assert cls["language"] == "rust"
    assert cls["intent"] == "how_it_works"
    results = out["results"].collect()
    assert 0 < len(results) <= 5
    ranks = sorted(r["rank"] for r in results)
    assert ranks == list(range(1, len(results) + 1))
    assert "".join(out["answer"]).startswith("[mock-answer")


def test_retrieve_improved_mode_pushdown(spark, tmp_path):
    root = _mk_repo(tmp_path)
    index = build_index(scan_repo(spark, root), MockProvider, DIM, max_chars=200)
    ref = retrieve(spark, index, "implement rust parser", k=3,
                   provider=MockProvider(DIM), mode="reference")
    imp = retrieve(spark, index, "implement rust parser", k=3,
                   provider=MockProvider(DIM), mode="improved")
    # both modes return ranked DataFrames; improved can only widen the
    # reachable candidate set (filters before over-fetch truncation)
    assert imp["results"].count() >= ref["results"].count() >= 0


def test_rerank_path(spark, tmp_path):
    root = _mk_repo(tmp_path)
    index = build_index(scan_repo(spark, root), MockProvider, DIM, max_chars=200)
    out = retrieve(spark, index, "how does util work", k=4,
                   provider=MockProvider(DIM), use_rerank=True)
    rows = out["results"].orderBy("rank").collect()
    scores = [r["rerank_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_index_io_roundtrip(spark, tmp_path):
    root = _mk_repo(tmp_path)
    index_dir = str(tmp_path / "index_out")
    index = build_index(scan_repo(spark, root), MockProvider, DIM,
                        index_dir=index_dir, max_chars=200)
    loaded, meta = read_index(spark, index_dir)
    assert meta["dim"] == DIM
    assert loaded.count() == index.count()
    write_profile({"name": "demo", "primary_languages": ["Rust"]}, index_dir)
    assert read_profile(index_dir)["name"] == "demo"


def test_incremental_index_stream(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.txt").write_text("hello streaming world " * 30)
    (drop / "b.txt").write_text("second incremental document " * 25)
    index_dir = str(tmp_path / "stream_index")
    q = incremental_index_stream(
        spark, str(drop), index_dir, str(tmp_path / "ckpt"), MockProvider, DIM
    ).start()
    q.awaitTermination(120)
    idx = spark.read.parquet(f"{index_dir}/index")
    assert idx.count() >= 2
    assert idx.where(F.size("embedding") != DIM).count() == 0
    # the stream alone built this index, and it opens like a batch-built one
    opened, meta = read_index(spark, index_dir)
    assert meta["dim"] == DIM
    assert len(opened.select("embedding").collect()) == idx.count()
    # exactly-once: availableNow re-run with same checkpoint adds nothing
    n = idx.count()
    q2 = incremental_index_stream(
        spark, str(drop), index_dir, str(tmp_path / "ckpt"), MockProvider, DIM
    ).start()
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{index_dir}/index").count() == n


def test_incremental_index_stream_refuses_another_dim(spark, tmp_path):
    """An index whose sidecar records another dim gets no vectors appended:
    ``read_index`` would reject them."""
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.txt").write_text("hello streaming world " * 30)
    index_dir = tmp_path / "stream_index"
    index_dir.mkdir()
    (index_dir / "index_meta.json").write_text(json.dumps({"dim": 2 * DIM}))
    q = incremental_index_stream(
        spark, str(drop), str(index_dir), str(tmp_path / "ckpt"), MockProvider, DIM
    ).start()
    with pytest.raises(StreamingQueryException, match=f"records dim {2 * DIM}"):
        q.awaitTermination(120)
    assert not (index_dir / "index").exists()
    assert json.loads((index_dir / "index_meta.json").read_text()) == {"dim": 2 * DIM}


def test_streaming_window_matches_batch(spark):
    from cargo_chat_spark.sources.testdata import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch = windowed_event_counts(events)
    n = batch.count()
    assert n > 0
    streamed = windowed_event_counts(events, streaming=False)
    assert streamed.count() == n


def test_multimodal_stub(spark):
    rows = [(i, bytes([i % 256] * (50 + i))) for i in range(10)]
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    media = attach_media_columns(df, "payload", "image/fake")
    feats = extract_features(media, n_features=8, fake=True).collect()
    assert len(feats) == 10
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(r["decode_ok"] for r in feats)
    # real decode path is explicitly stubbed
    with pytest.raises(Exception):
        extract_features(media, n_features=8, fake=False).collect()


def test_multimodal_resize_and_frames(spark):
    from cargo_chat_spark.operators.multimodal import resize_media, sample_frames

    rows = [(i, bytes(range(i % 7, i % 7 + 200))) for i in range(6)]
    rows.append((99, b""))  # empty payload edge case
    df = spark.createDataFrame(rows, "media_id bigint, payload binary")
    media = attach_media_columns(df, "payload", "image/fake")

    resized = resize_media(media, out_w=4, out_h=4, fake=True).collect()
    assert len(resized) == 7
    assert all(len(r["payload"]) == 16 for r in resized)
    assert all(r["meta"]["width"] == 4 and r["meta"]["height"] == 4 for r in resized)
    # deterministic across runs
    again = resize_media(media, out_w=4, out_h=4, fake=True).collect()
    assert sorted(bytes(r["payload"]) for r in resized) == sorted(
        bytes(r["payload"]) for r in again
    )

    frames = sample_frames(media, frame_bytes=64, stride=2, fake=True).collect()
    # 200 bytes -> 4 frames (64,64,64,8), stride 2 keeps idx 0 and 2
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    assert 99 not in by_id  # empty payload yields no frames
    for mid, rs in by_id.items():
        assert [r["frame_idx"] for r in sorted(rs, key=lambda x: x["frame_idx"])] == [0, 2]
        assert all(r["frame_len"] == 64 for r in rs)

    with pytest.raises(Exception):
        sample_frames(media, fake=False).collect()
    with pytest.raises(Exception):
        resize_media(media, fake=False).collect()


def test_observation_metrics_match_aggregates(spark):
    """Query-level Observation metrics — the zero-cost pipeline telemetry
    hook (metrics ride the existing job instead of a second pass). A
    curation run uses this to report rows-kept / value-sums without
    re-scanning 100 TB."""
    from pyspark.sql import Observation

    from cargo_chat_spark.sources.testdata import load_table
    from tests.conftest import SF_DIR_SMALL

    events = load_table(spark, SF_DIR_SMALL, "events")
    obs = Observation("ingest")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("value_sum"),
    )
    kept = observed.where(F.col("event_type") != "error").count()
    metrics = obs.get
    expected = events.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
    ).collect()[0]
    assert metrics["n_rows"] == expected["n"]
    assert abs(metrics["value_sum"] - expected["s"]) < 1e-9
    assert kept < metrics["n_rows"]
