"""CLI command tests (driven via subprocess — the real user surface) and
HTTP-provider tests with an injected fake transport (no network)."""

from __future__ import annotations

import json
import re
import subprocess
import sys

import pytest

from cargo_chat_spark.models.openai_http import OpenAIHttpProvider


def _fake_transport(responses: dict):
    calls = []

    def transport(path: str, payload: dict) -> dict:
        calls.append((path, payload))
        content = responses[payload["model"]]
        return {"choices": [{"message": {"content": content}}]}

    transport.calls = calls
    return transport


def test_http_provider_classify_and_hyde():
    t = _fake_transport(
        {
            "gpt-4o-mini": json.dumps(
                {
                    "language": "rust",
                    "intent": "implementation",
                    "wants_code": True,
                    "confidence": 0.85,
                    "target_folders": ["src"],
                }
            ),
            "gpt-4o": "final answer",
        }
    )
    p = OpenAIHttpProvider(transport=t)
    cls = p.classify_query("implement a rust parser")
    assert cls.language == "rust" and cls.wants_code and cls.confidence == 0.85
    # strict JSON-schema structured output requested (hyde.rs:353-392)
    assert t.calls[0][1]["response_format"]["type"] == "json_schema"
    assert t.calls[0][1]["temperature"] == 0.1

    # a malformed classification is rejected naming the field, as the
    # reference's typed parse rejects it, instead of reaching ranking
    good = {"intent": "implementation", "wants_code": True, "confidence": 0.85}
    for field, value in (
        ("wants_code", None), ("wants_code", "false"), ("wants_code", 1),
        ("confidence", None), ("confidence", "0.9"), ("confidence", True),
        ("intent", None), ("intent", 3),
        ("language", 7),
        ("target_folders", "src"), ("target_extensions", ["rs", 1]),
        ("exclude_patterns", {"a": 1}),
    ):
        bad = OpenAIHttpProvider(transport=_fake_transport(
            {"gpt-4o-mini": json.dumps({**good, field: value})}))
        with pytest.raises(ValueError, match=field):
            bad.classify_query("q")
    missing = OpenAIHttpProvider(transport=_fake_transport(
        {"gpt-4o-mini": json.dumps({"intent": "explanation", "confidence": 0.5})}))
    with pytest.raises(ValueError, match="wants_code"):
        missing.classify_query("q")

    # HyDE respects the char budget (main.rs:497)
    t2 = _fake_transport({"gpt-4o-mini": "x" * 5000})
    p2 = OpenAIHttpProvider(transport=t2)
    assert len(p2.hyde_document("q", "explanation", 1000)) == 1000

    # embeddings fall back to the deterministic mock
    assert len(p.embed_batch(["a"])[0]) == 16


def _sse(content: str) -> str:
    return "data: " + json.dumps(
        {"choices": [{"delta": {"content": content}}]}
    ) + "\n"


def test_http_provider_streams_sse():
    """M6 streaming parity (hyde.rs:788-810): `data:` lines parse to a lazy
    token iterator, `[DONE]` ends the stream, separators/keep-alives skip."""
    calls = []
    consumed = []

    def stream_transport(path, payload):
        calls.append((path, payload))
        frames = [
            _sse("Hello"),
            "\n",                      # event separator
            ": keep-alive comment\n",  # SSE comment line
            _sse(" wor"),
            _sse("ld"),
            "data: {not json\n",       # partial frame — skipped
            "data: [DONE]\n",
            _sse("after-done never emitted"),
        ]
        for f in frames:
            consumed.append(f)
            yield f

    p = OpenAIHttpProvider(
        transport=_fake_transport({"gpt-4o": "unused"}),
        stream_transport=stream_transport,
    )
    it = p.synthesize_answer("ctx")
    # lazy: nothing consumed until the first token is pulled
    assert consumed == []
    first = next(it)
    assert first == "Hello"
    # the transport has NOT been drained past the first data frame
    assert len(consumed) <= 2
    assert list(it) == [" wor", "ld"]
    # stream request flags set per the reference client
    assert calls[0][1]["stream"] is True
    assert calls[0][1]["temperature"] == 0.0
    # stopped AT the sentinel: the post-DONE frame was never consumed
    assert "data: [DONE]\n" in consumed
    assert not any("after-done" in f for f in consumed)


def test_http_provider_requires_key(monkeypatch):
    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    with pytest.raises(OSError, match="OPENAI_API_KEY"):
        OpenAIHttpProvider()


@pytest.mark.slow
def test_cli_index_query_profile(tmp_path):
    repo = tmp_path / "repo"
    (repo / "src").mkdir(parents=True)
    (repo / "src" / "main.rs").write_text("fn main() { let x = 1; }\n" * 30)
    (repo / "README.md").write_text("# Demo\nDemo repo.\n")
    (repo / "Cargo.toml").write_text("[dependencies]\nserde = \"1\"\n")
    index_dir = str(tmp_path / "idx")

    import os

    env = {**os.environ, "SPARK_GRAFT_CPUS": "4",
           "PYTHONPATH": "/root/repo"}  # executors' Python workers must
    # import cargo_chat_spark too, not just the driver process
    base = [sys.executable, "-m", "cargo_chat_spark"]
    out = subprocess.run(
        base + ["index", str(repo), index_dir],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Indexed" in out.stdout

    out = subprocess.run(
        base + ["query", index_dir, "how does the rust main function work", "-k", "3"],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "[classification]" in out.stdout
    assert "src/main.rs" in out.stdout

    out = subprocess.run(
        base + ["profile", str(repo)],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    prof = json.loads(out.stdout[out.stdout.index("{"):])
    assert prof["primary_languages"][0] == "Rust"
    assert "Cargo.toml" in prof["build_files"]


def test_cli_index_embeds_each_chunk_once(spark, tmp_path, capsys, monkeypatch):
    """``cli index`` takes its printed count from the written index, so
    the embed stage runs once: embedded rows equal the chunk count."""
    from cargo_chat_spark import cli
    from cargo_chat_spark.models import mock

    repo = tmp_path / "repo"
    (repo / "src").mkdir(parents=True)
    (repo / "src" / "main.rs").write_text("fn main() { let x = 1; }\n" * 120)
    (repo / "src" / "lib.rs").write_text("pub fn parse() {}\n" * 80)
    (repo / "README.md").write_text("# Demo\nDemo repo.\n")
    log = tmp_path / "embedded_rows.txt"

    class CountingProvider(mock.MockProvider):
        # embed_batch runs in Python worker processes: count through a file
        def embed_batch(self, texts):
            with open(log, "a") as fh:
                fh.write(f"{len(texts)}\n")
            return super().embed_batch(texts)

    monkeypatch.setattr(mock, "MockProvider", CountingProvider)
    index_dir = tmp_path / "idx"
    cli.cmd_index(spark, str(repo), str(index_dir))
    printed = int(capsys.readouterr().out.split()[1])  # "Indexed <n> chunks ..."
    chunks = spark.read.parquet(str(index_dir / "index")).count()
    embedded = sum(int(n) for n in log.read_text().split())
    assert printed == chunks > 3
    assert embedded == chunks, f"{embedded} rows embedded for {chunks} chunks"


def test_repl_help_status_and_rerank_parse(spark, capsys, monkeypatch):
    """REPL parity (main.rs:101-120): help/status commands answer, query
    without an index warns, --use-rerank parses; loop survives bad input,
    including a line with an unbalanced quote."""
    from cargo_chat_spark import cli

    feed = iter([
        "help", "status", "query what is this --use-rerank", "bogus",
        'query "why', "exit",
    ])
    monkeypatch.setattr("builtins.input", lambda *_: next(feed))
    cli.cmd_interactive(spark)
    out = capsys.readouterr().out
    assert out.count("cargo_chat_spark REPL") >= 2  # banner + help
    assert "index: not loaded" in out
    assert "No index loaded" in out
    assert "unknown command" in out
    assert "error: No closing quotation" in out


@pytest.mark.parametrize("line, asked", [
    ("query", None),
    ("query foo -k", None),
    ("query foo -k abc", None),
    ("query foo -k -1", None),
    ("query -k 3", None),
    ("query --use-rerank", None),
    ("query -k 3 --use-rerank", None),
    ("query foo -k --use-rerank", None),
    ("query what is this", ("what is this", 5, False)),
    ("query foo -k 3 bar --use-rerank", ("foo bar", 3, True)),
])
def test_repl_query_parse(line, asked, capsys, monkeypatch):
    """A REPL ``query`` whose -k is missing, not an integer or negative,
    or whose question is empty prints the usage line and asks nothing;
    a well-formed one reaches ``cmd_query`` with its question, k and
    rerank flag."""
    from cargo_chat_spark import cli

    calls = []
    monkeypatch.setattr(
        cli, "cmd_query",
        lambda spark, index_df, question, k, rerank: calls.append((question, k, rerank)),
    )
    feed = iter([line, "exit"])
    monkeypatch.setattr("builtins.input", lambda *_: next(feed))
    cli._interactive_loop(None, object(), "USAGE LINE", None)
    out = capsys.readouterr().out
    if asked is None:
        assert calls == [] and out == "USAGE LINE\n", (calls, out)
    else:
        assert calls == [asked] and out == "", (calls, out)


@pytest.mark.parametrize("k, asked", [("-1", None), ("3", 3)])
def test_one_shot_query_k_parse(k, asked, capsys, monkeypatch):
    """The one-shot ``query`` takes -k by the REPL's rule: a negative K is
    argparse's usage error, before any Spark session or index is opened;
    a non-negative one reaches ``cmd_query``."""
    from cargo_chat_spark import cli
    from cargo_chat_spark.sources import index_io

    class NoSpark:
        def stop(self):
            pass

    calls = []
    monkeypatch.setattr(cli, "_spark", NoSpark)
    monkeypatch.setattr(index_io, "read_index", lambda spark, index_dir: ("index", {}))
    monkeypatch.setattr(
        cli, "cmd_query",
        lambda spark, index_df, question, k, rerank: calls.append((question, k)),
    )
    argv = ["query", "idx", "what is this", "-k", k]
    if asked is None:
        with pytest.raises(SystemExit) as exit_:
            cli.main(argv)
        assert exit_.value.code == 2
        assert "K must be a non-negative integer" in capsys.readouterr().err
        assert calls == []
    else:
        assert cli.main(argv) == 0
        assert calls == [("what is this", asked)]


def test_repl_history_survives_invocations(spark, tmp_path, monkeypatch):
    """History file parity (main.rs:578-601, 611, 741-744): commands typed
    in one REPL session are reloaded into readline in the next."""
    readline = pytest.importorskip("readline")
    from cargo_chat_spark import cli

    monkeypatch.setenv("HOME", str(tmp_path))
    hist_file = tmp_path / cli.HISTORY_FILE_NAME
    readline.clear_history()

    feed = iter(["help", "status", "exit"])
    monkeypatch.setattr("builtins.input", lambda *_: next(feed))
    cli.cmd_interactive(spark)
    assert hist_file.exists(), "REPL exit did not write the history file"

    # fresh 'process': wipe in-memory history, run a second session, and
    # check the first session's commands came back from disk
    readline.clear_history()
    feed2 = iter(["exit"])
    monkeypatch.setattr("builtins.input", lambda *_: next(feed2))
    cli.cmd_interactive(spark)
    loaded = [
        readline.get_history_item(i + 1)
        for i in range(readline.get_current_history_length())
    ]
    assert "help" in loaded and "status" in loaded, (
        f"history not reloaded across invocations: {loaded}"
    )


def _write_mock_index(spark, index_dir: str, dim: int) -> str:
    """Six chunks embedded by the REPL's mock provider, written with
    ``dim`` as the index's stored dim."""
    from cargo_chat_spark import cli
    from cargo_chat_spark.functions.localframe import local_frame
    from cargo_chat_spark.models.mock import MockProvider
    from cargo_chat_spark.sources import index_io

    mock = MockProvider(cli.MOCK_DIM)
    rows = [(i, f"src/m{i}.rs", f"fn parse_{i}() {{}}", "Rust", "rs",
             mock.embed_one(f"fn parse_{i}")) for i in range(6)]
    index_io.write_index(local_frame(spark, rows, index_io.INDEX_SCHEMA), index_dir, dim)
    return index_dir


def test_repl_load_index_releases_the_previous_index(spark, tmp_path, monkeypatch):
    """A second ``load-index`` unpersists the first index and drops its
    driver-resident copy."""
    from cargo_chat_spark import cli
    from cargo_chat_spark.plans import retrieval
    from cargo_chat_spark.sources import index_io

    index_dir = _write_mock_index(spark, str(tmp_path / "idx"), cli.MOCK_DIM)
    loaded = []

    def read_index(spark, path):
        df, meta = index_io.read_index(spark, path)
        loaded.append(df)
        return df, meta

    served = []

    def commands():
        yield f"load-index {index_dir}"
        yield "query how does parse work"
        served.append(retrieval._resident.get("index") is loaded[0])
        yield f"load-index {index_dir}"
        yield "exit"

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    feed = commands()
    monkeypatch.setattr("builtins.input", lambda *_: next(feed))
    cli._interactive_loop(spark, None, "usage", read_index)
    first, second = loaded
    try:
        assert served == [True], "the query did not serve the index from the driver"
        assert first.is_cached is False
        assert second.is_cached is True
        assert retrieval._resident.get("index") is not first
    finally:
        second.unpersist()


def test_repl_failed_load_index_keeps_the_previous_index(spark, tmp_path, monkeypatch,
                                                         capsys):
    """A ``load-index`` of an index whose vectors do not have its stored
    dim prints the error, leaves no cached frame behind, and the index
    loaded before it still answers."""
    from cargo_chat_spark import cli
    from cargo_chat_spark.plans import retrieval
    from cargo_chat_spark.sources import index_io

    good = _write_mock_index(spark, str(tmp_path / "good"), cli.MOCK_DIM)
    bad = _write_mock_index(spark, str(tmp_path / "bad"), 64)
    loaded, served = [], []

    def read_index(spark, path):
        df, meta = index_io.read_index(spark, path)
        loaded.append(df)
        return df, meta

    def commands():
        yield f"load-index {good}"
        yield f"load-index {bad}"
        yield "query how does parse work"
        served.append(retrieval._resident.get("index") is loaded[0])
        yield "exit"

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    feed = commands()
    monkeypatch.setattr("builtins.input", lambda *_: next(feed))
    cli._interactive_loop(spark, None, "usage", read_index)
    first, failed = loaded
    try:
        out = capsys.readouterr().out
        assert re.search(r"^error: .*dim != 64", out, re.M), out
        assert served == [True], "the query was not served by the first index"
        assert "1. src/m" in out
        assert failed.is_cached is False
        assert first.is_cached is True
    finally:
        retrieval.release_resident(first)
        first.unpersist()
