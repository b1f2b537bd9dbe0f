"""CLI / REPL entry points (SURVEY §3.1-3.3).

Mirrors the reference's three commands (/root/reference/src/main.rs:543-745):

    python -m cargo_chat_spark index <repo_dir> <index_dir>
    python -m cargo_chat_spark query <index_dir> "<question>" [-k K] [--rerank]
    python -m cargo_chat_spark profile <repo_dir>
    python -m cargo_chat_spark interactive

The REPL amortizes SparkSession startup and keeps the loaded index
DataFrame persisted across queries — the Spark analog of the reference's
SessionState holding the Arc<Embedder> + DynamicAnn (main.rs:153-168).

Provider selection: OPENAI_API_KEY set → OpenAI-compatible HTTP provider
(main.rs:451-454); otherwise the deterministic mock.
"""

from __future__ import annotations

import argparse
import os
import shlex
import sys
import time

from pyspark.sql import functions as F

MOCK_DIM = 16


def _provider():
    if os.environ.get("OPENAI_API_KEY"):
        from cargo_chat_spark.models.openai_http import OpenAIHttpProvider

        return OpenAIHttpProvider(dim=MOCK_DIM)
    from cargo_chat_spark.models.mock import MockProvider

    return MockProvider(dim=MOCK_DIM)


def _spark():
    from cargo_chat_spark.session import get_spark

    return get_spark(app_name="cargo_chat_spark_cli")


def cmd_index(spark, repo_dir: str, index_dir: str) -> None:
    from cargo_chat_spark.models.mock import MockProvider
    from cargo_chat_spark.plans.indexing import build_index
    from cargo_chat_spark.sources.index_io import read_index
    from cargo_chat_spark.sources.repo import scan_repo

    t0 = time.perf_counter()
    files = scan_repo(spark, repo_dir)
    build_index(files, MockProvider, MOCK_DIM, index_dir=index_dir)
    # count the rows written, read back as the query reads them: index.count()
    # would re-run scan, chunk and embed on the lazy plan, embedding every
    # chunk a second time
    n = read_index(spark, index_dir)[0].count()
    # Total wall-clock print mirrors main.rs:379
    print(f"Indexed {n} chunks from {repo_dir} -> {index_dir} "
          f"in {time.perf_counter() - t0:.2f}s")


def cmd_profile(spark, repo_dir: str) -> None:
    import json as _json

    from cargo_chat_spark.sources.repo import scan_repo

    files = scan_repo(spark, repo_dir, respects_gitignore=False)
    files.createOrReplaceTempView("_profile_files")
    # The profiling aggregates run on the real scan via the same operators
    # the oracle-checked queries use.
    from cargo_chat_spark.functions.language import detect_language_expr
    from cargo_chat_spark.functions.paths import extension_from_path
    from cargo_chat_spark.operators import profile as P

    rf = files.select(
        F.monotonically_increasing_id().alias("file_id"),
        F.lit(os.path.basename(os.path.abspath(repo_dir))).alias("repo"),
        F.element_at(F.split("path", "/"), -1).alias("filename"),
        F.col("content"),
    )
    code = rf.where(~P.is_build_file(F.col("filename")))
    lang = detect_language_expr(extension_from_path(F.col("filename")))
    lines = (
        code.withColumn("language", lang)
        .where(F.col("language").isNotNull())
        .groupBy("language")
        .agg(F.sum(P.rust_line_count(F.col("content"))).alias("total_lines"))
        .orderBy(F.desc("total_lines"), F.asc("language"))
        .limit(5)
        .where(F.col("total_lines") > 10)
    )
    langs = [r["language"] for r in lines.collect()]
    builds = sorted(
        r["filename"]
        for r in rf.where(P.is_build_file(F.col("filename"))).collect()
    )
    print(_json.dumps({"name": os.path.basename(os.path.abspath(repo_dir)),
                       "primary_languages": langs, "build_files": builds}, indent=2))


def cmd_query(spark, index_df, question: str, k: int, rerank: bool) -> None:
    from cargo_chat_spark.plans.retrieval import retrieve

    t0 = time.perf_counter()
    out = retrieve(spark, index_df, question, k, _provider(), use_rerank=rerank)
    cls = out["classification"]
    print(f"[classification] intent={cls['intent']} language={cls['language']} "
          f"wants_code={cls['wants_code']} confidence={cls['confidence']:.2f}")
    for r in out["results"].orderBy("rank").collect():
        snippet = (r["code"] or "").strip().replace("\n", " ")[:100]
        print(f"  {r['rank']}. {r['file']} (distance {r['distance']:.3f}) {snippet}")
    print("".join(out["answer"]))
    # answer latency print mirrors main.rs:510-522
    print(f"[{time.perf_counter() - t0:.2f}s]")


# REPL history persistence (main.rs:578-601, `.cargo_chat_history` behind
# the with-file-history feature): $HOME/<file>, falling back to the current
# directory when HOME is undetermined — same resolution order the reference
# uses. readline is optional (absent on some builds), so load/save no-op
# gracefully; `input()` picks the module up automatically once imported.
HISTORY_FILE_NAME = ".cargo_chat_spark_history"


def _history_path() -> str:
    home = os.environ.get("HOME") or os.environ.get("USERPROFILE")
    return os.path.join(home, HISTORY_FILE_NAME) if home else HISTORY_FILE_NAME


def _load_history(path: str) -> None:
    try:
        import readline

        readline.read_history_file(path)
    except (ImportError, OSError):
        pass  # no readline, or no previous history — same as main.rs:601


def _save_history(path: str) -> None:
    try:
        import readline

        readline.set_history_length(1000)
        readline.write_history_file(path)
    except (ImportError, OSError):
        pass


def _add_history(line: str) -> None:
    """Explicit per-line record (main.rs:611 rl.add_history_entry) — also
    covers piped/non-tty stdin, where readline's implicit capture is off."""
    try:
        import readline

        readline.add_history(line)
    except ImportError:
        pass


def cmd_interactive(spark) -> None:
    from cargo_chat_spark.sources.index_io import read_index

    index_df = None
    usage = (
        "cargo_chat_spark REPL — commands: index <repo> <out> | "
        "load-index <dir> | query <question...> [-k K] [--use-rerank] | "
        "status | help | exit"
    )
    history = _history_path()
    _load_history(history)
    print(usage)
    try:
        _interactive_loop(spark, index_df, usage, read_index)
    finally:
        _save_history(history)  # every exit path persists, main.rs:741-744


def _k_arg(v: str) -> int:
    """K of a query, the one-shot ``-k`` and the REPL's alike: a
    non-negative integer, like the reference's ``usize``."""
    if not v.isdecimal():
        raise argparse.ArgumentTypeError(f"K must be a non-negative integer, got {v!r}")
    return int(v)


def _parse_query_args(args: list[str]) -> tuple[str, int, bool] | None:
    """``<question...> [-k K] [--use-rerank]`` as (question, k, rerank),
    or None when K is missing or not a ``_k_arg``, or the question is
    empty."""
    words, k, rerank = [], 5, False
    it = iter(args)
    for a in it:
        if a == "-k":
            try:
                k = _k_arg(next(it, ""))
            except argparse.ArgumentTypeError:
                return None
        elif a == "--use-rerank":
            rerank = True
        else:
            words.append(a)
    if not words:
        return None
    return " ".join(words), k, rerank


def _interactive_loop(spark, index_df, usage, read_index) -> None:
    from cargo_chat_spark.plans.retrieval import release_resident

    while True:
        try:
            line = input("> ").strip()
        except EOFError:
            break
        if not line:
            continue
        _add_history(line)
        try:
            parts = shlex.split(line)  # raises on an unbalanced quote
            cmd, args = parts[0], parts[1:]
            if cmd == "exit":
                break
            elif cmd == "index" and len(args) == 2:
                cmd_index(spark, args[0], args[1])
            elif cmd == "load-index" and len(args) == 1:
                loaded, meta = read_index(spark, args[0])
                loaded = loaded.persist()  # amortized across queries
                try:
                    n = loaded.count()  # fills the cache; raises on a wrong-dim vector
                except Exception:
                    loaded.unpersist()  # the previous index stays loaded
                    raise
                print(f"Loaded {n} chunks (dim {meta['dim']})")
                if index_df is not None:
                    release_resident(index_df)
                    index_df.unpersist()
                index_df = loaded
            elif cmd == "query":
                if index_df is None:
                    print("No index loaded — use load-index <dir>")
                    continue
                parsed = _parse_query_args(args)
                if parsed is None:
                    print(usage)
                    continue
                question, k, rerank = parsed
                cmd_query(spark, index_df, question, k, rerank=rerank)
            elif cmd == "help":
                print(usage)  # ReplSubCmd::Help, main.rs:110-113
            elif cmd == "status":
                if index_df is None:
                    print("index: not loaded")
                else:
                    print(f"index: loaded, {index_df.count()} chunks")
            else:
                print("unknown command")
        except Exception as exc:  # REPL survives bad input, like rustyline loop
            print(f"error: {exc}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cargo_chat_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p_index = sub.add_parser("index")
    p_index.add_argument("repo_dir")
    p_index.add_argument("index_dir")
    p_query = sub.add_parser("query")
    p_query.add_argument("index_dir")
    p_query.add_argument("question")
    p_query.add_argument("-k", type=_k_arg, default=5)
    p_query.add_argument("--rerank", action="store_true")
    p_profile = sub.add_parser("profile")
    p_profile.add_argument("repo_dir")
    sub.add_parser("interactive")
    args = ap.parse_args(argv)

    spark = _spark()
    try:
        if args.cmd == "index":
            cmd_index(spark, args.repo_dir, args.index_dir)
        elif args.cmd == "query":
            from cargo_chat_spark.sources.index_io import read_index

            index_df, _ = read_index(spark, args.index_dir)
            cmd_query(spark, index_df, args.question, args.k, args.rerank)
        elif args.cmd == "profile":
            cmd_profile(spark, args.repo_dir)
        elif args.cmd == "interactive":
            cmd_interactive(spark)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
