"""Repository file sources (SURVEY §2.1 S1-S3).

The reference does two directory walks:
- S1 chunking walk honoring .gitignore / hidden-file filters
  (/root/reference/src/chunker.rs:36-40, WalkBuilder standard_filters)
- S3 profiling walk with NO gitignore (/root/reference/src/repo.rs:54-62)

Spark-first form: ``binaryFile`` datasource with recursive lookup — the
scan distributes across executors, prunes on pathGlobFilter, and yields
(path, modificationTime, length, content). Gitignore semantics aren't a
Spark-native concept; ``respects_gitignore=True`` applies the standard
filters driver-side on the (tiny) path listing before the distributed
content read, matching S1; False reproduces S3.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_chat_spark.functions.paths import extension_from_path
from cargo_chat_spark.functions.localframe import local_frame


def _glob_to_re(pat: str) -> str:
    """gitignore glob → regex fragment over '/'-separated paths:
    `*`/`?` stop at '/', `**` crosses directories, `[...]` classes pass
    through (with `[!` → `[^`)."""
    i, out = 0, []
    while i < len(pat):
        c = pat[i]
        if c == "*":
            if pat[i : i + 2] == "**":
                if pat[i : i + 3] == "**/":
                    out.append("(?:[^/]+/)*")
                    i += 3
                else:
                    out.append(".*")
                    i += 2
            else:
                out.append("[^/]*")
                i += 1
        elif c == "?":
            out.append("[^/]")
            i += 1
        elif c == "[":
            j = i + 1
            if j < len(pat) and pat[j] in "!^":
                j += 1
            if j < len(pat) and pat[j] == "]":
                j += 1
            while j < len(pat) and pat[j] != "]":
                j += 1
            if j < len(pat):
                cls = pat[i + 1 : j]
                if cls.startswith("!"):
                    cls = "^" + cls[1:]
                out.append("[" + cls + "]")
                i = j + 1
            else:
                out.append(re.escape(c))
                i += 1
        elif c == "\\" and i + 1 < len(pat):
            out.append(re.escape(pat[i + 1]))
            i += 2
        else:
            out.append(re.escape(c))
            i += 1
    return "".join(out)


class _Rule:
    """One .gitignore line, compiled. Semantics follow gitignore(5) — the
    same contract as the reference's `ignore` crate standard filters
    (chunker.rs:36-40): `!` negation with last-match-wins, leading-or-middle
    '/' anchors to the .gitignore's own directory, trailing '/' is
    directory-only, `**` crosses levels."""

    __slots__ = ("negated", "dir_only", "base", "self_re", "within_re")

    def __init__(self, line: str, base: str):
        self.negated = line.startswith("!")
        if self.negated:
            line = line[1:]
        self.dir_only = line.endswith("/")
        line = line.rstrip("/")
        # anchored iff '/' appears at the start or middle of the pattern
        anchored = line.startswith("/") or "/" in line
        line = line.lstrip("/")
        core = _glob_to_re(line)
        prefix = "" if anchored else "(?:[^/]+/)*"
        self.base = base  # repo-relative dir of the .gitignore ('' = root)
        self.self_re = re.compile(f"^{prefix}{core}$")
        self.within_re = re.compile(f"^{prefix}{core}/.+$")

    def match(self, rel: str, is_dir: bool) -> bool:
        """rel is the path relative to this rule's base (posix separators)."""
        if self.self_re.match(rel):
            return is_dir or not self.dir_only
        # inside a matched directory — the matched component is a dir
        return bool(self.within_re.match(rel))


def _read_gitignore(dirpath: str, base: str) -> list[_Rule]:
    gi = os.path.join(dirpath, ".gitignore")
    rules: list[_Rule] = []
    if os.path.isfile(gi):
        with open(gi, encoding="utf-8", errors="replace") as fh:
            for raw in fh:
                line = raw.rstrip("\n").rstrip()
                if not line or line.startswith("#"):
                    continue
                if line.startswith("\\#") or line.startswith("\\!"):
                    line = line[1:]
                rules.append(_Rule(line, base))
    return rules


def _ignored(rel: str, rules: list[_Rule], is_dir: bool) -> bool:
    """Last matching rule wins, evaluated root-outward then line-order —
    nested .gitignore rules come after (and so override) parent ones."""
    decision = False
    for r in rules:
        if r.base:
            if not rel.startswith(r.base + "/"):
                continue
            sub = rel[len(r.base) + 1 :]
        else:
            sub = rel
        if r.match(sub, is_dir):
            decision = not r.negated
    return decision


def scan_repo(
    spark: SparkSession, root: str, respects_gitignore: bool = True
) -> DataFrame:
    """File DataFrame: path (repo-relative), content (string), extension.

    CONTRACT — hidden-path exclusion on BOTH walks: files and directories
    whose name starts with ``.`` or ``_`` (e.g. ``__init__.py``,
    ``_config.py``, ``.github/``) are skipped even when
    ``respects_gitignore=False``. Spark's file-source listing hides
    leading-dot and leading-underscore paths from the distributed
    binaryFile read below, so a walk that kept them would silently drop
    those rows at the join anyway — the walk states what the reader can
    actually serve (pinned by the ``repo_walk`` gate). Callers profiling
    Python-style repos should know dunder/underscore modules never
    surface here.

    Files whose bytes are not valid UTF-8 are skipped, as the reference
    skips files it cannot read as a string (S2, chunker.rs:80-87)."""
    keep: list[str] = []
    rules: list[_Rule] = []
    for dirpath, dirnames, filenames in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root).replace(os.sep, "/")
        base = "" if rel_dir == "." else rel_dir
        if respects_gitignore:
            # nested .gitignore: rules scope to their directory and override
            # parent rules (appended later → win last-match evaluation)
            rules.extend(_read_gitignore(dirpath, base))
            # prune ignored dirs entirely: a file under an excluded parent
            # cannot be re-included (gitignore(5), matching WalkBuilder)
            dirnames[:] = [
                d
                for d in dirnames
                if not _ignored(f"{base}/{d}" if base else d, rules, is_dir=True)
            ]
        # hidden files/dirs are skipped on BOTH walks, explicitly: Spark's
        # file-source listing hides leading-dot (and leading-underscore)
        # paths anyway, so a dotfile in the keep list would silently drop
        # at the binaryFile join below — make the walk contract match what
        # the reader can actually serve (pinned by the repo_walk gate)
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for fn in filenames:
            if fn.startswith((".", "_")):
                continue
            rel = f"{base}/{fn}" if base else fn
            if respects_gitignore and _ignored(rel, rules, is_dir=False):
                continue
            keep.append(rel)
    if not keep:
        return local_frame(spark, [], "path string, content binary")

    # Distributed content read: the path list is small (driver-side walk),
    # the bytes are read executor-side via the binaryFile source.
    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select(
            F.col("path"),
            F.col("content"),
        )
    )
    rel_paths = local_frame(spark, [(p,) for p in keep], "rel_path string")
    root_uri_len = len("file:" + os.path.abspath(root)) + 1
    files = files.withColumn(
        "rel_path", F.expr(f"substring(path, {root_uri_len + 1})")
    )
    return (
        files.join(F.broadcast(rel_paths), "rel_path")
        .select(
            F.col("rel_path").alias("path"),
            # the cast keeps the bytes as they are; decode() would raise
            # MALFORMED_CHARACTER_CODING under ANSI mode instead of skipping
            F.col("content").cast("string").alias("content"),
        )
        .where(F.expr("is_valid_utf8(content)"))
        .withColumn("extension", extension_from_path(F.col("path")))
    )
