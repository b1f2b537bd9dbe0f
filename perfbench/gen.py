"""Seeded input generators: the repository tree, the indexed corpus, the
question stream and the classification scopes.

Everything here is pure Python + NumPy and depends only on the seed, so the
same seed gives byte-identical inputs (``selftest.py`` pins this with a
hash). Text is ASCII, so a file's character length equals its byte length
and the expected chunk count is plain arithmetic.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
from dataclasses import dataclass

import numpy as np

PRIME = 1_000_003  # cargo_chat_spark.functions.hashing.PRIME
CHUNK_CHARS = 1000  # build_index's default max_chars

# extension -> language display name, the reference's 12-language table
# (cargo_chat_spark.functions.language.LANGUAGE_EXTENSIONS, restated so the
# expected counts do not trust the code under test)
LANGUAGES = {
    "rs": "Rust", "js": "JavaScript", "jsx": "JavaScript", "mjs": "JavaScript",
    "ts": "TypeScript", "tsx": "TypeScript", "java": "Java",
    "cpp": "C++", "cxx": "C++", "cc": "C++", "hpp": "C++", "hxx": "C++", "hh": "C++",
    "c": "C", "h": "C", "rb": "Ruby", "cs": "C#", "swift": "Swift", "go": "Go",
    "py": "Python", "pyx": "Python", "pyi": "Python", "md": "Markdown",
    "markdown": "Markdown",
}
UNSUPPORTED = ["txt", "json", "toml", "yaml", "cfg", "lock", "sh"]
BINARY = ["png", "bin", "so", "jar"]
FOLDERS = ["src/core", "src/net", "src/storage", "src/cli", "src/util",
           "lib/parse", "lib/index", "tests", "docs", "examples", "scripts"]
WORDS = ("fn let mut struct impl return self match if else for while loop "
         "async await pub use mod parse token tree index chunk embed query "
         "vector search cache store read write error result option config "
         "client server request response buffer stream rank filter score").split()
LANG_WORDS = ["rust", "python", "javascript", "typescript", "go", "java"]


def mock_embed(texts: list[str], dim: int) -> np.ndarray:
    """``MockProvider.embed_one`` for a batch, in exact integer arithmetic
    (every product stays below 2**53), so values are bit-identical."""
    h = np.array([int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16) % PRIME
                  for t in texts], dtype=np.int64)
    j = np.arange(1, dim + 1, dtype=np.int64)
    c = (2654435761 * j + 1) % PRIME
    return ((h[:, None] * c[None, :] + j[None, :]) % PRIME).astype(np.float64) / PRIME


def _text(rng: random.Random, n: int) -> str:
    """``n`` ASCII characters of code-like lines."""
    out, size = [], 0
    while size < n:
        line = "    " * rng.randint(0, 3) + " ".join(
            rng.choice(WORDS) for _ in range(rng.randint(3, 12))) + "\n"
        out.append(line)
        size += len(line)
    return "".join(out)[:n]


# ------------------------------------------------------------ repo tree
@dataclass
class RepoFile:
    path: str  # repo-relative, '/'-separated
    data: bytes
    indexed: bool  # supported, non-empty, not ignored, not hidden


def repo_files(seed: int, n_files: int, source_bytes: int) -> list[RepoFile]:
    """A synthetic repository: every supported language plus unsupported
    and binary files, a .gitignore'd build dir and log files, hidden and
    ``_``-prefixed paths, empty files, and log-normal sizes up to ~50 KB
    scaled so the indexed files hold about ``source_bytes`` bytes."""
    rng = random.Random(f"repo/{seed}")
    exts = list(LANGUAGES) + ["MD"]  # an upper-case extension still counts
    files: list[tuple[str, int, bool]] = []  # path, raw size, indexed
    for i in range(n_files):
        folder = rng.choice(FOLDERS)
        roll = rng.random()
        if roll < 0.08:
            path, idx = f"{folder}/data_{i}.{rng.choice(UNSUPPORTED)}", False
        elif roll < 0.12:
            path, idx = f"assets/blob_{i}.{rng.choice(BINARY)}", False
        elif roll < 0.16:  # ignored: root .gitignore
            path, idx = rng.choice([f"target/debug/gen_{i}.rs", f"{folder}/run_{i}.log"]), False
        elif roll < 0.18:  # ignored: nested .gitignore in src/
            path, idx = f"src/generated/out_{i}.rs", False
        elif roll < 0.20:  # hidden / underscore-prefixed
            path, idx = rng.choice([f".github/workflows/ci_{i}.rs", f"{folder}/.hidden_{i}.py",
                                    f"_private/m_{i}.py", f"{folder}/_impl_{i}.go"]), False
        else:
            path, idx = f"{folder}/file_{i}.{rng.choice(exts)}", True
        files.append((path, max(0, int(rng.lognormvariate(8.0, 1.0))), idx))
    for pos in rng.sample(range(n_files), max(1, n_files // 30)):
        files[pos] = (files[pos][0], 0, False)  # empty files yield no chunks
    scale = source_bytes / max(1, sum(s for _, s, idx in files if idx))
    out = [RepoFile(".gitignore", b"target/\n*.log\n", False),
           RepoFile("src/.gitignore", b"generated/\n", False)]
    for path, size, idx in files:
        n = min(50_000, int(size * scale)) if size else 0
        if path.startswith("assets/"):
            data = rng.randbytes(n)
        else:
            data = _text(rng, n).encode("ascii")
        out.append(RepoFile(path, data, idx and n > 0))
    return out


def write_repo(files: list[RepoFile], root: str) -> None:
    for f in files:
        p = os.path.join(root, f.path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(f.data)


def expected_chunks(files: list[RepoFile]) -> int:
    return sum(math.ceil(len(f.data) / CHUNK_CHARS) for f in files if f.indexed)


# --------------------------------------------------------------- corpus
def corpus(seed: int, n_chunks: int, dim: int) -> dict:
    """Index rows shaped like ``build_index`` output (chunk_id, file, code,
    language, extension, embedding) with mock embeddings; some chunks are
    exact duplicates so distance ties occur and the id tie-break matters."""
    rng = random.Random(f"corpus/{seed}")
    exts = list(LANGUAGES)
    ids = rng.sample(range(1, 2**62), n_chunks)
    rows: dict[str, list] = {"chunk_id": ids, "file": [], "code": [],
                             "language": [], "extension": []}
    for i in range(n_chunks):
        ext = rng.choice(exts)
        rows["file"].append(f"{rng.choice(FOLDERS)}/file_{i // 4}.{ext}")
        rows["extension"].append(ext)
        rows["language"].append(LANGUAGES[ext])
        if i % 97 == 96:
            rows["code"].append(rows["code"][i - 1])
        else:
            rows["code"].append(_text(rng, rng.randint(200, CHUNK_CHARS)))
    rows["embedding"] = mock_embed(rows["code"], dim)
    return rows


# ------------------------------------------------------ question stream
_INTENT_TEMPLATES = {
    "how_it_works": ["how does the {w} {v} work", "how do we {v} a {w}"],
    "implementation": ["implement {w} {v} for the {u}", "show how to implement {v} {w}"],
    "debugging": ["there is a bug in {w} {v}", "error when the {u} calls {v} {w}"],
    "explanation": ["what is the {w} {v} for", "explain {w} and {u}"],
    "architecture": ["give an architecture overview of {w} {u}"],
}


@dataclass(frozen=True)
class Question:
    text: str
    k: int
    rerank: bool
    mode: str  # "reference" | "improved"


# Fixed cycle of retrieval shapes: k in {5, 10, 20}, a fifth with rerank, a
# fifth in improved mode. Every run asks the same sequence of shapes, so
# run-to-run spread comes from the system, not from the mix. Odd length, so
# alternating traced / untraced questions see every shape.
SHAPES = [(10, False, "reference"), (5, True, "reference"), (20, False, "improved"),
          (20, False, "reference"), (5, False, "reference")]


def question_pool(seed: int, n: int) -> list[str]:
    """Question texts over every intent, a share with a language keyword
    and a share with folder / extension / exclude scopes, which
    ``ScopedMockProvider`` turns into classification scopes."""
    rng = random.Random(f"pool/{seed}")
    intents = list(_INTENT_TEMPLATES)
    out = []
    for i in range(n):
        t = rng.choice(_INTENT_TEMPLATES[intents[i % len(intents)]]).format(
            w=rng.choice(WORDS), v=rng.choice(WORDS), u=rng.choice(WORDS))
        if rng.random() < 0.4:
            t += f" in {rng.choice(LANG_WORDS)}"
        scope = rng.random()
        if scope < 0.15:
            t += f" in folder {rng.choice(FOLDERS)}"
        elif scope < 0.30:
            t += f" only .{rng.choice(['rs', 'py', 'go', 'md', 'ts'])} files"
        elif scope < 0.40:
            t += f" excluding {rng.choice(['tests', 'docs', 'examples'])}"
        out.append(t)
    return out


def question_stream(seed: int, n: int, pool_size: int = 48) -> list[Question]:
    """``n`` questions; about a third repeat an earlier text (Zipf over the
    pool), the rest are fresh. Shapes follow ``SHAPES``."""
    rng = random.Random(f"stream/{seed}")
    pool = question_pool(seed, pool_size)
    weights = [1.0 / (r + 1) for r in range(pool_size)]
    seen: list[str] = []
    fresh = iter(pool)
    out = []
    for i in range(n):
        if seen and rng.random() < 1 / 3:
            text = rng.choices(seen, weights[: len(seen)])[0]
        else:
            text = next(fresh, None) or rng.choices(pool, weights)[0]
        if text not in seen:
            seen.append(text)
        k, rerank, mode = SHAPES[i % len(SHAPES)]
        out.append(Question(text, k, rerank, mode))
    return out


_FOLDER_RE = re.compile(r"\bin folder (\S+)")
_EXT_RE = re.compile(r"\bonly (\.\w+) files")
_EXCL_RE = re.compile(r"\bexcluding (\S+)")


def scopes(question: str) -> tuple[list[str] | None, list[str] | None, list[str] | None]:
    """(target_folders, target_extensions, exclude_patterns) named in the
    question text, ``None`` where absent."""
    def grab(rx):
        m = rx.findall(question)
        return m or None
    return grab(_FOLDER_RE), grab(_EXT_RE), grab(_EXCL_RE)


def fingerprint(seed: int) -> str:
    """Hash of every generated input for ``seed`` (the determinism test)."""
    h = hashlib.sha256()
    for f in repo_files(seed, 60, 200_000):
        h.update(f.path.encode() + b"\0" + f.data + bytes([f.indexed]))
    c = corpus(seed, 200, 16)
    for key in ("chunk_id", "file", "code", "language", "extension"):
        h.update(repr(c[key]).encode())
    h.update(c["embedding"].tobytes())
    for q in question_stream(seed, 50):
        h.update(repr((q, scopes(q.text))).encode())
    return h.hexdigest()
