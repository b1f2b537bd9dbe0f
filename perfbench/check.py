"""Output checks, run outside the timed region.

The oracles are independent of the engine's code paths: a NumPy brute
force for the k-NN candidates (same left-to-right accumulation as the
engine's distance expression, so distances compare exactly) and plain
Python restatements of the classification filters and of the reference
ranking (doc caps, language priority, truncate(k), final distance sort,
mock rerank).
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np

from cargo_chat_spark.models.mock import MockProvider
from gen import LANGUAGES

# cargo_chat_spark.functions.language.DOC_EXTENSIONS / _SIMPLE, restated
DOC_EXTS = {"md", "txt", "rst", "adoc"}
DOC_EXTS_SIMPLE = {"md", "txt", "rst"}


class Chunk(NamedTuple):
    file: str
    extension: str  # every generated path has one
    language: str | None
    code: str


def distances(emb: np.ndarray, qvec) -> np.ndarray:
    """Euclidean distance of every row to ``qvec``, summing squared
    differences dimension by dimension in array order."""
    q = np.asarray(qvec, dtype=np.float64)
    acc = np.zeros(emb.shape[0])
    for j in range(emb.shape[1]):
        d = q[j] - emb[:, j]
        acc += d * d
    return np.sqrt(acc)


def brute_topk(ids: np.ndarray, dist: np.ndarray, m: int, mask=None) -> list[tuple[int, float]]:
    """Top ``m`` (chunk_id, distance) ascending by (distance, chunk_id)."""
    sel = np.arange(len(ids)) if mask is None else np.flatnonzero(mask)
    order = np.lexsort((ids[sel], dist[sel]))[:m]
    return [(int(ids[sel][i]), float(dist[sel][i])) for i in order]


def _norm(t: str) -> str:
    return re.sub(r"^\.+", "", t)


def passes_filters(c: Chunk, cls) -> bool:
    """Folder, extension and exclude scopes (operators.filters semantics);
    a missing or empty scope is no filter."""
    file, folders, exts, excludes = c.file, cls.target_folders, cls.target_extensions, \
        cls.exclude_patterns
    if folders and not any(
        f"/{f}/" in file or file.startswith(f"{f}/")
        or (f"/{f}" in file and file.endswith("/" + f.split("/")[-1]))
        for f in folders
    ):
        return False
    if exts and not any(_norm(c.extension) == _norm(t) for t in exts):
        return False
    return not (excludes and any(p.lower() in file.lower() for p in excludes))


def expected_ranking(candidates: list[tuple[int, float]], k: int, cls, meta: dict,
                     rerank_query: str | None = None) -> list[int]:
    """Chunk ids in the rank order ``reference_rank`` (then the mock rerank,
    when ``rerank_query`` is given) must produce from the brute-force
    candidates, which are sorted by (distance, chunk_id)."""
    rows = [(cid, d, meta[cid]) for cid, d in candidates if passes_filters(meta[cid], cls)]
    branch_a = cls.wants_code and cls.confidence > 0.7
    is_code = {cid: c.extension not in DOC_EXTS for cid, _, c in rows}
    n_code = sum(is_code.values()) if branch_a else 0
    if cls.confidence > 0.8:
        doc_limit = 0
    elif cls.intent == "how_it_works":
        doc_limit = 0 if n_code >= 3 else 1
    else:
        doc_limit = 1 if cls.intent == "explanation" else 0
    q_lang = cls.language.lower() if cls.language else None
    kept, docs = [], 0
    for cid, d, c in rows:
        code = is_code[cid]
        if branch_a and not code:
            docs += 1
            if docs > doc_limit:
                continue
        if branch_a:
            tier = 0 if code else 1
        else:
            tier = 0 if not cls.wants_code and c.extension in DOC_EXTS_SIMPLE else 1
        lmatch = q_lang is not None and q_lang in (
            (c.language or "").lower(), (LANGUAGES.get(c.extension.lower()) or "").lower())
        kept.append((tier, 0 if branch_a and code and lmatch else 1, d, cid))
    selected = sorted(kept)[:k]
    if rerank_query is None:  # survivors re-sorted by distance, stable on ties
        return [cid for _, _, _, cid in sorted(selected, key=lambda r: r[2])]
    ids = [cid for _, _, _, cid in selected]
    scores = MockProvider().rerank_scores(rerank_query, [meta[cid].code for cid in ids])
    return [cid for _, cid in sorted(zip((-s for s in scores), ids))]


def check_ranked(rows, candidates: list[tuple[int, float]], expected: list[int]) -> list[str]:
    """One question's ranked results: ranks 1..n, the chunk ids of
    ``expected`` in that order, each at its brute-force distance."""
    problems = []
    got = sorted(rows, key=lambda r: r["rank"])
    if [r["rank"] for r in got] != list(range(1, len(got) + 1)):
        problems.append(f"ranks not contiguous: {[r['rank'] for r in got]}")
    ids = [r["chunk_id"] for r in got]
    if ids != expected:
        problems.append(f"ranked ids {ids[:5]}... ({len(ids)}) != oracle "
                        f"{expected[:5]}... ({len(expected)})")
    want = dict(candidates)
    for r in got:
        if r["chunk_id"] in want and abs(r["distance"] - want[r["chunk_id"]]) > 1e-9:
            problems.append(f"chunk {r['chunk_id']} distance {r['distance']} != "
                            f"{want[r['chunk_id']]}")
    return problems

