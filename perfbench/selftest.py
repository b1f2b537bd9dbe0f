"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # all, including two traced Spark runs
    python3 perfbench/selftest.py --no-spark # generators and checkers only

Pins: inputs are a pure function of the seed; the output checkers catch a
perturbed result and the run counts it as failed; the Spark job, stage and
task counts of a traced run repeat exactly for the same seed.
"""

import argparse
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import gen  # noqa: E402


def test_same_seed_same_inputs():
    assert gen.fingerprint(7) == gen.fingerprint(7)
    assert gen.fingerprint(7) != gen.fingerprint(8)


def test_mock_embed_matches_provider():
    from cargo_chat_spark.models.mock import MockProvider

    texts = ["", "fn main() {}", "x" * 1000]
    for dim in (16, 64, 512):
        got = gen.mock_embed(texts, dim)
        for t, row in zip(texts, got):
            assert row.tolist() == MockProvider(dim).embed_one(t)


def test_repo_has_every_kind_of_file():
    files = gen.repo_files(3, 300, 1_000_000)
    paths = [f.path for f in files]
    assert any(p.startswith("target/") for p in paths)
    assert any(p.endswith(".log") for p in paths)
    assert any(p.startswith(("_", ".")) or "/_" in p or "/." in p for p in paths)
    assert any(p.startswith("assets/") for p in paths)
    assert any(len(f.data) == 0 for f in files)
    assert max(len(f.data) for f in files) > 10_000
    assert gen.expected_chunks(files) > len([f for f in files if f.indexed])


def test_question_stream_mix():
    qs = gen.question_stream(5, 70)
    texts = [q.text for q in qs]
    assert 0.15 < 1 - len(set(texts)) / len(texts) < 0.5  # about a third repeat
    assert {q.k for q in qs} == {5, 10, 20}
    assert any(q.rerank for q in qs) and any(q.mode == "improved" for q in qs)
    assert any(any(gen.scopes(t)) for t in texts)


def _cls(**kw):
    base = dict(language=None, intent="explanation", wants_code=False, confidence=0.6,
                target_folders=None, target_extensions=None, exclude_patterns=None)
    return SimpleNamespace(**{**base, **kw})


def _case():
    rng = np.random.default_rng(0)
    ids = np.arange(100, 300, dtype=np.int64)
    emb = rng.random((len(ids), 8))
    dist = check.distances(emb, rng.random(8))
    cands = check.brute_topk(ids, dist, 10)
    exts = ["rs", "md", "py", "txt"]
    meta = {int(c): check.Chunk(f"src/core/a{c}.{exts[c % 4]}", exts[c % 4], None, f"fn x{c}")
            for c in ids}
    cls = _cls()
    want = dict(cands)
    rows = [{"rank": r + 1, "chunk_id": c, "distance": want[c]}
            for r, c in enumerate(check.expected_ranking(cands, 5, cls, meta))]
    return ids, cands, meta, cls, rows


def test_oracle_ranking_rules():
    exts = {1: "md", 2: "rs", 3: "py", 4: "rs", 5: "txt"}
    meta = {c: check.Chunk(f"src/f{c}.{e}", e, gen.LANGUAGES[e.lower()] if e in gen.LANGUAGES
                           else None, f"code {c}") for c, e in exts.items()}
    cands = [(c, c / 10) for c in exts]
    rank = check.expected_ranking
    # high-confidence code branch: docs capped to 0, language matches first
    assert rank(cands, 2, _cls(language="rust", intent="implementation", wants_code=True,
                               confidence=0.9), meta) == [2, 4]
    # low-confidence, not wanting code: simple docs first, then by distance
    assert rank(cands, 2, _cls(), meta) == [1, 5]
    assert rank(cands, 9, _cls(), meta) == [1, 2, 3, 4, 5]
    # how_it_works: >= 3 code hits caps docs at 0, fewer allows one
    hiw = _cls(intent="how_it_works", wants_code=True, confidence=0.75)
    assert rank(cands, 9, hiw, meta) == [2, 3, 4]
    assert rank([cands[i] for i in (0, 1, 2, 4)], 9, hiw, meta) == [1, 2, 3]
    # scopes drop rows before ranking
    assert rank(cands, 9, _cls(target_extensions=[".rs"]), meta) == [2, 4]
    # rerank: mock token-overlap score descending, chunk id on ties
    meta[4] = meta[4]._replace(code="parse token tree")
    assert rank(cands, 9, _cls(), meta, rerank_query="parse token") == [4, 1, 2, 3, 5]


def test_checker_accepts_a_correct_result():
    ids, cands, meta, cls, rows = _case()
    assert len(rows) == 5
    assert check.check_ranked(rows, cands, check.expected_ranking(cands, 5, cls, meta)) == []


def test_perturbed_results_are_caught_and_counted():
    from workloads import count_failed

    ids, cands, meta, cls, rows = _case()
    expected = check.expected_ranking(cands, 5, cls, meta)
    outside = next(int(i) for i in ids if int(i) not in dict(cands))
    perturbed = [
        rows[:2] + [{**rows[2], "chunk_id": outside}] + rows[3:],  # wrong neighbour
        rows[:2] + [{**rows[2], "rank": 9}] + rows[3:],  # rank gap
        rows[:2] + [{**rows[2], "distance": rows[2]["distance"] + 1e-6}] + rows[3:],
        rows + [{"rank": 6, "chunk_id": cands[5][0], "distance": cands[5][1]}],  # > k rows
        rows[:4],  # truncated
        [],  # empty
        [{**rows[1], "rank": 1}, {**rows[0], "rank": 2}] + rows[2:],  # swapped
    ]
    checks = [check.check_ranked(p, cands, expected) for p in perturbed]
    assert all(checks), checks
    scoped = _cls(target_folders=["docs"])  # every row is out of scope
    assert check.check_ranked(rows, cands, check.expected_ranking(cands, 5, scoped, meta))
    assert count_failed(10, 0, [[]] * 3 + checks) == 7
    assert count_failed(3, 1, [["x"]] * 5) == 3  # never more than attempted


def test_job_counts_repeat():
    def counts():
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_interactive",
             "--seed", "5", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
        return {k: v["value"] for k, v in metrics.items() if k.startswith("spark.")}

    first, second = counts(), counts()
    assert first["spark.jobs_per_query"] > 0
    assert first == second, (first, second)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--no-spark", action="store_true", help="skip the traced Spark runs")
    args = ap.parse_args()
    tests = [v for k, v in globals().items() if k.startswith("test_")]
    if args.no_spark:
        tests.remove(test_job_counts_repeat)
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {t.__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
