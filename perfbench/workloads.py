"""The workloads and the run loop shared by them.

A run: start Spark, generate the inputs (untimed), set up once cold (timed
from process start), set up ``SETUP_REPEATS`` more times on fresh sessions
of the same JVM (timed), warm up once (timed), run operations in a closed
loop with one client for ``seconds`` (rounded up to whole ``CYCLE``s), then
check every output (untimed).

With tracing on, every second operation is traced: spans around the calls
into each layer, the provider timing proxy, and for lazy plans the
cumulative prefixes of the same plan materialized one after another. The
untraced operations of the same run give the tracing overhead.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, functions as F

import check
import gen
from tracing import JobCounter, TimedProvider, Tracer, prefix_self_seconds
from cargo_chat_spark.functions.language import detect_language_expr, is_supported_extension
from cargo_chat_spark.functions.localframe import local_frame
from cargo_chat_spark.models.mock import MockProvider
from cargo_chat_spark.operators import filters
from cargo_chat_spark.operators.chunking import chunk_text
from cargo_chat_spark.operators.context import assemble_prompt
from cargo_chat_spark.operators.knn import knn_join
from cargo_chat_spark.operators.ranking import reference_rank
from cargo_chat_spark.plans.indexing import build_index, embed_chunks
from cargo_chat_spark.plans.retrieval import retrieve
from cargo_chat_spark.session import get_spark
from cargo_chat_spark.sources.index_io import read_index, write_index
from cargo_chat_spark.sources.repo import scan_repo

SETUP_REPEATS = 3
MIN_OPS = 3  # traced, job counts come from untraced ops 0 and 2, so they repeat exactly
KEEP_COLS = ["file", "code", "language", "extension"]
INDEX_DDL = ("chunk_id bigint, file string, code string, language string, "
             "extension string, embedding array<double>")
CLS_DDL = ("query_id bigint, q_language string, intent string, wants_code boolean, "
           "confidence double, target_folders array<string>, "
           "target_extensions array<string>, exclude_patterns array<string>, k int")

PER_LAYER = {  # name -> unit, every one reported on every workload (0 = layer not run)
    "session.get_spark.s": "s",
    "sources.repo.scan_repo.s": "s", "sources.repo.scan_repo.files": "count",
    "sources.repo.scan_repo.bytes": "bytes",
    "operators.chunking.chunk_text.s": "s", "operators.chunking.chunk_text.chunks": "count",
    "plans.indexing.embed_chunks.s": "s", "plans.indexing.embed_chunks.pass_s": "s",
    "sources.index_io.write_index.s": "s", "sources.index_io.write_index.bytes_written": "bytes",
    "sources.index_io.write_index.files_written": "count",
    "sources.index_io.read_index.s": "s",
    "models.classify_query.ms": "ms", "models.hyde_document.ms": "ms",
    "models.embed_batch.ms": "ms", "models.rerank_scores.ms": "ms",
    "models.synthesize_answer.ms": "ms",
    "plans.retrieval.retrieve.ms": "ms", "query.results_collect.ms": "ms",
    "operators.knn.knn_join.ms": "ms", "operators.filters.ms": "ms",
    "operators.ranking.reference_rank.ms": "ms", "operators.context.assemble_prompt.ms": "ms",
    "operators.knn.knn_join.s": "s", "operators.filters.s": "s",
    "operators.ranking.reference_rank.s": "s",
    "spark.jobs_per_query": "count", "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "trace.overhead_frac": "ratio",
}


def session():
    return get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    })


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def best_of_two(fn):
    """(fastest wall time of two calls, result): a prefix materialized once
    may still be paying for code generation and JIT."""
    best = math.inf
    for _ in range(2):
        lap = time.perf_counter()
        result = fn()
        best = min(best, time.perf_counter() - lap)
    return best, result


def noop(df: DataFrame) -> None:
    """Materialize ``df`` through a fresh physical plan: a second action on
    the same DataFrame would reuse its shuffle files and skip stages."""
    df.write.format("noop").mode("overwrite").save()


class ScopedMockProvider(MockProvider):
    """The mock, plus the classifier outputs the mock never emits: folder,
    extension and exclude scopes named in the question, and a fifth intent
    for architecture questions, which ranking treats as 'other'."""

    def classify_query(self, query):
        cls = super().classify_query(query)
        if "architecture" in query.lower():
            cls.intent, cls.wants_code = "architecture", False
        cls.target_folders, cls.target_extensions, cls.exclude_patterns = gen.scopes(query)
        return cls


def cls_row(cls, query_id: int, k: int) -> dict:
    return {"query_id": query_id, "q_language": cls.language, "intent": cls.intent,
            "wants_code": cls.wants_code, "confidence": float(cls.confidence),
            "target_folders": cls.target_folders, "target_extensions": cls.target_extensions,
            "exclude_patterns": cls.exclude_patterns, "k": k}


def scoped(hits: DataFrame, cls_df: DataFrame) -> DataFrame:
    """k-NN hits joined with their classification and filtered by its
    scopes, selected into the shape ``reference_rank`` takes (what
    ``retrieve`` does in reference mode)."""
    joined = hits.join(F.broadcast(cls_df), "query_id").where(
        filters.folder_match(F.col("file"), F.col("target_folders"))
        & filters.extension_match(F.col("extension"), F.col("file"), F.col("target_extensions"))
        & filters.exclude_match(F.col("file"), F.col("exclude_patterns")))
    return joined.select("query_id", F.col("neighbor_id").alias("chunk_id"), *KEEP_COLS,
                         "distance", "q_language", "intent", "wants_code", "confidence", "k")


def write_corpus(spark, rows: dict, index_dir: str, dim: int, tracer: Tracer) -> float:
    """Write a generated corpus through ``write_index``; returns index bytes
    per byte of chunk text."""
    import pandas as pd

    pdf = pd.DataFrame({**{k: v for k, v in rows.items() if k != "embedding"},
                        "embedding": list(rows["embedding"])})
    with tracer.span("sources.index_io.write_index", "sources.index_io.write_index.s"):
        write_index(spark.createDataFrame(pdf, INDEX_DDL), index_dir, dim)
    nbytes, nfiles = dir_usage(index_dir)
    tracer.values["sources.index_io.write_index.bytes_written"].append(nbytes)
    tracer.values["sources.index_io.write_index.files_written"].append(nfiles)
    return nbytes / sum(len(c) for c in rows["code"])


# ====================================================================
def index_repo(spark, repo: str, out: str, dim: int, tracer: Tracer | None) -> None:
    """scan_repo -> build_index(index_dir=out). Traced, build_index's own
    chain is restated so each prefix (scan, + chunking, + embedding, + the
    parquet write) is materialized on its own."""
    factory = partial(MockProvider, dim)
    if tracer is None:
        build_index(scan_repo(spark, repo), factory, dim, index_dir=out)
        return
    lap = time.perf_counter()
    files = scan_repo(spark, repo)  # the directory walk runs here
    walk_s = time.perf_counter() - lap
    supported = files.where(is_supported_extension(F.col("extension")))
    chunks = chunk_text(
        supported.withColumn("language", detect_language_expr(F.col("extension"))),
        text_col="content", id_cols=("path", "language", "extension"))
    emb = embed_chunks(chunks.select(F.xxhash64("path", "chunk_seq").alias("chunk_id"),
                                     F.col("path").alias("file"), "chunk_text",
                                     "language", "extension"), factory, dim)
    secs, (n, nbytes) = best_of_two(
        lambda: supported.agg(F.count("*"), F.sum(F.octet_length("content"))).first())
    prefixes = [("sources.repo.scan_repo.s", secs)]
    tracer.values["sources.repo.scan_repo.files"].append(n)
    tracer.values["sources.repo.scan_repo.bytes"].append(nbytes)
    secs, row = best_of_two(lambda: chunks.agg(F.count("*"), F.sum("chunk_len")).first())
    prefixes.append(("operators.chunking.chunk_text.s", secs))
    tracer.values["operators.chunking.chunk_text.chunks"].append(row[0])
    secs, _ = best_of_two(lambda: emb.agg(F.count("*"), F.sum(F.size("embedding"))).first())
    prefixes.append(("plans.indexing.embed_chunks.s", secs))
    secs, _ = best_of_two(lambda: build_index(files, factory, dim, index_dir=out))
    prefixes.append(("sources.index_io.write_index.s", secs))
    selfs = prefix_self_seconds(prefixes)
    selfs["sources.repo.scan_repo.s"] += walk_s
    for name, secs in selfs.items():
        tracer.values[name].append(secs)
    nbytes, nfiles = dir_usage(out)
    tracer.values["sources.index_io.write_index.bytes_written"].append(nbytes)
    tracer.values["sources.index_io.write_index.files_written"].append(nfiles)


def collect_index(index: DataFrame):
    """(chunk ids, embedding matrix, chunk_id -> check.Chunk) of an index."""
    rows = index.select("chunk_id", "embedding", *KEEP_COLS).collect()
    ids = np.array([r["chunk_id"] for r in rows], dtype=np.int64)
    emb = np.array([r["embedding"] for r in rows], dtype=np.float64)
    meta = {r["chunk_id"]: check.Chunk(r["file"], r["extension"], r["language"], r["code"])
            for r in rows}
    return ids, emb, meta


def check_index(ids, emb, meta, files: list, dim: int, seed: int) -> list[str]:
    """Row count = the generator's sum of ceil(len/1000) over indexed files,
    the same file set, and a seeded sample of embeddings equal to
    ``MockProvider.embed_one`` of their code."""
    problems = []
    if len(ids) != gen.expected_chunks(files):
        problems.append(f"{len(ids)} index rows, want {gen.expected_chunks(files)}")
    if {c.file for c in meta.values()} != {f.path for f in files if f.indexed}:
        problems.append("indexed file set differs from the generator's")
    mock = MockProvider(dim)
    for i in random.Random(seed).sample(range(len(ids)), min(30, len(ids))):
        c = meta[int(ids[i])]
        if emb[i].tolist() != mock.embed_one(c.code):
            problems.append(f"embedding of a chunk of {c.file} differs")
            break
    return problems


# ====================================================================
class QueryInteractive:
    """The REPL: one small persisted index, one closed-loop client
    asking seeded questions through retrieve() and consuming the ranked
    results and the answer like cli.cmd_query."""

    DIM, N_CHUNKS = 64, 1200
    CYCLE = len(gen.SHAPES)  # a run asks whole cycles, so every run has the same shape mix

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.index_dir = os.path.join(work, "index")
        self.questions = gen.question_stream(seed, 2000)
        # the first three shapes: every plan (plain, rerank, improved) and every k
        self.warmup = gen.question_stream(-1 - seed, 3)
        self.provider = ScopedMockProvider(self.DIM)
        self.asked: list[tuple] = []

    def generate(self, spark, tracer, traced):
        self.ratio = write_corpus(spark, gen.corpus(self.seed, self.N_CHUNKS, self.DIM),
                                  self.index_dir, self.DIM, tracer)

    def setup(self, spark, tracer):
        with tracer.span("sources.index_io.read_index", "sources.index_io.read_index.s"):
            index, _ = read_index(spark, self.index_dir)
        self.index = index.persist()
        self.index.count()

    def warm_up(self, spark):
        for q in self.warmup:
            self.ask(spark, q, self.provider)

    def ask(self, spark, q, provider, tracer=None):
        span = tracer.span if tracer else lambda name: nullcontext()
        with span("plans.retrieval.retrieve"):
            out = retrieve(spark, self.index, q.text, q.k, provider,
                           use_rerank=q.rerank, mode=q.mode)
        with span("query.results_collect"):
            rows = out["results"].orderBy("rank").collect()
        answer = "".join(out["answer"])
        return out, rows, answer

    def op(self, spark, i, tracer):
        q = self.questions[i]
        provider = self.provider if tracer is None else TimedProvider(self.provider, tracer)
        out, rows, answer = self.ask(spark, q, provider, tracer)
        self.asked.append((q, out["hypothetical"], rows, answer))
        if tracer is not None:
            self.trace_prefixes(spark, q, out, tracer)
        return 1

    def trace_prefixes(self, spark, q, out, tracer):
        """The question's plan (reference order) rebuilt and materialized
        prefix by prefix: k-NN, + filters, + ranking, + prompt assembly."""
        cls = self.provider.classify_query(q.text)
        qvec = self.provider.embed_batch([out["hypothetical"]])[0]
        queries = local_frame(spark, [(0, qvec)], "query_id bigint, query_vec array<double>")
        cls_df = local_frame(spark, [cls_row(cls, 0, q.k)], CLS_DDL)
        hits = knn_join(queries, self.index.withColumnRenamed("chunk_id", "vec_id"),
                        2 * q.k, keep_corpus_cols=KEEP_COLS)
        cands = scoped(hits, cls_df)
        ranked = reference_rank(cands)
        prompt = assemble_prompt(ranked.withColumn("query_text", F.lit(q.text)),
                                 F.col("query_text"))
        prefixes = [(name, best_of_two(partial(noop, df))[0]) for name, df in [
            ("operators.knn.knn_join.ms", hits), ("operators.filters.ms", cands),
            ("operators.ranking.reference_rank.ms", ranked),
            ("operators.context.assemble_prompt.ms", prompt)]]
        for name, secs in prefix_self_seconds(prefixes).items():
            tracer.values[name].append(secs * 1e3)

    def check(self, spark) -> list[list[str]]:
        """Every question: the ranked rows are the oracle ranking of the
        brute-force top-2k (of the in-scope rows in improved mode) at exact
        distances, and the answer is the mock's."""
        ids, emb, meta = collect_index(self.index)
        out = []
        for q, hypo, rows, answer in self.asked:
            cls = self.provider.classify_query(q.text)
            dist = check.distances(emb, gen.mock_embed([hypo], self.DIM)[0])
            mask = None
            if q.mode == "improved":
                mask = np.array([check.passes_filters(meta[c], cls) for c in ids.tolist()])
            cands = check.brute_topk(ids, dist, 2 * q.k, mask)
            problems = check.check_ranked(rows, cands, check.expected_ranking(
                cands, q.k, cls, meta, q.text if q.rerank else None))
            if not answer.startswith("[mock-answer:"):
                problems.append(f"answer {answer[:40]!r}")
            out.append(problems)
        return out

    def bytes_ratio(self) -> float:
        return self.ratio


# ====================================================================
class QueryBulk:
    """Offline batch retrieval: a batch of seeded questions per pass
    through embed_chunks -> knn_join -> filters -> reference_rank, the
    ranked answers collected to the driver, over a corpus larger than the
    interactive one, read from parquet every pass and never persisted. The corpus is a seeded
    repository indexed by scan_repo -> build_index, so the write path's
    layout shows here too: in index bytes, and in what reads cost."""

    DIM, N_FILES, SOURCE_BYTES = 64, 200, 1_600_000
    N_QUESTIONS, N_WARMUP, K = 200, 10, 10
    CYCLE = 1

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.repo = os.path.join(work, "repo")
        self.index_dir = os.path.join(work, "index")
        self.files = gen.repo_files(seed, self.N_FILES, self.SOURCE_BYTES)
        self.texts = gen.question_pool(seed, self.N_QUESTIONS)
        self.provider = ScopedMockProvider(self.DIM)
        self.factory = partial(MockProvider, self.DIM)
        self.outputs: list[list] = []  # the collected answers of each pass

    def generate(self, spark, tracer, traced):
        gen.write_repo(self.files, self.repo)
        lap = time.perf_counter()
        index_repo(spark, self.repo, self.index_dir, self.DIM, None)
        # one cold build per run: printed for reference, not a gated metric
        self.extra = {"index_chunks_per_s": (
            gen.expected_chunks(self.files) / (time.perf_counter() - lap), "chunks/s")}
        if traced:  # the layer split of a second, warm build of the same repo
            index_repo(spark, self.repo, os.path.join(self.work, "traced_index"), self.DIM,
                       tracer)

    def setup(self, spark, tracer):
        with tracer.span("sources.index_io.read_index", "sources.index_io.read_index.s"):
            index, _ = read_index(spark, self.index_dir)
        index.count()

    def warm_up(self, spark):
        texts = gen.question_pool(-1 - self.seed, self.N_WARMUP)
        self.plan(spark, texts, self.provider)["ranked"].collect()

    def plan(self, spark, texts, provider, tracer=None) -> dict:
        cls_rows, hypos = [], []
        for qid, t in enumerate(texts):
            cls = provider.classify_query(t)
            cls_rows.append(cls_row(cls, qid, self.K))
            hypos.append((qid, provider.hyde_document(t, cls.intent, 1000)))
        with (tracer.span("sources.index_io.read_index", "sources.index_io.read_index.s")
              if tracer else nullcontext()):
            corpus, _ = read_index(spark, self.index_dir)
        queries = embed_chunks(local_frame(spark, hypos, "query_id bigint, chunk_text string"),
                               self.factory, self.DIM)
        queries = queries.select("query_id", F.col("embedding").alias("query_vec"))
        hits = knn_join(queries, corpus.withColumnRenamed("chunk_id", "vec_id"),
                        2 * self.K, keep_corpus_cols=KEEP_COLS)
        cands = scoped(hits, local_frame(spark, cls_rows, CLS_DDL))
        return {"queries": queries, "hits": hits, "cands": cands, "ranked": reference_rank(cands)}

    def op(self, spark, i, tracer):
        if tracer is None:
            self.outputs.append(self.plan(spark, self.texts, self.provider)["ranked"].collect())
            return len(self.texts)
        p = self.plan(spark, self.texts, TimedProvider(self.provider, tracer), tracer)
        prefixes = [(name, best_of_two(partial(noop, p[key]))[0]) for name, key in [
            ("plans.indexing.embed_chunks.pass_s", "queries"), ("operators.knn.knn_join.s", "hits"),
            ("operators.filters.s", "cands"), ("operators.ranking.reference_rank.s", "ranked")]]
        for name, secs in prefix_self_seconds(prefixes).items():
            tracer.values[name].append(secs)
        self.outputs.append(p["ranked"].collect())
        return len(self.texts)

    def check(self, spark) -> list[list[str]]:
        """The answers every pass collected: each question's ranked rows are
        the oracle ranking of the brute-force top-2k. Also, for the whole
        run, the index matches the generator's files and a seeded question
        asked through single-question retrieve() gets the same answer."""
        corpus = read_index(spark, self.index_dir)[0]
        ids, emb, meta = collect_index(corpus)
        shared = check_index(ids, emb, meta, self.files, self.DIM, self.seed)
        classes = [self.provider.classify_query(t) for t in self.texts]
        qvecs = gen.mock_embed([self.provider.hyde_document(t, c.intent, 1000)
                                for t, c in zip(self.texts, classes)], self.DIM)
        want = []  # per question: (brute-force top-2k, oracle ranking)
        for qid, cls in enumerate(classes):
            cands = check.brute_topk(ids, check.distances(emb, qvecs[qid]), 2 * self.K)
            want.append((cands, check.expected_ranking(cands, self.K, cls, meta)))
        qid = random.Random(self.seed).randrange(len(self.texts))
        single = retrieve(spark, corpus, self.texts[qid], self.K, self.provider)
        shared += [f"retrieve() of question {qid}: {p}" for p in
                   check.check_ranked(single["results"].collect(), *want[qid])]
        out = []
        for rows in self.outputs:
            by_q = defaultdict(list)
            for r in rows:
                by_q[r["query_id"]].append(r)
            problems = list(shared)
            for qid, (cands, expected) in enumerate(want):
                problems += check.check_ranked(by_q[qid], cands, expected)
            out.append(problems)
        return out

    def bytes_ratio(self) -> float:
        return dir_usage(self.index_dir)[0] / sum(len(f.data) for f in self.files if f.indexed)


WORKLOADS = {"query_interactive": QueryInteractive, "query_bulk": QueryBulk}


# ====================================================================
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "index_bytes_per_source_byte": "ratio"}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def count_failed(ops: int, raised: int, checks: list[list[str]]) -> int:
    """Failed operations: those that raised plus those whose output check
    found a problem, at most the number attempted."""
    return min(ops, raised + sum(1 for c in checks if c))


def run(name: str, seed: int, seconds: float, traced: bool, work: str,
        t_process: float) -> dict:
    """One run: {"report": {name: (value, unit)}, "result": the printed object}."""
    w = WORKLOADS[name](seed, work)
    tracer = Tracer()
    with tracer.span("session.get_spark", "session.get_spark.s"):
        spark = session()
    first_session = time.perf_counter() - t_process
    lap = time.perf_counter()
    w.generate(spark, tracer, traced)
    t_gen = time.perf_counter() - lap
    lap = time.perf_counter()
    w.setup(spark, tracer)
    first_setup = time.perf_counter() - lap
    setups = []
    for _ in range(SETUP_REPEATS):
        spark.catalog.clearCache()
        spark.stop()
        lap = time.perf_counter()
        with tracer.span("session.get_spark", "session.get_spark.s"):
            spark = session()
        w.setup(spark, tracer)
        setups.append(time.perf_counter() - lap)
    # one warm-up per process: JIT and generated-code caches outlive sessions
    lap = time.perf_counter()
    w.warm_up(spark)
    warm_s = time.perf_counter() - lap

    counter = JobCounter(spark) if traced else None
    times: dict[bool, list[float]] = {False: [], True: []}
    items: list[int] = []  # per untraced op
    raised = i = 0
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or i < MIN_OPS or i % w.CYCLE:
        traced_op = traced and i % 2 == 1
        lap = time.perf_counter()
        try:
            with counter.group() if counter and not traced_op and i < MIN_OPS else nullcontext():
                n = w.op(spark, i, tracer if traced_op else None)
        except Exception:
            traceback.print_exc()
            raised, n = raised + 1, 0
        times[traced_op].append(time.perf_counter() - lap)
        if not traced_op:
            items.append(n)
        i += 1

    t_ops = time.perf_counter() - start
    counts = counter.settled_counts(counter.groups) if counter else []
    lap = time.perf_counter()
    checks = w.check(spark)
    print(f"phases: first session {first_session:.1f} s, generate {t_gen:.1f} s, "
          f"first setup {first_setup:.1f} s, setups {', '.join(f'{s:.1f}' for s in setups)} s, "
          f"warm-up {warm_s:.1f} s, ops {t_ops:.1f} s, "
          f"check {time.perf_counter() - lap:.1f} s; op ms "
          f"{' '.join(f'{t * 1e3:.0f}' for t in times[False])}", file=sys.stderr)
    for problems in checks:
        for p in problems[:5]:
            print(f"check failed: {p}", file=sys.stderr)
    failed = count_failed(i, raised, checks)
    ratio = w.bytes_ratio()

    plain = times[False]
    report = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_start_s": (first_session + first_setup + warm_s, "s"),
        "op_p50_ms": (statistics.median(plain) * 1e3, "ms"),
        "op_p90_ms": (percentile(plain, 0.9) * 1e3, "ms"),
        "throughput_per_s": (sum(items) / sum(plain), "questions/s"),
        "index_bytes_per_source_byte": (ratio, "ratio"),
        "error_frac": (failed / i, "ratio"),
        "ops_timed": (len(plain), "count"),
        **getattr(w, "extra", {}),
    }
    result = {"correct": failed == 0, "attempted": i, "failed": failed}
    if not traced:
        result["metrics"] = {k: {"value": report[k][0], "unit": u} for k, u in E2E_UNITS.items()}
        return {"report": report, "result": result}

    n_traced = len(times[True])
    layer = {k: statistics.fmean(tracer.values[k]) if tracer.values.get(k) else 0.0
             for k in PER_LAYER}
    per_call = 1e3 / n_traced / (len(w.texts) if name == "query_bulk" else 1)
    for m in ("classify_query", "hyde_document", "embed_batch", "rerank_scores",
              "synthesize_answer"):
        layer[f"models.{m}.ms"] = tracer.self_seconds(f"models.{m}") * per_call
    if name == "query_interactive":
        for m in ("plans.retrieval.retrieve", "query.results_collect"):
            layer[f"{m}.ms"] = tracer.self_seconds(m) * per_call
    for j, key in enumerate(("spark.jobs_per_query", "spark.stages_per_query",
                             "spark.tasks_per_query")):
        layer[key] = sum(c[j] for c in counts) / len(counts)
    layer["trace.overhead_frac"] = statistics.median(times[True]) / statistics.median(plain) - 1
    result["metrics"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    return {"report": report, "result": result}
