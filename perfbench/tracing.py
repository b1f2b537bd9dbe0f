"""Spans, the provider timing proxy and Spark job/stage/task counters.

All of it lives in the benchmark: spans wrap the benchmark's own calls into
each layer, and nothing inside the engine is instrumented.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans plus per-op layer values (prefix self times,
    counts) keyed by metric name."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, key: str | None = None):
        """Record a span; with ``key``, also append its duration to
        ``values[key]``."""
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._open[-1] if self._open else None))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()
            if key:
                self.values[key].append(self.spans[idx].seconds)

    def self_seconds(self, name: str) -> float:
        """Sum over spans called ``name`` of duration minus child spans."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s.name == name:
                total += s.seconds - sum(c.seconds for c in self.spans if c.parent == i)
        return total


def prefix_self_seconds(durations: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each stage of a lazy plan, from the wall time of
    materializing each of its cumulative prefixes on its own: stage k costs
    prefix k minus prefix k-1."""
    out, prev = {}, 0.0
    for name, secs in durations:
        out[name] = secs - prev
        prev = secs
    return out


class TimedProvider:
    """Wraps a model provider and records a span around every model call
    (the answer stream is timed while it is consumed)."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner, self.tracer, self.dim = inner, tracer, inner.dim

    def _timed(self, name: str, *args):
        with self.tracer.span(f"models.{name}"):
            return getattr(self.inner, name)(*args)

    def embed_batch(self, texts):
        return self._timed("embed_batch", texts)

    def classify_query(self, query):
        return self._timed("classify_query", query)

    def hyde_document(self, query, intent, max_chars=1000):
        return self._timed("hyde_document", query, intent, max_chars)

    def rerank_scores(self, query, docs):
        return self._timed("rerank_scores", query, docs)

    def synthesize_answer(self, prompt):
        it = self._timed("synthesize_answer", prompt)
        while True:
            with self.tracer.span("models.synthesize_answer"):
                tok = next(it, None)
            if tok is None:
                return
            yield tok


class JobCounter:
    """Counts the Spark jobs, stages and tasks of a block of calls through
    ``setJobGroup`` and the public ``statusTracker()``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: list[str] = []

    @contextmanager
    def group(self):
        gid = f"perfbench-{len(self.groups)}"
        self.groups.append(gid)
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks completed); skipped stages, whose
        shuffle output was reused, count as no work."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s and s.numCompletedTasks:
                    stages += 1
                    tasks += s.numCompletedTasks
        return len(jobs), stages, tasks

    def settled_counts(self, gids: list[str]) -> list[tuple[int, int, int]]:
        """Counts once the listener bus has delivered every event: read
        until two reads 0.2 s apart agree (at most ~5 s)."""
        last = None
        for _ in range(25):
            now = [self.counts(g) for g in gids]
            if now == last:
                break
            last = now
            time.sleep(0.2)
        return last
