"""functions/overlap.spawn_job: join() returns the side job's result,
re-raises its exception, and never reports an unfinished job as done."""

from __future__ import annotations

import threading

import pytest

from cargo_chat_spark.functions.overlap import spawn_job


def test_join_returns_result_and_reraises():
    assert spawn_job(lambda: 42).join() == 42

    def boom():
        raise ValueError("side job failed")

    with pytest.raises(ValueError, match="side job failed"):
        spawn_job(boom).join()


def test_join_timeout_raises_while_job_runs():
    release = threading.Event()
    t = spawn_job(lambda: release.wait(30) and "done")
    with pytest.raises(TimeoutError):
        t.join(timeout=0.05)
    release.set()
    assert t.join(timeout=30) == "done"
