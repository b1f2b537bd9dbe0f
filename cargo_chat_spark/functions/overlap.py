"""Driver-side job overlap (optimization guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are sequential only because driver code calls them
sequentially. ``spawn_job`` runs a driver-blocking action on a side
thread so an INDEPENDENT action can proceed on the main thread — the
side job's tasks back-fill executors freed by the main job's tail. The
caller must ``join()`` before depending on the side job's effects;
exceptions re-raise at ``join()``, so a guard job (a contract check, a
uniqueness probe) still aborts the caller before any dependent write.

First used by ``sources/index_io.upsert_index_cells`` (r15); shared here
for the snapshot-lifecycle operators. Job descriptions/groups are
thread-local in Spark, so overlapped jobs label independently in the UI.
"""

from __future__ import annotations

import threading
from typing import Callable


class _JobThread(threading.Thread):
    exc: BaseException | None = None

    def __init__(self, fn: Callable[[], object]):
        super().__init__(daemon=True)
        self._fn = fn
        self.result: object = None

    def run(self) -> None:
        try:
            self.result = self._fn()
        except BaseException as e:  # noqa: BLE001 — re-raised at join
            self.exc = e

    def join(self, timeout=None):  # type: ignore[override]
        super().join(timeout)
        if self.is_alive():
            # an unfinished job must not read as a finished one
            raise TimeoutError(f"job still running after {timeout} s")
        if self.exc is not None:
            raise self.exc
        return self.result


def spawn_job(fn: Callable[[], object]) -> _JobThread:
    """Start ``fn`` (a driver-blocking Spark action) on a side thread;
    returns the thread. ``join()`` re-raises the job's exception and
    returns its result; ``join(timeout)`` raises ``TimeoutError`` if the
    job is still running when the timeout expires."""
    t = _JobThread(fn)
    t.start()
    return t
