"""Unreadable-state discipline sweep (ADVICE r10 generalized): every
persisted fence/state sidecar reader must distinguish three cases —

- MISSING file  → the documented empty default (fresh store);
- EXISTS but unreadable (EISDIR standing in for EACCES/EIO, and corrupt
  JSON) → raise, because defaulting silently resets a fence or refolds
  non-recomputable state;
- ivm_stream is the documented exception: its state is a pure cache of
  a recomputable rollup, so defaulting self-heals by full recompute.

These are pure-filesystem tests — no SparkSession needed.
"""

from __future__ import annotations

import json

import pytest


def _make_unreadable(path) -> None:
    """An 'exists but unreadable' sidecar: a DIRECTORY at the file path
    (EISDIR — same OSError class as EACCES/EIO, reproducible as
    non-root)."""
    path.mkdir(parents=True)


def _make_corrupt(path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("{not json")


CASES = []


def _case(fn):
    CASES.append(pytest.param(fn, id=fn.__name__))
    return fn


@_case
def kmeans_state(tmp_path):
    from cargo_chat_spark.streaming import kmeans_stream as M

    p = tmp_path / "st"
    assert M.read_kmeans_state(str(p)) is None
    return M._state_path(str(p)), lambda: M.read_kmeans_state(str(p))


@_case
def dedup_ingest_fence(tmp_path):
    from cargo_chat_spark.streaming import dedup_ingest as M

    p = tmp_path / "store"
    assert M.read_ingest_fence(str(p)) == -1
    return M._fence_path(str(p)), lambda: M.read_ingest_fence(str(p))


@_case
def compaction_watermark(tmp_path):
    from cargo_chat_spark.streaming import upsert_sink as M

    p = tmp_path / "rollup"
    assert M.read_compaction_watermark(str(p)) == -1
    return (
        M._watermark_path(str(p)),
        lambda: M.read_compaction_watermark(str(p)),
    )


@_case
def index_stats(tmp_path):
    from cargo_chat_spark.sources import inverted_index as M

    p = tmp_path / "index"
    assert M._read_stats_raw(str(p)) == {}
    return M._stats_path(str(p)), lambda: M._read_stats_raw(str(p))


@_case
def band_store_sync(tmp_path):
    from cargo_chat_spark.sources import band_store as M

    p = tmp_path / "bands"
    assert M.synced_band_version(str(p)) == -1
    return M._sync_path(str(p)), lambda: M.synced_band_version(str(p))


@_case
def ann_sync(tmp_path):
    from cargo_chat_spark.sources import index_cells as M

    p = tmp_path / "ivf"
    assert M.ann_synced_version(str(p)) == -1
    return (
        str(p).rstrip("/") + M._ANN_SYNC,
        lambda: M.ann_synced_version(str(p)),
    )


@pytest.mark.parametrize("setup", CASES)
def test_missing_defaults_unreadable_raises(setup, tmp_path):
    import pathlib

    # missing → default (asserted inside the case fn), returns reader
    sidecar, reader = setup(tmp_path)
    sidecar = pathlib.Path(sidecar)

    _make_unreadable(sidecar)
    with pytest.raises(RuntimeError, match="unreadable"):
        reader()

    sidecar.rmdir()
    _make_corrupt(sidecar)
    with pytest.raises(RuntimeError, match="unreadable"):
        reader()


def test_mix_state_unreadable_raises(tmp_path):
    from cargo_chat_spark.streaming import mix_ingest as M

    p = tmp_path / "mix"
    assert M.read_mix_state(str(p))["max_ingested_batch"] == -1
    sidecar = M._state_path(str(p))
    import pathlib

    pathlib.Path(sidecar).mkdir(parents=True)
    with pytest.raises(ValueError, match="unreadable"):
        M.read_mix_state(str(p))


def test_ivm_state_defaults_by_design(tmp_path):
    """ivm state is recomputable — corrupt sidecars self-heal via full
    rebuild, so the reader DEFAULTS (documented exception)."""
    from cargo_chat_spark.streaming import ivm_stream as M

    p = tmp_path / "view"
    sidecar = M._state_path(str(p))
    import pathlib

    pathlib.Path(sidecar).write_text("{not json")
    assert M.read_ivm_state(str(p)) is None


def test_readers_still_parse_good_state(tmp_path):
    from cargo_chat_spark.streaming import dedup_ingest, upsert_sink
    from cargo_chat_spark.sources import band_store, index_cells

    for mod_path, payload, reader, want in [
        (
            dedup_ingest._fence_path(str(tmp_path / "a")),
            {"max_ingested_batch": 7},
            lambda: dedup_ingest.read_ingest_fence(str(tmp_path / "a")),
            7,
        ),
        (
            upsert_sink._watermark_path(str(tmp_path / "b")),
            {"max_compacted_batch": 3},
            lambda: upsert_sink.read_compaction_watermark(
                str(tmp_path / "b")
            ),
            3,
        ),
        (
            band_store._sync_path(str(tmp_path / "c")),
            {"synced_version": 2},
            lambda: band_store.synced_band_version(str(tmp_path / "c")),
            2,
        ),
        (
            str(tmp_path / "d") + index_cells._ANN_SYNC,
            {"synced_version": 5},
            lambda: index_cells.ann_synced_version(str(tmp_path / "d")),
            5,
        ),
    ]:
        with open(mod_path, "w") as fh:
            json.dump(payload, fh)
        assert reader() == want
