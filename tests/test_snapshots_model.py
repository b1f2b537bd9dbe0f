"""Model-based randomized test of the snapshot store.

The snapshot store (``sources/snapshots.py``) composes several mechanisms
— copy-on-write deletes, merge-on-read deletion vectors, MERGE — whose
INTERACTIONS are where round-6's one real defect lived (MERGE
resurrecting DV'd rows). This test drives random operation sequences
against a parallel in-Python model and checks after every step that
every committed version still reads back exactly what the model predicts
(content and time travel), with a final sweep over the entire history.

The model is LAYOUT-INDEPENDENT: it tracks the visible row multiset per
version plus a conservative ``maybe_ghost`` key set (keys that may still
occupy raw files as deletion-vectored "ghost" rows). Visible content is
exactly predictable for every operation; ghost materialization depends
on which physical files a rewrite touches, so the model only *consumes*
ghost state where it is unambiguous.

Reference semantics modeled (``sources/snapshots.py``):
- snap_append / snap_write: add rows / replace content
- snap_delete (CoW): visible matched rows vanish; the deleted keys may
  leave ghosts in files the rewrite did not touch
- snap_delete_rows (MoR): visible matched rows vanish, files untouched,
  deleted keys become ghosts
- snap_merge: whole-row upsert by key — every visible row of a source
  key is replaced by the source row; keys absent from the VISIBLE table
  (DV applied) insert
"""

from __future__ import annotations

import random

import pytest

from cargo_chat_spark.sources.snapshots import (
    snap_append,
    snap_changes,
    snap_delete,
    snap_delete_rows,
    snap_merge,
    snap_read,
    snap_write,
    versions,
)
from tests.conftest import spark  # noqa: F401

KEYS = list(range(12))
SCHEMA = "rowid bigint, k bigint, v bigint"


def _df(spark, rows):
    return spark.createDataFrame(list(rows), SCHEMA).repartition(1)


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k bigint")


class State:
    """One version's model state."""

    def __init__(self, visible, maybe_ghost):
        self.visible = sorted(visible)          # [(rowid, k, v)]
        self.maybe_ghost = frozenset(maybe_ghost)

    def visible_keys(self):
        return {r[1] for r in self.visible}


def _check(spark, path, model, rng):
    vs = versions(path)
    assert vs == list(range(len(model))), (vs, len(model))
    # always the latest + one random historical version per step (the
    # final sweep covers every version)
    for v in {vs[-1], rng.choice(vs)}:
        want = model[v].visible
        got = sorted(
            (r["rowid"], r["k"], r["v"])
            for r in snap_read(spark, path, v).collect()
        )
        assert got == want, f"v{v}: got {got} want {want}"


def _rand_rows(rng, next_id, n, keys=KEYS):
    return [
        (next_id + i, rng.choice(keys), rng.randrange(1000))
        for i in range(n)
    ]


@pytest.mark.slow
@pytest.mark.parametrize("seed", [7, 23, 91])
def test_snapshot_store_matches_model(spark, tmp_path, seed):  # noqa: F811
    rng = random.Random(seed)
    path = str(tmp_path / "snap")
    next_id = 0

    rows = _rand_rows(rng, next_id, rng.randint(3, 8))
    next_id += len(rows)
    snap_write(_df(spark, rows), path)
    model = [State(rows, ())]

    ops = ["append", "delete_cow", "delete_rows", "merge", "write"]
    for _ in range(16):
        op = rng.choice(ops)
        cur = model[-1]

        if op == "write":
            batch = _rand_rows(rng, next_id, rng.randint(1, 5))
            next_id += len(batch)
            snap_write(_df(spark, batch), path)
            # replace: new manifest references only the new files
            model.append(State(batch, ()))

        elif op == "append":
            batch = _rand_rows(rng, next_id, rng.randint(1, 6))
            next_id += len(batch)
            snap_append(_df(spark, batch), path)
            model.append(State(cur.visible + batch, cur.maybe_ghost))

        elif op == "delete_cow":
            keys = rng.sample(KEYS, rng.randint(1, 4))
            snap_delete(spark, path, _keys_df(spark, keys), "k")
            # matched visible rows vanish; a deleted key may still have
            # DV'd rows in files the rewrite did not touch -> maybe_ghost
            vis = [r for r in cur.visible if r[1] not in keys]
            model.append(State(vis, cur.maybe_ghost | set(keys)))

        elif op == "delete_rows":
            keys = rng.sample(KEYS, rng.randint(1, 4))
            snap_delete_rows(spark, path, _keys_df(spark, keys), "k")
            vis = [r for r in cur.visible if r[1] not in keys]
            ghosted = {k for k in keys if k in cur.visible_keys()}
            model.append(State(vis, cur.maybe_ghost | ghosted))

        elif op == "merge":
            # insert detection is against VISIBLE keys (Delta semantics,
            # round-7 ADVICE fix): a source key whose only stored rows
            # are DV-deleted ghosts INSERTS the source row — fully
            # layout-independent, so the model predicts every outcome
            # and sources may hit maybe-ghost keys freely
            src_keys = rng.sample(KEYS, rng.randint(1, min(5, len(KEYS))))
            src = [
                (next_id + i, k, rng.randrange(1000))
                for i, k in enumerate(src_keys)
            ]
            next_id += len(src)
            snap_merge(spark, path, _df(spark, src), "k")
            vis = [r for r in cur.visible if r[1] not in set(src_keys)]
            model.append(State(vis + src, cur.maybe_ghost))

        _check(spark, path, model, rng)

    # final sweep: EVERY version of the history must still read exactly
    for v in versions(path):
        want = model[v].visible
        got = sorted(
            (r["rowid"], r["k"], r["v"])
            for r in snap_read(spark, path, v).collect()
        )
        assert got == want, f"final sweep v{v}: got {got} want {want}"

    # CDC invariant: the change feed between two versions (keyed by the
    # UNIQUE rowid) must equal the model's visible-set diff exactly —
    # shared-file survivors, CoW moves and DV-only commits all cancel or
    # surface per the documented semantics. One
    # exception mirrors snap_write's REPLACE: every old file leaves the
    # manifest, so an identical row rewritten by `write` hashes equal
    # on both sides and is correctly reported as no-change (our model
    # rows are unique by rowid, so this only affects untouched rows).
    vs = versions(path)
    pairs = {(a, a + 1) for a in vs[:-1]}
    pairs |= {
        tuple(sorted(rng.sample(vs, 2))) for _ in range(3) if len(vs) >= 2
    }
    for a, b in sorted(pairs):
        va = {r[0]: r for r in model[a].visible}
        vb = {r[0]: r for r in model[b].visible}
        expect = (
            {("inserted", rid) for rid in vb.keys() - va.keys()}
            | {("deleted", rid) for rid in va.keys() - vb.keys()}
            | {
                ("updated", rid)
                for rid in va.keys() & vb.keys()
                if va[rid] != vb[rid]
            }
        )
        got = {
            (r["change"], r["rowid"])
            for r in snap_changes(spark, path, a, b, "rowid").collect()
        }
        assert got == expect, (
            f"CDC v{a}->v{b}: got {sorted(got)} want {sorted(expect)}"
        )
