"""IVF-cell partitioned index: layout, partition pruning in the plan, and
result equivalence with the in-memory cell assignment."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from cargo_chat_spark.sources.index_cells import (
    read_index_cells,
    write_index_partitioned,
)
from cargo_chat_spark.sources.testdata import load_table
from tests.conftest import SF_DIR_SMALL


def test_partitioned_index_prunes(spark, tmp_path):
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    index = emb.select(
        F.col("vec_id").alias("chunk_id"), F.col("embedding")
    )
    centroids = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec")
    )
    out = str(tmp_path / "pidx")
    write_index_partitioned(index, out, 64, centroids)

    # physical layout: one directory per cell
    dirs = {d for d in os.listdir(os.path.join(out, "index")) if d.startswith("cell_id=")}
    assert len(dirs) == 4

    pruned = read_index_cells(spark, out, [1, 3])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan.split("PartitionFilters")[1][:200], (
        "cell filter did not reach partition pruning"
    )

    # completeness: cells partition the corpus
    total = spark.read.parquet(os.path.join(out, "index")).count()
    assert total == emb.count()
    assert pruned.count() + read_index_cells(spark, out, [0, 2]).count() == total


def test_import_reference_index(spark, tmp_path):
    """One-way index.bin migration (main.rs:365-368 format): positional
    chunk ids, dim sniffed from the first vector, loader-contract errors
    on ragged vectors / length mismatch (ann.rs:128-161)."""
    import json

    import pytest

    from cargo_chat_spark.sources.index_cells import import_reference_index

    blob = {
        "index": {"opaque": "rp-tree state, ignored on import"},
        "vectors": [[0.1, 0.2, 0.3], [0.4, 0.5, 0.6]],
        "metadata": [
            {"file": "src/a.rs", "code": "fn a() {}", "language": "Rust", "extension": "rs"},
            {"file": "src/b.py", "code": "def b(): pass", "language": "Python", "extension": None},
        ],
    }
    src = tmp_path / "index.bin"
    src.write_text(json.dumps(blob))
    df, meta = import_reference_index(spark, str(src), str(tmp_path / "out"))
    assert meta["dim"] == 3 and meta["format"] == "parquet"
    rows = {r["chunk_id"]: r for r in df.collect()}
    assert sorted(rows) == [0, 1]  # positional ids, Vec order
    assert rows[0]["file"] == "src/a.rs" and rows[1]["language"] == "Python"
    assert rows[1]["extension"] is None
    assert [round(x, 6) for x in rows[0]["embedding"]] == [0.1, 0.2, 0.3]

    # loader-contract failures mirror ann.rs error cases
    ragged = dict(blob, vectors=[[0.1, 0.2, 0.3], [0.4, 0.5]])
    (tmp_path / "ragged.bin").write_text(json.dumps(ragged))
    with pytest.raises(ValueError, match="length 3 but got 2"):
        import_reference_index(spark, str(tmp_path / "ragged.bin"), str(tmp_path / "o2"))

    short = dict(blob, metadata=blob["metadata"][:1])
    (tmp_path / "short.bin").write_text(json.dumps(short))
    with pytest.raises(ValueError, match="length mismatch"):
        import_reference_index(spark, str(tmp_path / "short.bin"), str(tmp_path / "o3"))

    empty = dict(blob, vectors=[])
    (tmp_path / "empty.bin").write_text(json.dumps(empty))
    with pytest.raises(ValueError, match="vectors"):
        import_reference_index(spark, str(tmp_path / "empty.bin"), str(tmp_path / "o4"))


def _mk_index(spark, tmp_path, n_cells=4):
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    index = emb.select(
        F.col("vec_id").alias("chunk_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    centroids = emb.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    out = str(tmp_path / "pidx")
    write_index_partitioned(index, out, 64, centroids)
    return out, index


def _partition_sig(out):
    """{cell dir: sorted data file names} — changes iff a partition is
    rewritten (parquet part file names embed a fresh task UUID)."""
    import os as _os

    data = _os.path.join(out, "index")
    return {
        d: sorted(
            f for f in _os.listdir(_os.path.join(data, d))
            if not f.startswith(("_", "."))
        )
        for d in _os.listdir(data)
        if d.startswith("cell_id=")
    }


def test_upsert_rewrites_only_touched_cells(spark, tmp_path):
    from cargo_chat_spark.sources.index_cells import upsert_index_cells

    out, index = _mk_index(spark, tmp_path)
    before = _partition_sig(out)

    # update one existing vector in place (same embedding -> same cell)
    one = index.where(F.col("chunk_id") == 7).select(
        "chunk_id",
        F.transform("embedding", lambda x: x * F.lit(1.0)).alias("embedding"),
    )
    upsert_index_cells(spark, out, one)
    after = _partition_sig(out)

    changed = [d for d in before if after.get(d) != before[d]]
    assert len(changed) == 1, (
        f"expected exactly one rewritten cell, got {changed}"
    )
    back = spark.read.parquet(out + "/index")
    assert back.count() == index.count()  # replace, not append
    assert back.where(F.col("chunk_id") == 7).count() == 1


def test_upsert_moves_vector_and_drops_emptied_cell(spark, tmp_path):
    import os as _os

    from cargo_chat_spark.sources.index_cells import upsert_index_cells

    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    # two far-apart centroids; all corpus vectors near-origin -> cell 0,
    # one planted outlier owns cell 1
    import pyspark.sql.functions as Fn

    base = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("chunk_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    outlier = base.where(F.col("chunk_id") == 0).select(
        "chunk_id",
        F.transform("embedding", lambda x: x + F.lit(100.0)).alias("embedding"),
    )
    planted = base.where(F.col("chunk_id") > 0).unionByName(outlier)
    centroids = spark.createDataFrame(
        [(0, [0.0] * 64), (1, [100.0] * 64)], "cell_id int, cvec array<double>"
    )
    out = str(tmp_path / "pidx2")
    write_index_partitioned(planted, out, 64, centroids)
    assert _os.path.isdir(_os.path.join(out, "index", "cell_id=1"))

    # move the outlier back near the origin: its row must LEAVE cell 1,
    # and the now-empty cell-1 partition must disappear
    moved = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("chunk_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    upsert_index_cells(spark, out, moved)
    back = spark.read.parquet(out + "/index")
    assert back.count() == 50
    assert back.where(F.col("chunk_id") == 0).count() == 1, "no duplicate"
    assert not _os.path.isdir(_os.path.join(out, "index", "cell_id=1")), (
        "emptied cell partition must be dropped"
    )


def test_bloom_manifest_fast_path_matches_scan_fallback(spark, tmp_path):
    """The chunk→cell Bloom manifest is a pure optimization: upserting
    with it present must produce exactly the table the scan fallback
    (manifest deleted) produces, the manifest must exist after a build,
    and must stay consistent (post-upsert membership checks locate the
    moved ids) across an upsert."""
    import json as _json
    import os as _os

    from cargo_chat_spark.sources.index_cells import (
        _CELL_BLOOMS,
        _read_cell_blooms,
        upsert_index_cells,
    )

    emb = load_table(spark, SF_DIR_SMALL, "embeddings")

    def build(tag):
        out, index = _mk_index(spark, tmp_path / tag)
        return out, index

    def updates():
        return emb.where((F.col("vec_id") >= 450)).select(
            F.col("vec_id").alias("chunk_id"),
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: -x
            ).alias("embedding"),
        )

    out_fast, _ = _mk_index(spark, tmp_path / "fast")
    assert _os.path.exists(_os.path.join(out_fast, _CELL_BLOOMS)), (
        "build must create the Bloom manifest"
    )
    upsert_index_cells(spark, out_fast, updates())

    out_slow, _ = _mk_index(spark, tmp_path / "slow")
    _os.remove(_os.path.join(out_slow, _CELL_BLOOMS))
    upsert_index_cells(spark, out_slow, updates())
    assert not _os.path.exists(_os.path.join(out_slow, _CELL_BLOOMS)), (
        "scan fallback must not resurrect the manifest"
    )

    def rows(path):
        return sorted(
            (r["chunk_id"], r["cell_id"], tuple(r["embedding"]))
            for r in spark.read.parquet(path + "/index").collect()
        )

    assert rows(out_fast) == rows(out_slow)

    # manifest consistency: every live cell has a bloom, and a second
    # upsert of the SAME ids (replay) stays idempotent through the
    # fast path
    blooms = _read_cell_blooms(out_fast)
    live = {
        int(d.split("=", 1)[1])
        for d in _os.listdir(_os.path.join(out_fast, "index"))
        if d.startswith("cell_id=")
    }
    assert live <= set(blooms)
    before = rows(out_fast)
    upsert_index_cells(spark, out_fast, updates())
    assert rows(out_fast) == before


def test_compact_index_cells_defragments_without_changing_values(spark, tmp_path):
    import os as _os

    from cargo_chat_spark.sources.index_cells import (
        compact_index_cells,
        upsert_index_cells,
    )

    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    out, index = _mk_index(spark, tmp_path)
    # an upsert appends task files to the touched cells
    upsert_index_cells(
        spark,
        out,
        emb.where(F.col("vec_id") >= 480).select(
            F.col("vec_id").alias("chunk_id"),
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: -x
            ).alias("embedding"),
        ),
    )

    def files_per_cell():
        data = _os.path.join(out, "index")
        return {
            d: sum(
                1
                for f in _os.listdir(_os.path.join(data, d))
                if not f.startswith(("_", "."))
            )
            for d in _os.listdir(data)
            if d.startswith("cell_id=")
        }

    before_rows = sorted(
        (r["chunk_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(out + "/index").collect()
    )
    assert max(files_per_cell().values()) > 1, "fixture produced no fragmentation"

    rewritten = compact_index_cells(spark, out)
    assert rewritten, "compaction found nothing to rewrite"
    assert max(files_per_cell().values()) == 1
    after_rows = sorted(
        (r["chunk_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(out + "/index").collect()
    )
    assert after_rows == before_rows

    # second pass is a no-op; a replayed upsert stays idempotent across
    # the compaction (layout-independent replace-by-chunk_id)
    assert compact_index_cells(spark, out) == []
    upsert_index_cells(
        spark,
        out,
        emb.where(F.col("vec_id") >= 480).select(
            F.col("vec_id").alias("chunk_id"),
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: -x
            ).alias("embedding"),
        ),
    )
    final_rows = sorted(
        (r["chunk_id"], r["cell_id"], tuple(r["embedding"]))
        for r in spark.read.parquet(out + "/index").collect()
    )
    assert final_rows == before_rows


def test_upsert_rejects_duplicate_chunk_ids(spark, tmp_path):
    import pytest

    from cargo_chat_spark.sources.index_cells import upsert_index_cells

    out, index = _mk_index(spark, tmp_path)
    dup = index.where(F.col("chunk_id") == 5).unionByName(
        index.where(F.col("chunk_id") == 5)
    )
    with pytest.raises(ValueError, match="one row per chunk_id"):
        upsert_index_cells(spark, out, dup)


@pytest.mark.slow
def test_delete_index_ids_and_ann_cdc_lifecycle(spark, tmp_path):
    """delete_index_ids rewrites only the cells holding the ids; the CDC
    wrapper keeps the index equal to a from-scratch build of the table's
    CURRENT content after every step (update-with-cell-move, delete,
    reinsert), and idle applies are fenced no-ops."""
    from cargo_chat_spark.sources.index_cells import (
        ann_synced_version,
        apply_ann_cdc,
        delete_index_ids,
        sync_ann_index_from_snapshot,
        write_index_partitioned,
    )
    from cargo_chat_spark.sources.snapshots import (
        snap_append,
        snap_delete,
        snap_merge,
        snap_write,
    )

    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("chunk_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    ).where(F.col("chunk_id") < 60)
    centroids = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )

    # --- plain delete: only holding cells rewritten, rows gone
    out0 = str(tmp_path / "del_idx")
    write_index_partitioned(vecs, out0, 64, centroids)
    before = _partition_sig(out0)
    victims = vecs.where(F.col("chunk_id").isin(5, 6)).select("chunk_id")
    delete_index_ids(spark, out0, victims)
    after = _partition_sig(out0)
    back = spark.read.parquet(out0 + "/index")
    assert back.where(F.col("chunk_id").isin(5, 6)).count() == 0
    assert back.count() == vecs.count() - 2
    assert any(after.get(d) != before[d] for d in before)
    untouched = [d for d in before if after.get(d) == before[d]]
    assert untouched, "delete must not rewrite every cell"

    # --- CDC lifecycle vs from-scratch builds
    tbl = str(tmp_path / "tbl")
    idx = str(tmp_path / "cdc_idx")
    snap_write(vecs, tbl)
    v0 = sync_ann_index_from_snapshot(spark, idx, tbl, 64, centroids)
    assert ann_synced_version(idx) == v0

    def index_rows(path):
        return {
            (r["chunk_id"], r["cell_id"])
            for r in spark.read.parquet(path + "/index")
            .select("chunk_id", "cell_id")
            .collect()
        }

    def fresh_rows():
        from cargo_chat_spark.sources.snapshots import snap_read

        ref = str(tmp_path / "ref")
        import shutil as _sh

        if os.path.isdir(ref):
            _sh.rmtree(ref)
        write_index_partitioned(
            snap_read(spark, tbl).select("chunk_id", "embedding"),
            ref, 64, centroids,
        )
        return index_rows(ref)

    # update (negate -> cell moves) + delete, one CDC apply
    upd = vecs.where(F.col("chunk_id") % 10 == 3).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    snap_merge(spark, tbl, upd, "chunk_id")
    snap_delete(
        spark, tbl,
        vecs.where(F.col("chunk_id") % 10 == 7).select("chunk_id"),
        "chunk_id",
    )
    apply_ann_cdc(spark, idx, tbl)
    assert index_rows(idx) == fresh_rows()

    # idle apply is a fenced no-op (no version advance -> no rewrite)
    sig = _partition_sig(idx)
    apply_ann_cdc(spark, idx, tbl)
    assert _partition_sig(idx) == sig

    # reinsert a previously deleted id with new content
    re_add = vecs.where(F.col("chunk_id") == 7).withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(2.0))
    )
    snap_append(re_add, tbl)
    apply_ann_cdc(spark, idx, tbl)
    assert index_rows(idx) == fresh_rows()
