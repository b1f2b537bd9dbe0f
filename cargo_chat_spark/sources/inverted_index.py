"""Persisted inverted index — incremental lexical (BM25) search state.

Completes the persisted-index triad: ANN cells (`index_cells.
upsert_index_cells`), near-dup band store (`band_store.py`), and now the
lexical posting lists a production retrieval stack pairs with them. The
batch `bm25_topk` gate recomputes tf/df/dl from the corpus per query;
at 100 TB the index is built ONCE and queried forever:

- **Layout.** Postings `(token, doc_id, tf, dl)` partitioned by
  ``shard = crc32(token) % n_shards`` and token-sorted within each shard
  file, so a term lookup prunes to |terms| shard partitions (partition
  pruning, plan-pinned) and parquet row-group min/max stats line up with
  the pushed ``token IN (...)`` filter. The document length rides IN the
  posting row (the classic forward-index denormalization, +8 bytes/row):
  query-time scoring needs NO join against an O(corpus) doc-length
  table — one pruned scan is the whole read.
- **Corpus stats** (n_docs, sum_dl — BM25's avgdl numerator) live in a
  JSON sidecar maintained additively on append; integer-exact, so the
  persisted path scores bit-identically to the batch recompute.
- **Appends are O(wave)**: a new wave's postings append into the shard
  partitions without touching existing files; waves must carry NEW
  doc_ids (the ingest contract every store in this family shares —
  re-ingest goes through the snapshot MERGE path instead).

The df of a term is exactly its pruned-scan row count (each doc
contributes one posting per distinct term), so df/idf need no separate
maintained table.
"""

from __future__ import annotations

import json
import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_chat_spark.operators import dedup as D

_POSTINGS_SUBDIR = "postings"
_STATS_SUFFIX = ".stats.json"
N_SHARDS = 16


def _postings_path(path: str) -> str:
    return os.path.join(path, _POSTINGS_SUBDIR)


def _stats_path(path: str) -> str:
    # next to (not inside) the postings dir — an overwrite of the store
    # can never truncate it (the dedup_ingest fence precedent)
    return path.rstrip("/") + _STATS_SUFFIX


def shard_of(token: str, n_shards: int = N_SHARDS) -> int:
    """Driver-side twin of the Spark shard expression (crc32 of UTF-8
    bytes — zlib.crc32 == F.crc32)."""
    return zlib.crc32(token.encode("utf-8")) % n_shards


def postings_of(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """(shard, token, doc_id, tf, dl, positions) posting rows for
    ``docs`` — same tokenizer as the batch BM25 gate
    (operators/dedup.py::tokens). ``positions`` are the token's 0-based
    slots in the doc's token sequence (ascending) — the POSITIONAL
    postings phrase queries need; ``tf == size(positions)`` by
    construction (+~4 bytes/occurrence, the standard positional-index
    overhead)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(D.tokens(F.col(text_col))).alias("pos", "token"),
    ).where(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias(
            "positions"
        ),
    )
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    return tf.join(dl, "doc_id").select(
        F.pmod(F.crc32(F.col("token")), F.lit(n_shards)).cast("int").alias("shard"),
        "token",
        "doc_id",
        "tf",
        "dl",
        "positions",
    )


def _doc_stats(docs: DataFrame, text_col: str = "text") -> tuple[int, int]:
    """(n_docs, sum_dl) of a frame, counting docs with >=1 token —
    integer-exact, matching the batch gate's dl CTE."""
    row = (
        docs.select(F.size(D.tokens(F.col(text_col))).alias("n"))
        .where(F.col("n") > 0)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("sum_dl"),
        )
        .collect()[0]
    )
    return int(row["n_docs"] or 0), int(row["sum_dl"] or 0)


def _read_stats_raw(path: str) -> dict:
    # the stats file is the streaming ingest's COMMIT POINT (stats_batch
    # fence + cumulative n_docs/sum_dl): a silent {} on an unreadable
    # file would reset the fence and double-fold (sources/sidecar.py)
    from cargo_chat_spark.sources.sidecar import read_json_sidecar

    return read_json_sidecar(
        _stats_path(path), default={}, what="index stats"
    )


def read_index_stats(path: str) -> tuple[int, int]:
    s = _read_stats_raw(path)
    try:
        return int(s["n_docs"]), int(s["sum_dl"])
    except (ValueError, KeyError):
        return 0, 0


def _write_stats(path: str, n_docs: int, sum_dl: int, **extra) -> None:
    """Atomic publish (temp + os.replace): the streaming ingest loop
    uses the stats file as its per-batch commit point."""
    tmp = _stats_path(path) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"n_docs": n_docs, "sum_dl": sum_dl, **extra}, fh)
    os.replace(tmp, _stats_path(path))


def _write(p: DataFrame, path: str, mode: str, n_token_files: int) -> None:
    (
        p.repartitionByRange(n_token_files, "token")
        .sortWithinPartitions("token")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(_postings_path(path))
    )


def write_inverted_index(
    docs: DataFrame, path: str, n_token_files: int = 4
) -> None:
    """Create (or replace) the index from ``docs``."""
    _write(postings_of(docs), path, "overwrite", n_token_files)
    _write_stats(path, *_doc_stats(docs))


def append_inverted_index(
    docs: DataFrame, path: str, n_token_files: int = 4
) -> None:
    """Ingest a wave of NEW doc_ids: O(wave) partition appends + an
    additive stats update. Existing shard files are immutable."""
    _write(postings_of(docs), path, "append", n_token_files)
    n0, s0 = read_index_stats(path)
    n1, s1 = _doc_stats(docs)
    _write_stats(path, n0 + n1, s0 + s1)


def _tombstones_path(path: str) -> str:
    return os.path.join(path, "tombstones")


def read_postings(
    spark: SparkSession, path: str, terms: list[str] | None = None
) -> DataFrame:
    """Posting rows, pruned to ``terms`` when given: the shard IN (...)
    predicate prunes partitions at planning time and token IN (...)
    pushes into the parquet scan (both plan-pinned by
    tests/test_inverted_index.py).

    A CDC-maintained index (``sync_index_from_snapshot`` /
    ``apply_index_cdc``) additionally carries merge-on-read tombstones:
    (doc_id, cutoff) kills that doc's postings from every generation
    BEFORE cutoff. The tombstone set is bounded between compactions and
    broadcasts; postings files are never rewritten by a delete."""
    p = spark.read.parquet(_postings_path(path))
    if os.path.isdir(_tombstones_path(path)):
        t = (
            spark.read.parquet(_tombstones_path(path))
            .groupBy("doc_id")
            .agg(F.max("cutoff").alias("cutoff"))
        )
        p = p.alias("p").join(
            F.broadcast(t).alias("t"),
            on=[
                F.col("p.doc_id") == F.col("t.doc_id"),
                F.col("p.ver") < F.col("t.cutoff"),
            ],
            how="left_anti",
        )
    if terms is not None:
        shards = sorted({shard_of(t) for t in terms})
        p = p.where(F.col("shard").isin(shards)).where(
            F.col("token").isin(list(terms))
        )
    return p


def phrase_query(
    spark: SparkSession, path: str, phrase: tuple[str, str]
) -> DataFrame:
    """Exact 2-word phrase matches from POSITIONAL postings: one
    shard-pruned scan of just the two terms, adjacency = per-doc
    intersection of (positions(w1)+1) with positions(w2) — map-side
    after the (doc_id) equi-join of two term-frequency-sized frames.
    Tombstone-aware via read_postings (a CDC-deleted doc's phrases
    disappear with its postings). Returns (doc_id, n_matches)."""
    w1, w2 = phrase
    p = read_postings(spark, path, [w1, w2])
    a = p.where(F.col("token") == w1).select(
        "doc_id", F.col("positions").alias("pa")
    )
    b = p.where(F.col("token") == w2).select(
        "doc_id", F.col("positions").alias("pb")
    )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.transform(F.col("pa"), lambda x: x + F.lit(1)),
                    F.col("pb"),
                )
            ).cast("bigint").alias("n_matches"),
        )
        .where(F.col("n_matches") > 0)
    )


def bm25_query(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 scores from the persisted index: ONE pruned postings scan —
    df aggregates from the scanned rows, corpus stats come from the
    sidecar as plan literals, no O(corpus) table is touched. Scores are
    bit-identical to the batch recompute (same integer inputs, same
    float expression shape, 6-dp rounding)."""
    n_docs, sum_dl = read_index_stats(path)
    if n_docs == 0:
        raise ValueError(f"empty or missing index at {path}")
    avgdl = float(sum_dl) / float(n_docs)
    tf = read_postings(spark, path, terms)
    df = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    idf = F.log(
        F.lit(1)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf") * F.lit(k1 + 1.0)
    ) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    return (
        tf.join(F.broadcast(df), "token")
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("bm25"))
    )


# ------------------------------------------------- snapshot CDC maintenance
# The lakehouse composition: a snapshot table of documents is the source
# of truth; the index follows it INCREMENTALLY through the O(changed
# files) change feed (snapshots.snap_changes) instead of rebuilding.
# Inserts append postings stamped with the synced version; deletes and
# the old generations of updates become merge-on-read tombstones
# (doc_id, cutoff) — postings files are immutable, reads anti-join the
# bounded tombstone set; corpus stats adjust additively from the LIVE
# postings of the dying docs (sum(tf) of a doc's postings IS its dl, so
# no pre-image text is needed). The same follow-the-log pattern as
# index_cells.upsert_index_cells, applied to lexical state.


def sync_index_from_snapshot(
    spark: SparkSession,
    index_path: str,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_token_files: int = 4,
) -> int:
    """Initial full build from the table's LATEST snapshot; postings are
    stamped with the synced version (the tombstone generation axis).
    Returns the synced version."""
    from cargo_chat_spark.sources.snapshots import manifest, snap_read

    v = int(manifest(table_path)["version"])
    docs = snap_read(spark, table_path).select(id_col, text_col)
    _write(
        postings_of(docs, id_col, text_col).withColumn("ver", F.lit(v)),
        index_path,
        "overwrite",
        n_token_files,
    )
    n, s = _doc_stats(docs, text_col)
    _write_stats(index_path, n, s, synced_version=v)
    return v


def synced_version(index_path: str) -> int:
    return int(_read_stats_raw(index_path).get("synced_version", -1))


def apply_index_cdc(
    spark: SparkSession,
    index_path: str,
    table_path: str,
    to_version: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_token_files: int = 4,
) -> int:
    """Advance the index from its synced version to ``to_version``
    (latest by default) using the row-level change feed. Cost is
    O(changed files + changed docs' postings), never O(corpus)."""
    from cargo_chat_spark.sources.snapshots import (
        manifest,
        snap_changes,
        snap_read,
    )

    from_v = synced_version(index_path)
    if from_v < 0:
        raise ValueError(
            f"index at {index_path} was not built by "
            "sync_index_from_snapshot"
        )
    to_v = int(manifest(table_path)["version"]) if to_version is None else int(to_version)
    if to_v == from_v:
        return to_v
    ch = snap_changes(spark, table_path, from_v, to_v, id_col)
    dead = (
        ch.where(F.col("change").isin("deleted", "updated"))
        .select(F.col(id_col).alias("doc_id"))
        .distinct()
    )
    fresh = (
        ch.where(F.col("change").isin("inserted", "updated"))
        .select(F.col(id_col))
        .distinct()
    )

    # stats of the dying generations, from the index itself (1-row agg)
    gone = (
        read_postings(spark, index_path)
        .join(F.broadcast(dead), "doc_id")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("nd"),
            F.coalesce(F.sum("tf"), F.lit(0)).cast("bigint").alias("sd"),
        )
        .collect()[0]
    )

    # merge-on-read: tombstone every pre-to_v generation of dying docs
    (
        dead.withColumn("cutoff", F.lit(to_v).cast("int"))
        .coalesce(1)
        .write.mode("append")
        .parquet(_tombstones_path(index_path))
    )

    # new generations for inserts + updated posts, stamped ver = to_v
    new_docs = snap_read(spark, table_path, to_v).join(
        F.broadcast(fresh), id_col, "semi"
    ).select(id_col, text_col)
    _write(
        postings_of(new_docs, id_col, text_col).withColumn(
            "ver", F.lit(to_v)
        ),
        index_path,
        "append",
        n_token_files,
    )
    n1, s1 = _doc_stats(new_docs, text_col)
    n0, s0 = read_index_stats(index_path)
    _write_stats(
        index_path,
        n0 - int(gone["nd"]) + n1,
        s0 - int(gone["sd"]) + s1,
        synced_version=to_v,
    )
    return to_v


def _complete_compaction_swap(path: str, journal: dict) -> None:
    """Post-commit phase of the journaled swap (sources/_compaction.py);
    module-level so crash tests can intercept it."""
    from cargo_chat_spark.sources import _compaction as _C

    _C.complete_swap(path, journal)


def compact_index_tombstones(spark: SparkSession, path: str) -> int:
    """Materialize the tombstones: rewrite ONLY the dirty postings files
    (those holding a tombstoned generation), then clear the folded
    tombstone files — the index analog of snapshots.snap_compact_dv.
    O(dirty files); clean files are untouched byte-for-byte. Returns the
    number of files rewritten.

    Single-writer maintenance op (run it from the same scheduler slot as
    the CDC applier). Crash-windowed via the shared journaled swap
    (sources/_compaction.py, closing the round-9 ADVICE window here
    too): survivors fully staged, journal as the atomic commit point,
    idempotent completion, orphan rollback.
    """
    from cargo_chat_spark.sources import _compaction as _C

    return _C.compact_tombstoned_store(
        spark,
        path,
        data_root=_postings_path(path),
        tombstones_dir=_tombstones_path(path),
        id_col="doc_id",
        sort_col="token",
        part_col="shard",
        complete_fn=lambda p, j: _complete_compaction_swap(p, j),
    )
