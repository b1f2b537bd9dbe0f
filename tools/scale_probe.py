"""Measured-scaling probe: replicate the sf0.1 fixture to 2x and 4x (id
ranges offset so keys stay unique) and time a fixed set of LINEAR-SHAPE
operators at each size. Near-flat seconds-per-row across the ladder is
the empirical backing for SCALE.md's extrapolation arguments.

Deliberately excludes the pair-generating dedup family: replicating
documents verbatim manufactures duplicate clusters whose candidate pairs
grow quadratically BY DESIGN — that family's scaling argument is the
band-bucket math in SCALE.md, not this probe.

Usage: python tools/scale_probe.py [base_sf_dir] (writes temp dirs under
/tmp, prints a markdown table).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

# (query, tables it reads, id columns to offset per table)
QUERIES = [
    "table_profile",
    "events_tumbling_window",
    "events_ohlc_hourly",
    "token_count",
    "quality_score",
    "doc_fingerprints",
    "langid_heuristic",
    # graph family (r7): l_partkey is offset per replica, so each copy is
    # a DISJOINT subgraph — edges, wedges, and label frames scale
    # linearly with no cross-replica pair blowup
    "part_copurchase_pagerank",
    "copurchase_bfs_hops",
    "copurchase_triangles",
    "copurchase_label_prop",
    # IVM (r7): the MERGE/delete wave matches fixed custkey RESIDUES
    # (offsets are multiples of 10), so change volume scales with the
    # table — write + maintenance + refresh all probe the linear shape
    "incremental_join_cdc",
]
TABLES = {
    "lineitem": ["l_orderkey", "l_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
}


def replicate(spark, base: str, out: str, factor: int) -> None:
    os.makedirs(out, exist_ok=True)
    for t, id_cols in TABLES.items():
        df = spark.read.parquet(f"{base}/{t}.parquet")
        parts = [df]
        for i in range(1, factor):
            shifted = df
            for c in id_cols:
                shifted = shifted.withColumn(
                    c, F.col(c) + F.lit(i * 100_000_000)
                )
            parts.append(shifted)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        u.write.mode("overwrite").parquet(f"{out}/{t}.parquet")


def main() -> None:
    from cargo_chat_spark import caching
    from cargo_chat_spark.queries import catalog
    from cargo_chat_spark.session import get_spark

    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="scale_probe")
    work = tempfile.mkdtemp(prefix="scale_probe_")
    dirs = {1: base}
    for f in (2, 4):
        d = f"{work}/x{f}"
        replicate(spark, base, d, f)
        dirs[f] = d

    # JIT warm pass at 1x
    for q in QUERIES:
        catalog.SPARK_QUERIES[q](spark, base).write.format("noop").mode(
            "overwrite"
        ).save()

    results: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
    for f, d in dirs.items():
        caching.invalidate_all()
        for q in QUERIES:
            t0 = time.perf_counter()
            catalog.SPARK_QUERIES[q](spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            results[q][f] = round(time.perf_counter() - t0, 3)

    print("| query | 1x (s) | 2x (s) | 4x (s) | 4x/1x |")
    print("|---|---|---|---|---|")
    for q in QUERIES:
        r = results[q]
        print(
            f"| {q} | {r[1]} | {r[2]} | {r[4]} | "
            f"{round(r[4] / r[1], 2) if r[1] else 'n/a'} |"
        )
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
