"""Shared deterministic-draw primitives (Spark + DuckDB twins).

Membership decisions at 100 TB (train/val/test splits, k-fold
assignment) must be PURE FUNCTIONS of the row key — reproducible across
engines, runs, repartitionings, and incremental appends — so the
curation funnel's per-doc split and the dedup-aware group splits build
on the same md5-low-32-bits draw in [0, 10000). Kept in a leaf module so
``queries.curation`` and ``queries.dedup`` share it without importing
each other (which would reorder registry registration between the two
modules).
"""

from __future__ import annotations

from pyspark.sql import functions as F

DRAW_MOD = 10_000

# 98/1/1 split boundaries shared by curation_pipeline and leakage_safe_split
SPLIT_VAL_LO = 9_800   # draw < 9800 -> train
SPLIT_TEST_LO = 9_900  # 9800 <= draw < 9900 -> val; >= 9900 -> test


def draw(id_col):
    """Deterministic per-key draw in [0, DRAW_MOD): low 32 bits of
    md5(key as string)."""
    low32 = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
    return F.pmod(low32.cast("bigint"), F.lit(DRAW_MOD))


def draw_sql(id_sql: str) -> str:
    """DuckDB twin of :func:`draw` over the same key expression."""
    return (
        f"(('0x' || substring(md5(CAST({id_sql} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {DRAW_MOD})"
    )
