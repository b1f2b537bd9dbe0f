"""Global top-k with a rank column, shared by the catalog's ranked
selections (``queries.hybrid``, ``queries.dataselect``)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_topk_ranked(
    df: DataFrame,
    order: list[Column],
    k: int,
    rank_col: str,
    cast: str = "int",
) -> DataFrame:
    """``row_number() OVER (ORDER BY <order>) <= k`` without a
    corpus-wide single-partition sort.

    Every global-top-k consumer previously ran the rank window over the
    FULL frame — Spark 4.1 does not insert a WindowGroupLimit for an
    empty partition spec, so at scale all rows move to one partition
    (the bench-tail "No Partition Defined for Window" warnings,
    optimization guide §2.1). ``orderBy(...).limit(k)`` instead plans as
    TakeOrderedAndProject — a map-side per-partition top-k plus an
    O(partitions x k) driver merge — and the rank window then runs over
    exactly k rows. Output-identical to the window-then-filter form
    BECAUSE the callers' orderings are total (explicit id tie-break):
    the global top-k set and the ranks within it are the same rows in
    the same order.
    """
    top = df.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn(rank_col, F.row_number().over(w).cast(cast))
