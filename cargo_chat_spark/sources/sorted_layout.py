"""Range-sorted parquet layout.

Each file covers a narrow, disjoint range of one column
(``repartitionByRange`` + ``sortWithinPartitions``), so a predicate on
that column touches few files, and within each file parquet's row-group
min/max stats prune further because the rows are sorted.
``tests/test_sorted_layout.py`` pins the layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_range_sorted(
    df: DataFrame, path: str, col: str, n_files: int = 16
) -> None:
    """Write ``df`` as ``n_files`` parquet files, each covering a disjoint
    range of ``col`` (range partition + in-file sort)."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )
