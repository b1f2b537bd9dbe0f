"""Sink-side file control: a writer can bound file sizes and counts."""

from __future__ import annotations

from tests.conftest import SF_DIR_SMALL


def test_max_records_per_file_bounds_output_files(spark, tmp_path):
    """Small-file control — the sink-side half of the storage story: a
    writer must be able to bound file sizes (maxRecordsPerFile) and
    file COUNTS (repartition before write). At 100 TB unbounded tiny
    files destroy scan planning; unbounded huge files destroy
    parallelism."""
    import glob

    e = spark.read.parquet(f"{SF_DIR_SMALL}/events.parquet")
    n = e.count()

    capped = str(tmp_path / "capped")
    e.repartition(2).write.option("maxRecordsPerFile", 250).mode(
        "overwrite"
    ).parquet(capped)
    files = glob.glob(f"{capped}/*.parquet")
    # every file respects the cap…
    for f in files:
        assert spark.read.parquet(f).count() <= 250
    # …and the total file count is the expected ceiling-bound split
    assert len(files) >= n / 250
    assert spark.read.parquet(capped).count() == n

    compacted = str(tmp_path / "compacted")
    e.coalesce(1).write.mode("overwrite").parquet(compacted)
    assert len(glob.glob(f"{compacted}/*.parquet")) == 1
    assert spark.read.parquet(compacted).count() == n
