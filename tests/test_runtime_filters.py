"""Runtime filter pin — the Catalyst feature that prunes the FACT side
of a join using information that only exists at runtime: for a selective
join key, the optimizer injects a bloom-filter aggregate on the dim side
and a might_contain probe above the fact scan, shrinking the shuffle.

A free declarative win at 100 TB IF the plan stays join+filter shaped —
this pin keeps it from silently regressing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMALL


def _with_conf(spark, overrides):
    old = {}
    for k, v in overrides.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    return old


def _restore(spark, old):
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_runtime_bloom_filter_join(spark):
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # default 10GB — the fixture fact side must still qualify
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep a shuffle join
    }
    old = _with_conf(spark, overrides)
    try:
        fact = spark.read.parquet(f"{SF_DIR_SMALL}/lineitem.parquet")
        dim = (
            spark.read.parquet(f"{SF_DIR_SMALL}/orders.parquet")
            .where(F.col("o_totalprice") > 40000)  # selective
            .select("o_orderkey")
        )
        joined = fact.join(dim, fact.l_orderkey == dim.o_orderkey)
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan, plan[:2000]
        # correctness: equal to the unfiltered-join row count
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        expect = fact.join(dim, fact.l_orderkey == dim.o_orderkey).count()
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        assert joined.count() == expect
    finally:
        _restore(spark, old)
