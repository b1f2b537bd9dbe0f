"""SparkSession factory tuned for the target execution model.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the design
target is a multi-executor cluster at ~100 TB, so every knob set here is one
that scales: AQE (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for the Python batch-inference boundary, UTC timestamps
for oracle comparability, and shuffle partitions sized to the active
parallelism rather than the 200 default.

The Python workers run ``worker_daemon`` (``spark.python.daemon.module``).
Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar in front of
a worker's ``sys.path``, so a stock worker imports ``pyspark`` from the zip
and holds 16 zip importers: 12 over ``pyspark.zip``, 2 over the jar and 2
over the py4j zip. Before every task, ``pyspark.worker_util.
setup_spark_files`` calls ``importlib.invalidate_caches()``, and on CPython
3.11 each zip importer then re-reads its archive's whole directory: 26,672
entries, 220-280 ms per task on a 4-vCPU host, paid by every embed and
k-NN task of a pass. ``worker_daemon`` drops the three archives when the
interpreter has its own ``pyspark`` of the same version and its own
``py4j``; the call then takes ~0.1 ms, and workers are still reused.
Otherwise, and when a local worker could not import this package (see
``_worker_finds_engine``), Spark's own daemon and path serve as before.
``extra_conf`` can name another daemon module like any other conf.
"""

from __future__ import annotations

import os
import site
from importlib.machinery import PathFinder

from pyspark.sql import SparkSession

from cargo_chat_spark import worker_daemon


def get_spark(
    app_name: str = "cargo_chat_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # model-inference UDFs batch at the reference's embed batch size x4;
        # Arrow batches are the unit of pandas_udf work (SURVEY §2.8 M1)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # the driver's events table has shipped as parquet TIMESTAMP(NANOS)
        # in some fixture generations (and timestamp[us] in others); with
        # this conf the nanos generation reads as BIGINT and
        # sources.testdata.load_table branches on the loaded dtype
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if _worker_finds_engine():
        builder = builder.config("spark.python.daemon.module", worker_daemon.__name__)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _worker_finds_engine() -> bool:
    """Whether a local Python worker can import this package. Spark starts
    the worker daemon as ``python -m <module>`` in the driver's working
    directory and environment, so the worker looks in the cwd, on
    ``PYTHONPATH`` and in site-packages, not on the driver's ``sys.path``."""
    where = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages()]
    return PathFinder.find_spec(__package__, [p for p in where if p]) is not None
