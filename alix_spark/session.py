"""SparkSession factory with scale-appropriate defaults.

Defaults here are the ones that matter at 100 TB just as much as on
``local[32]``: AQE on (runtime coalescing + skew-join splitting for the
Zipf-skewed term joins), Arrow on (every analysis kernel is a pandas UDF),
and a shuffle-partition count that callers override per data size.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("ALIX_SHUFFLE_PARTITIONS", "32"))
# Scan-split parallelism floor. Spark's default is the session's core
# count, which shreds small index tables (a 4 MB postings parquet) into
# one split per file purely to satisfy the floor — every downstream job
# then pays per-task overhead with no bytes to amortize it. A floor of
# "4" keeps small scans to a few splits and lets byte-based sizing rule
# above it (maxPartitionBytes still caps splits at 128 MB, so large
# tables split exactly as before); override per deployment when a scan
# feeds a CPU-heavy map that needs more tasks than byte sizing gives.
DEFAULT_MIN_PARTITION_NUM = os.environ.get("ALIX_MIN_PARTITION_NUM", "4")
# Driver JVM heap. In local mode the driver IS the executor: the Spark
# default of 1g left 32 concurrent tasks sharing ~430 MB of unified
# execution+storage memory (guide §5) — constant GC pressure and cache
# eviction on any non-trivial corpus. Must be set before the JVM
# launches, so it lives here, not in per-job conf. Override per
# deployment (on a cluster the driver does no data work and can be
# smaller; executors get their own spark.executor.memory).
DEFAULT_DRIVER_MEMORY = os.environ.get("ALIX_DRIVER_MEMORY", "8g")


def get_spark(
    app_name: str = "alix_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster it is supplied by spark-submit and must be left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER_SET"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # AQE: runtime partition coalescing + automatic skew-join splitting.
        # Term-keyed shuffles are Zipf-skewed by nature (SURVEY.md §7.4).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.minPartitionNum": DEFAULT_MIN_PARTITION_NUM,
        "spark.driver.memory": DEFAULT_DRIVER_MEMORY,
        # All analysis kernels are Arrow-vectorized pandas UDFs.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Keep driver results small by construction (top-k everywhere), but
        # be explicit about the guard.
        "spark.driver.maxResultSize": "2g",
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_python_workers(spark)
    return spark


_WARMED: set[str] = set()


def _warm_python_workers(spark: SparkSession) -> None:
    """Boot the Python worker pool once per application.

    The first pandas-UDF stage of a fresh session pays daemon fork +
    pandas/numpy import in every worker (~2-3 s wall on 32 cores) —
    charged to whatever query happens to run first. Warming at session
    creation is infrastructure startup, the moral equivalent of JIT
    warmup: no input data is read and no query result is computed or
    retained. Disable with ALIX_WARM_WORKERS=0 (e.g. short-lived test
    sessions that never run a Python kernel).
    """
    if os.environ.get("ALIX_WARM_WORKERS", "1") == "0":
        return
    try:
        app_id = spark.sparkContext.applicationId
        if app_id in _WARMED:
            return
        _WARMED.add(app_id)
        n = max(1, int(spark.sparkContext.defaultParallelism))

        def _identity(batches):
            for b in batches:
                yield b

        spark.range(0, n, 1, n).mapInPandas(_identity, "id long").count()
        # also compile the engine's hottest JVM plan family once — the
        # tokenize Generate feeding a grouped count (2 rows of data;
        # this is whole-stage-codegen compilation, not data work): a
        # cold session otherwise charges ~2 s of class generation to
        # the first query that explodes tokens
        from pyspark.sql import functions as F

        from alix_spark.analysis import simple

        tiny = spark.createDataFrame(
            [(0, "a b"), (1, "c d")], "doc_id long, text string"
        )
        (
            simple.tokenize(tiny, "doc_id", "text")
            .groupBy("term")
            .count()
            .filter(F.col("term") == "x")
            .count()
        )
    except Exception as exc:
        # warmup is best-effort, never a session failure — but say so:
        # a failed warmup moves its cost onto the first query
        log.warning(
            "Python worker warmup failed (%s: %s); the first query pays "
            "the worker start-up instead",
            type(exc).__name__,
            exc,
            exc_info=True,
        )
