"""SparkSession factory with scale-appropriate defaults.

The defaults hold on any core count: AQE on (runtime coalescing +
skew-join splitting for the Zipf-skewed term joins), Arrow on (every
analysis kernel is a pandas UDF), and one shuffle partition per core of
the session (``defaultParallelism``): a small commit on ``local[4]``
runs 4-task write stages, and a wider host gets wider stages.

A default is applied only when ``get_spark`` creates the session, and
only to keys the launcher (``spark-submit --conf``, ``spark-defaults.conf``,
``PYSPARK_SUBMIT_ARGS``) has not set. A running session keeps the
settings it was created with; the caller's ``shuffle_partitions`` and
``extra_conf`` are the only settings ``get_spark`` applies to it.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

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
# default of 1g left every concurrent task sharing ~430 MB of unified
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

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (every core when
    unset); on a real cluster it is supplied by spark-submit and must be
    left None. ``shuffle_partitions`` and ``extra_conf`` always apply; on
    a running session only their runtime SQL settings take effect.
    """
    chosen = {}
    if shuffle_partitions:
        chosen[SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    chosen.update(extra_conf or {})
    if SparkContext._active_spark_context is not None:
        spark = SparkSession.builder.config(map=chosen).getOrCreate()
    else:
        spark = _create_session(app_name, master, chosen)
    _warm_python_workers(spark)
    return spark


def _create_session(app_name: str, master: str | None, chosen: dict) -> SparkSession:
    if master is None and not os.environ.get("SPARK_MASTER_SET"):
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    # attach to the launcher's driver JVM (spark-submit), or launch one
    # with the settings that only take effect at JVM start (the driver
    # heap); the JVM's spark.* system properties are then what the
    # launcher set
    SparkContext._ensure_initialized(
        conf=SparkConf(loadDefaults=False).setAll(
            {"spark.driver.memory": DEFAULT_DRIVER_MEMORY, **chosen}.items()
        )
    )
    launched = SparkConf()
    defaults = {
        # AQE: runtime partition coalescing + automatic skew-join splitting.
        # Term-keyed shuffles are Zipf-skewed by nature (SURVEY.md §7.4).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.minPartitionNum": DEFAULT_MIN_PARTITION_NUM,
        # All analysis kernels are Arrow-vectorized pandas UDFs.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Keep driver results small by construction (top-k everywhere), but
        # be explicit about the guard.
        "spark.driver.maxResultSize": "2g",
        "spark.ui.enabled": "false",
    }
    conf = {k: v for k, v in defaults.items() if not launched.contains(k)}
    conf.update(chosen)
    builder = SparkSession.builder.appName(app_name).config(map=conf)
    if master:
        builder = builder.master(master)
    spark = builder.getOrCreate()
    # no one set the shuffle width: one partition per core of the session
    if not spark.sparkContext.getConf().contains(SHUFFLE_PARTITIONS):
        spark.conf.set(
            SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism)
        )
    return spark


_WARMED: set[str] = set()


def _warm_python_workers(spark: SparkSession) -> None:
    """Boot the Python worker pool once per application.

    The first pandas-UDF stage of a fresh session pays daemon fork +
    pandas/numpy import in every worker (seconds of wall time) —
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
