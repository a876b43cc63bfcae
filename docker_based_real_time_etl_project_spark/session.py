"""SparkSession factory.

Local-mode testing defaults that still express cluster-scale intent:
AQE on (skew joins, partition coalescing at runtime), shuffle
partitions sized to cores locally (on a 1000-executor cluster this is
overridden to ~2-3x total cores or left to AQE), UTC session timezone
so timestamp semantics match the DuckDB oracle and are deterministic
across hosts, Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# the directory holding the package: Python workers import it by name
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_DAEMON_MODULE = f"{__package__}._pyworker"


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 16g,
    or half the box's physical RAM (whole GiB, at least 1) if that is
    smaller, so two sessions on one box cannot claim all of it."""
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(16, ram_gib // 2))}g"


def get_spark(
    app_name: str = "docker_based_real_time_etl_project_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Every config here is scale-motivated, not just local convenience:

    - ``spark.sql.adaptive.*``: AQE re-plans at runtime -- coalesces
      post-shuffle partitions, converts sort-merge to broadcast when a
      side turns out small, splits skewed partitions. Mandatory at
      100 TB where static planning guesses wrong.
    - ``spark.sql.shuffle.partitions``: locally = cores. On a cluster
      this is a floor; AQE coalesces down from a high initial number.
    - ``spark.sql.session.timeZone=UTC``: deterministic event-time
      bucketing (window/date_trunc edges) regardless of host tz.
    - ``canChangeCachedPlanOutputPartitioning``: a persisted plan runs
      under AQE too. Without it Spark builds every cached plan with AQE
      off, so a cached micro-batch aggregate keeps all its shuffle
      partitions (one task each) instead of coalescing to a few.
    - Arrow: vectorized transfer for the few Pandas-UDF operators.
    - ``parquet.aggregatePushdown``: push MIN/MAX/COUNT to footers.
    - ``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM``, else
      :func:`default_driver_memory` (16g capped at half the RAM).
    - ``spark.executorEnv.PYTHONPATH``: the package root, ahead of any
      value ``extra_conf`` gives. Python workers (pandas UDFs,
      ``mapInPandas``) import the package by name and start in the
      JVM's working directory, so without it they fail with
      ModuleNotFoundError whenever the driver runs from outside the
      repository root without PYTHONPATH.
    - ``spark.python.daemon.module``: :mod:`._pyworker`, the stock
      ``pyspark.daemon`` except that a worker re-reads a zip archive on
      its path only when the file changed. Each task's set-up calls
      ``importlib.invalidate_caches()``, which otherwise re-reads the
      whole directory of ``pyspark.zip``, the py4j zip and the
      spark-core jar, about 0.2 s of CPU per task, which was most of
      an ``applyInPandasWithState`` micro-batch.
    """
    extra_conf = dict(extra_conf or {})
    extra_conf[_WORKER_PATH] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, extra_conf.get(_WORKER_PATH)) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS), which Spark's
        # parquet reader otherwise rejects; read as long + convert in the
        # loader (ns -> us truncation, same as DuckDB's read of NS)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", _DAEMON_MODULE)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
