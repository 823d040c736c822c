"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
this process may run on); the same config block is what we would ship
on a 1000-executor cluster (AQE on, skew join on, Arrow on, UTC). Only
the shuffle-partition count is environment-derived — on a real cluster
it would be set to 2-3x total executor cores, and AQE coalesces down
from there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set to a number, else the cores this
    process may run on."""
    try:
        return max(1, int(os.environ["SPARK_GRAFT_CPUS"]))
    except (KeyError, ValueError):
        return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else ~60% of the host's
    physical memory capped at 48g: local mode runs every executor
    inside the driver JVM, and a heap sized past physical memory lets
    it grow until the host kills it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return "48g"
    return f"{max(1024, min(48 * 1024, int(phys * 0.6) >> 20))}m"


def get_spark(app_name: str = "monday_etl_automation_spark") -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    UTC session timezone is required for DuckDB-oracle comparison
    (DuckDB timestamps are UTC-naive). AQE is on so that at scale the
    runtime re-plans: broadcast conversion, skew-join splitting,
    shuffle-partition coalescing.

    Python UDF workers import this package, and they start from the
    environment the JVM inherits, so the package's parent directory
    goes on ``PYTHONPATH`` before the JVM starts — whatever the
    caller's working directory. Workers start through ``pydaemon``,
    which runs pyspark's own daemon on the installed pyspark instead of
    the copy in Spark's zip archives (see that module).
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in [root, *paths] if p)
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "monday_etl_automation_spark.pydaemon")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # 50 registered queries × several codegen stages each overflow
        # the default 100-entry generated-class cache, forcing Janino
        # recompilation of expensive expression trees (decimal sums) on
        # every re-run; the cache holds class references, so a larger
        # bound costs little memory
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
