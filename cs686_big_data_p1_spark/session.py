"""SparkSession factory.

Defaults are tuned for the test harness (local[$SPARK_GRAFT_CPUS],
single JVM) but every choice is made for cluster scale:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching — the 100 TB safety net.
- shuffle.partitions sized explicitly (the 200 default is wrong at
  both ends of the scale spectrum); AQE coalesces down at small SF.
- Arrow enabled for any pandas_udf path (vectorized Python, never
  row-at-a-time).
- Session timezone pinned to UTC so timestamp semantics are identical
  to the DuckDB oracle (naive UTC instants in parquet).
- Python workers fork from our own daemon module (``pydaemon``): every
  Python task calls ``importlib.invalidate_caches()``, which on CPython
  < 3.13 re-reads pyspark.zip's directory once per zipimporter (~0.2 s a
  task); the daemon re-reads a zip only when its stat changed. On
  CPython >= 3.13 it is a no-op wrapper of the stock daemon. Workers get
  the package root on PYTHONPATH, or the daemon could not be imported
  when the driver runs outside the repo. Both confs are static, so a
  session we did not build (``configure_existing``) still pays the cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: half the host's
    physical memory, capped at 16g, so a second Spark process beside
    this one (a test run during a sweep) cannot exhaust the host."""
    half = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2
    return f"{min(half >> 20, 16 << 10)}m"


def get_spark(app_name: str = "cs686-spark-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "cs686_big_data_p1_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session confs to a session we didn't build.

    The driver hands ``entry(spark)`` / ``queries()`` an existing
    SparkSession; static confs (master, memory) are fixed, but the
    semantic ones (timezone, AQE) are runtime-settable and matter for
    oracle parity.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
