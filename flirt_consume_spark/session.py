"""SparkSession construction with scale-aware defaults.

Settings chosen for the 100-TB design point (SURVEY.md §4):
- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion from runtime stats);
- session timezone pinned to UTC so rendered timestamps (date_format,
  window bounds) are deterministic and match the DuckDB oracle; the
  stored micros themselves are read unchanged in any zone, because
  every table is read through its declared schema (schemas.py);
- Arrow enabled for any Pandas-UDF path (the only sanctioned Python
  execution path — row-at-a-time Python UDFs are banned in this repo);
- shuffle partitions sized for the local[32] test harness; on a real
  cluster AQE coalesces from a higher initial number, so this is a
  floor, not a tuning knob we rely on;
- PySpark's DataFrame debugging off
  (`spark.python.sql.dataFrameDebugging.enabled`): when on, every
  `Column`/`functions` call records the Python call stack for error
  context, ~1 ms a call against ~0.07 ms for the py4j round trip
  itself. PySpark reads the flag once per process, at the first
  `Column` call, so it is a build-time conf, not a runtime one;
- Spark's generated-code cache raised from 100 to 10,000 classes
  (`spark.sql.codegen.cache.maxEntries`, a static conf): a session
  that runs the registry compiles ~2,900 distinct classes, so at 100
  every pass compiles them all again, at ~5 ms each.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs that are safe (and important) to set on ANY session,
# including one handed to us by an external driver.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin runtime-mutable confs (UTC, AQE, Arrow) on an existing session.

    Called at the top of every public query entry point so correctness
    does not depend on who built the SparkSession.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not runtime-settable in this build — non-fatal.
            pass
    return spark


def get_spark(
    app_name: str = "flirt-consume-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
