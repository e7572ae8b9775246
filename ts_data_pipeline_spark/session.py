"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores) but every setting is chosen to survive a 1000-executor
cluster at ~100 TB:

- AQE on (runtime partition coalescing + skew-join splitting),
- Arrow on (vectorized Python interchange for the few Pandas-UDF
  paths),
- session timezone pinned to UTC so event-time semantics are
  deployment-independent (the reference pins US/Eastern only at the
  presentation edge, darkpool_trades/main.py:45),
- shuffle partitions sized to the executor slots
  (:func:`shuffle_partitions`): ``spark.sql.shuffle.partitions`` is
  set to ``sparkContext.defaultParallelism`` (what ``local[*]``
  resolves to) unless ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides
  it. Batch shuffles still coalesce under AQE; stateful streams, which
  AQE leaves alone, fix the value into their checkpoint, so each new
  stream runs one state-store task per slot instead of waves of
  near-empty ones. The rule holds in local mode and on clusters whose
  executors are all registered when the session starts. Under dynamic
  allocation, or while executors are still starting,
  ``defaultParallelism`` counts only the cores registered so far
  (never fewer than 2), and AQE cannot split partitions back up, so
  there ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` must be set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ts-data-pipeline-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures the Python call site around EVERY
        # DataFrame/Column API call for error context (errors/utils
        # _with_origin: getActiveSession + conf.get + stack walk + two
        # extra py4j calls per API call). Profiled at ~35-50% of
        # driver-side plan-construction time on the expression-heavy
        # queries (OPTIMIZATION_r15.md §driver). Costs only call-site
        # lines in error messages; query results are unaffected.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Testdata drifted to TIMESTAMP(MICROS, isAdjustedToUTC=false)
        # in round 3; without this, parquet reads come back TIMESTAMP_NTZ
        # and every event-time call site (unix_micros / withWatermark)
        # rejects them. Values are identical under the pinned UTC tz.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions(spark))
    return spark


def shuffle_partitions(spark: SparkSession) -> str:
    """The engine's shuffle width: ``SPARK_GRAFT_SHUFFLE_PARTITIONS``
    if set, else the executor slots (``defaultParallelism``)."""
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(
        spark.sparkContext.defaultParallelism
    )
