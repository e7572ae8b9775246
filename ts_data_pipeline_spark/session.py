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
- stream checkpoints committed through Hadoop's ``FileSystem`` API
  (:data:`CHECKPOINT_FILE_MANAGER`, Spark's
  ``FileSystemBasedCheckpointFileManager``) instead of Spark's default
  ``FileContext``-based manager. Every micro-batch writes its offsets
  log, commit log, source log and one state delta per state partition,
  each as a temp file renamed into place. On ``file:`` a
  ``FileContext.rename`` goes through
  ``AbstractFileSystem.renameInternal`` ->
  ``RawLocalFileSystem.getFileLinkStatus`` -> ``FileUtil.readLink``,
  which forks a ``readlink`` process for the source and the
  destination of the file and of its ``.crc``, native Hadoop library
  or not: about 89 forks per micro-batch of the flagship window
  stream on 4 state partitions, which made state commits cost
  0.4-0.5 s per batch where the disk work is under 1 ms.
  ``FileSystem.rename`` on ``file:`` is one POSIX ``rename(2)``,
  atomic and replacing the destination; ``ChecksumFileSystem`` still
  writes and renames the ``.crc`` sidecars, and Spark's checkpoint
  file checksums (``spark.sql.streaming.checkpoint.fileChecksum.
  enabled``, left at its default) still wrap the state files. What
  the ``FileContext`` manager adds is an atomic overwrite-rename on
  HDFS; the rule holds where checkpoints sit on a local filesystem:
  the ``local[...]`` sessions :func:`get_spark` builds, and the
  replay gates' ``tempfile.mkdtemp`` checkpoints, which apply it
  around each run on the caller's session.
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
    for key, value in session_rules(spark).items():
        spark.conf.set(key, value)
    return spark


CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def session_rules(spark: SparkSession) -> dict[str, str]:
    """The runtime confs the engine fixes on a session it runs on: the
    shuffle width (:func:`shuffle_partitions`) and the checkpoint file
    manager (:data:`CHECKPOINT_FILE_MANAGER`). One map, so
    :func:`get_spark` and the replay gates set the same values."""
    return {
        "spark.sql.shuffle.partitions": shuffle_partitions(spark),
        "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
    }


def shuffle_partitions(spark: SparkSession) -> str:
    """The engine's shuffle width: ``SPARK_GRAFT_SHUFFLE_PARTITIONS``
    if set, else the executor slots (``defaultParallelism``)."""
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(
        spark.sparkContext.defaultParallelism
    )
