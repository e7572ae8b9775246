"""Table loading for the driver's synthetic parquet datasets.

Reads are plain ``spark.read.parquet`` — declarative scans so
Catalyst applies predicate pushdown / column pruning / partition
pruning for free (the reference's only "optimizations" are a
hand-ordered null filter and a manual projection,
option_trades/utils.py:184 + 111-145; here they fall out of the
planner).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Tables whose ``ts`` has shipped as TIMESTAMP(NANOS) (read as a
#: long under nanosAsLong). The nanos->micros decode applies ONLY
#: here: a future table whose long ``ts`` is epoch seconds or millis
#: must be added deliberately, not silently misdecoded by 1000x.
_NANOS_TS_TABLES = frozenset({"events"})

#: path -> inferred StructType (see :func:`load`; metadata only).
_SCHEMA_CACHE: dict[str, T.StructType] = {}


def normalize_timestamps(df: DataFrame, table: str | None = None) -> DataFrame:
    """Normalize every timestamp-like column to ``TimestampType``.

    The driver's testdata encoding has drifted across rounds
    (TIMESTAMP(NANOS) read as long in r1-r2; TIMESTAMP(MICROS,
    isAdjustedToUTC=false) -> ``TIMESTAMP_NTZ`` in r3), and the
    engine's event-time surface (``unix_micros`` / ``withWatermark``)
    requires ``TIMESTAMP``. Rather than special-case each encoding,
    normalize generically at the load boundary: NTZ casts are value-
    identical under the engine's pinned UTC session timezone, and a
    raw nanos-long ``ts`` truncates to micros exactly as DuckDB does,
    so oracle comparisons agree. The nanos-long fallback is gated on
    ``table`` membership in :data:`_NANOS_TS_TABLES` (unit scale is
    not recoverable from a bare long column).
    """
    out = df
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            out = out.withColumn(field.name, F.col(field.name).cast("timestamp"))
        elif (
            field.name == "ts"
            and isinstance(field.dataType, T.LongType)
            and table in _NANOS_TS_TABLES
        ):
            # Historical NANOS-as-long encoding (r1-r2 testdata).
            out = out.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return out


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table as a DataFrame.

    Two reader confs defend against testdata-encoding drift (both
    runtime-settable, idempotent, and value-neutral under the pinned
    UTC session timezone):

    - ``inferTimestampNTZ.enabled=false``: parquet micros with
      ``isAdjustedToUTC=false`` read as ``TimestampType`` instead of
      ``TIMESTAMP_NTZ`` (which the event-time surface rejects), and —
      unlike a post-read cast — keeps time-range predicate pushdown
      on the raw scan column.
    - ``nanosAsLong=true``: a TIMESTAMP(NANOS) column reads as long
      instead of erroring; :func:`normalize_timestamps` truncates it
      to micros exactly as DuckDB does.

    Both are set on every call (two py4j round trips, the cost of
    reading them back), so a caller that changes either between loads
    never leaves a later load reading with the wrong setting.
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    # Schema memo (r15): re-inferring the parquet schema costs a
    # driver-side footer read per load (~90-200 ms warm, measured) —
    # at 11 headline builds per bench that was ~1.5 s of pure
    # metadata re-derivation. Cache the INFERRED schema per absolute
    # path (the metastore's job in a deployed engine) and hand it to
    # the reader, which then skips inference. This memoizes METADATA
    # only — every execution still scans the parquet inputs; the
    # testdata dirs are immutable for a process lifetime, matching
    # Spark's own per-session file-index caching assumption.
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    return normalize_timestamps(df, table=name)
