"""Data-layer drift guard: pin the normalized engine schema.

The driver's testdata encoding has changed twice in three rounds
(TIMESTAMP(NANOS) in r1-r2, TIMESTAMP(MICROS, isAdjustedToUTC=false)
in r3), each time surfacing as opaque failures deep inside suite
queries. This test loads every table through io.load and asserts the
contract the rest of the engine assumes — so the next regeneration
fails HERE, with an obvious message, instead of in eight places.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from tests.conftest import SF_DIR
from ts_data_pipeline_spark import io

# column -> (table, expected normalized type)
EXPECTED = {
    "events": {
        "event_id": T.LongType(),
        "ts": T.TimestampType(),
        "user_id": T.LongType(),
        "event_type": T.StringType(),
        "value": T.DoubleType(),
        "props": T.StringType(),
    },
    "orders": {"o_orderkey": T.LongType(), "o_orderdate": T.TimestampType()},
    "lineitem": {"l_orderkey": T.LongType(), "l_shipdate": T.TimestampType()},
    "documents": {"doc_id": T.LongType(), "text": T.StringType()},
    "embeddings": {"vec_id": T.LongType()},
}


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_normalized_schema(spark, table):
    df = io.load(spark, SF_DIR, table)
    fields = {f.name: f.dataType for f in df.schema.fields}
    for col, want in EXPECTED[table].items():
        assert col in fields, f"{table}.{col} missing; have {sorted(fields)}"
        assert fields[col] == want, (
            f"{table}.{col}: expected {want}, got {fields[col]} — "
            "testdata encoding drifted; update io.normalize_timestamps"
        )


@pytest.mark.parametrize("table", io.TABLES)
def test_no_ntz_survives_load(spark, table):
    """No TIMESTAMP_NTZ column may escape the load boundary — the
    event-time surface (unix_micros/withWatermark) hard-rejects it."""
    df = io.load(spark, SF_DIR, table)
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    assert not ntz, f"{table}: NTZ columns escaped normalization: {ntz}"


def test_nanos_long_decode_gated_on_table(spark):
    """The nanos->micros decode of a long 'ts' applies only to tables
    known to ship TIMESTAMP(NANOS) (_NANOS_TS_TABLES); an unknown
    table's long 'ts' (which could be epoch seconds or millis) must
    pass through untouched rather than be misdecoded by 1000x."""
    df = spark.createDataFrame([(1, 1_700_000_000)], "id long, ts long")
    out = io.normalize_timestamps(df, table="mystery_feed")
    assert dict((f.name, f.dataType) for f in out.schema.fields)["ts"] == T.LongType()
    ev = io.normalize_timestamps(df, table="events")
    assert dict((f.name, f.dataType) for f in ev.schema.fields)["ts"] == T.TimestampType()


def test_embeddings_vector_column(spark):
    """The ANN/dedup operators assume a numeric array embedding col."""
    df = io.load(spark, SF_DIR, "embeddings")
    fields = {f.name: f.dataType for f in df.schema.fields}
    vec_cols = [
        n for n, t in fields.items()
        if isinstance(t, T.ArrayType)
        and isinstance(t.elementType, (T.FloatType, T.DoubleType))
    ]
    assert vec_cols, f"no array<float|double> column in embeddings: {fields}"


def test_schema_memo_roundtrip(spark):
    """The r15 schema memo (load -> cached StructType -> explicit
    reader schema) must hand back the exact inferred schema: a drift
    here would silently change column types for every consumer."""
    io._SCHEMA_CACHE.pop(io.table_path(SF_DIR, "events"), None)
    first = io.load(spark, SF_DIR, "events")          # infers, memoizes
    assert io.table_path(SF_DIR, "events") in io._SCHEMA_CACHE
    second = io.load(spark, SF_DIR, "events")         # memoized path
    assert first.schema == second.schema
    assert first.count() == second.count()


def test_load_reasserts_reader_confs(spark):
    """A conf a caller changes between loads is set back by the next
    load: the reader settings are not remembered per session."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    io.load(spark, SF_DIR, "events")
    try:
        spark.conf.set(key, "true")
        io.load(spark, SF_DIR, "events")
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, "false")
