"""QuerySpec over parameter ids, tag keys and tag values holding any
character: the Spark emitter (``evaluate``) and the DuckDB reference
(``oracle_sql``) run the same specs over one small table and must
return the same rows. Names with ``.`` or a backtick are the ones an
unquoted emitter turns into a struct access or a parse error."""

from __future__ import annotations

import numpy as np
import pandas as pd

from conftest import normalize
from ts_data_pipeline_spark.plans.queryspec import (
    GroupByTime, NumericAggregation as NA, Ordering, QuerySpec,
    StringAggregation as SA, TagFilter, evaluate, oracle_sql,
)

NAMES = ["it's", 'dq"x', "we`ird", "a.b", "back\\slash", "pct%_x", "tempé"]
#: per-stream tag value; stream "2" carries the other exotic values
TAG_VALUES = {"1": "v'1 \\ é", "2": 'v"2 `%_'}
#: (hour, value) observations per parameter and stream: gaps at hours
#: 1-2 and 4 for Previous/Linear to fill
OBS = [(0, 10.0), (3, 16.0), (5, 7.0)]


def _table():
    rows = []
    for i, name in enumerate(NAMES):
        for sid in ("1", "2"):
            for h, v in OBS:
                rows.append((sid, f"2024-01-01 {h:02d}:{i:02d}:00", name,
                             v * int(sid) + i, f"{name}@{h}"))
    return rows


def _spark_pv(spark, rows):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(*r, {n: TAG_VALUES[r[0]] for n in NAMES}) for r in rows],
        "stream_id string, ts_s string, parameter_id string, "
        "num_value double, str_value string, tags map<string,string>",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")


def _duck_pv(rows):
    import duckdb

    pdf = pd.DataFrame(rows, columns=["stream_id", "ts", "parameter_id",
                                      "num_value", "str_value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    for n in NAMES:
        pdf[f"tag_{n}"] = pdf["stream_id"].map(TAG_VALUES)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("exotic_pv", pdf)
    return con


def _specs():
    """Every spec covers every name at once: aggregate aliases, group
    keys, tag filters, interpolation fills and orderings."""
    window = {"from_ts": "2024-01-01 00:00:00", "to_ts": "2024-01-01 07:00:00"}
    return [
        QuerySpec(
            numeric_aggregations=[NA(n, "Mean") for n in NAMES]
            + [NA(NAMES[2], "Last"), NA(NAMES[3], "Count")],
            string_aggregations=[SA(n, "First") for n in NAMES],
            tag_filters=[
                TagFilter(n, "Equal", list(TAG_VALUES.values())) for n in NAMES
            ],
            group_by_time=GroupByTime("1 hour", "Linear"),
            group_by_tags=NAMES,
            orderings=[Ordering(f"{n}_mean", "Desc") for n in NAMES]
            + [Ordering("bucket")],
            **window,
        ),
        QuerySpec(
            numeric_aggregations=[NA(n, "Max") for n in NAMES],
            tag_filters=[TagFilter(NAMES[0], "Like", "v%"),
                         TagFilter(NAMES[1], "NotLike", "%`%")],
            group_by_time=GroupByTime("1 hour", "Previous"),
            group_by_tags=NAMES[:2],
            **window,
        ),
        QuerySpec(
            numeric_aggregations=[NA(n, "None") for n in NAMES],
            string_aggregations=[SA(n, "None") for n in NAMES],
            tag_filters=[TagFilter(NAMES[1], "NotEqual", TAG_VALUES["1"])],
            group_by_tags=NAMES,
            orderings=[Ordering("ts")] + [Ordering(f"{n}_none") for n in NAMES],
            from_ts=window["from_ts"],
        ),
    ]


def _same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            if not np.allclose(a[c].astype(float), b[c].astype(float),
                               rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        elif not a[c].where(a[c].notna(), None).equals(b[c].where(b[c].notna(), None)):
            return False
    return True


def test_exotic_names_match_oracle(spark):
    rows = _table()
    pv = _spark_pv(spark, rows)
    con = _duck_pv(rows)
    try:
        for spec in _specs():
            got = normalize(evaluate(pv, spec).toPandas())
            want = normalize(con.execute(
                oracle_sql(spec, "SELECT * FROM exotic_pv")).df())
            assert len(got) > 0, spec
            assert _same(got, want), (spec, got, want)
    finally:
        con.close()

