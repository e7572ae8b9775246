"""QuerySpec: declarative time-series query evaluation.

Mirrors the reference's Telemetry Query API request contract
(tag-filtered, time-bucketed, interpolated, multi-aggregate queries
over streams/parameters — /root/reference/dashboard/src/Models/
getDataRequest.ts:18-57, groupByTimeSettings.ts:17-23,
numericAggregationType.ts:16-29, interpolationType.ts:13-23,
tagFilter.ts:17-27, ordering.ts:17-23, paging.ts:13-22).

The evaluator compiles a spec into a single DataFrame chain:

    time filter -> stream filter -> tag filters
      -> groupBy(time_bucket, *tags) -> per-parameter aggregates
      -> spine join + interpolation -> orderBy -> page

Everything is built-in Column expressions (zero Python UDFs); the
only genuinely custom operator is linear interpolation (A8) — a
closed form over ignore-nulls last/first window frames, since Spark
has no builtin (SURVEY §4 custom-work list).

Scale notes: the aggregation is a standard partial+final hash agg on
(bucket, tags) — the natural shuffle key. The interpolation spine is
``sequence() + explode`` of bucket timestamps cross-joined with the
distinct tag groups: both sides are tiny relative to the data
(buckets x groups, not rows), and the fill windows partition by tag
group — bounded state per group, no global sort.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Values/identifiers that may be interpolated into Spark-SQL string
#: expressions verbatim (the r16 batched plan-build path — one parse
#: round trip per expression instead of 4-8 py4j calls; same resolved
#: expression tree, same results). Anything outside this whitelist
#: falls back to the Column-API builders, so exotic parameter names
#: keep working exactly as before.
_SQL_SAFE_RE = re.compile(r"^[0-9A-Za-z_ .:+%-]+$")


def _sql_safe(s: object) -> bool:
    return isinstance(s, str) and bool(_SQL_SAFE_RE.match(s))

# ---------------------------------------------------------------------------
# Spec dataclasses (one per swagger model)
# ---------------------------------------------------------------------------

#: tagOperator.ts:16-23
TAG_OPERATORS = ("Equal", "NotEqual", "Like", "NotLike")

#: numericAggregationType.ts:16-29
NUMERIC_AGGS = (
    "None", "Mean", "Max", "Min", "First", "Last", "Sum", "Count",
    "Median", "Spread",
)

#: interpolationType.ts:13-23
INTERPOLATIONS = ("None", "Null", "Previous", "Linear")

#: aggregationType.ts:16-23 — string/binary channels get the
#: order-sensitive subset only (no numeric math).
STRING_AGGS = ("None", "First", "Last", "Count")

#: eventDataAggregationType.ts:16-23
EVENT_AGGS = ("None", "First", "Last", "Count")

#: eventLevel.ts:16
EVENT_LEVELS = ("Trace", "Debug", "Information", "Warning", "Error", "Critical")


@dataclass
class TagFilter:
    """tagFilter.ts:17-27 — theta predicate on one tag value."""

    tag: str
    operator: str  # Equal | NotEqual | Like | NotLike
    value: Union[str, Sequence[str]]


@dataclass
class NumericAggregation:
    """numericParameterAggregation.ts:17-23."""

    parameter: str
    aggregation: str  # one of NUMERIC_AGGS


@dataclass
class StringAggregation:
    """parameterAggregation.ts:17-23 — string-channel aggregate.

    The contract restricts string/binary parameters to
    None/First/Last/Count (aggregationType.ts:16-23); binary shares
    the same shape (getParameterDataRequest.ts:26-29) and the same
    code path here with a BinaryType value column.
    """

    parameter: str
    aggregation: str  # one of STRING_AGGS


@dataclass
class GroupByTime:
    """groupByTimeSettings.ts:17-23."""

    duration: str  # e.g. "15 minutes" — must divide 24h evenly
    interpolation: str = "None"


@dataclass
class Ordering:
    """ordering.ts:17-23."""

    by: str
    direction: str = "Asc"  # Asc | Desc


@dataclass
class Paging:
    """paging.ts:13-22 — fixed-size page N."""

    index: int
    length: int


@dataclass
class QuerySpec:
    """getDataRequest.ts:18-57 (numeric-parameter subset + events)."""

    numeric_aggregations: Sequence[NumericAggregation] = field(default_factory=list)
    string_aggregations: Sequence[StringAggregation] = field(default_factory=list)
    from_ts: Optional[str] = None  # ISO timestamp, inclusive
    to_ts: Optional[str] = None  # ISO timestamp, exclusive
    stream_ids: Optional[Sequence[str]] = None
    tag_filters: Sequence[TagFilter] = field(default_factory=list)
    group_by_time: Optional[GroupByTime] = None
    group_by_tags: Sequence[str] = field(default_factory=list)
    orderings: Sequence[Ordering] = field(default_factory=list)
    paging: Optional[Paging] = None


# ---------------------------------------------------------------------------
# Evaluator
# ---------------------------------------------------------------------------

def _agg_column(spec: NumericAggregation, value: Column, ts: Column) -> tuple[str, Column]:
    """One named aggregate column per (parameter, aggregation).

    The long->wide pivot is conditional aggregation: rows of other
    parameters contribute NULL, which every aggregate ignores —
    Catalyst evaluates all requested parameters in one pass.
    First/Last use min_by/max_by on event-time (deterministic given
    unique (stream, ts)).
    """
    name = f"{spec.parameter}_{spec.aggregation.lower()}"
    agg = spec.aggregation
    if agg == "Mean":
        col = F.round(F.avg(value), 4)
    elif agg == "Max":
        col = F.max(value)
    elif agg == "Min":
        col = F.min(value)
    elif agg == "First":
        col = F.min_by(value, F.when(value.isNotNull(), ts))
    elif agg == "Last":
        col = F.max_by(value, F.when(value.isNotNull(), ts))
    elif agg == "Sum":
        col = F.round(F.sum(value), 4)
    elif agg == "Count":
        col = F.count(value)
    elif agg == "CountDistinct":
        # Exact distinct per group: correct at any group width, and
        # the DuckDB-oracle-checkable form. At 100 TB cardinalities
        # switch to "ApproxCountDistinct" (HyperLogLog++, one pass,
        # mergeable sketch state, no per-group distinct expansion) —
        # engine-specific, so pinned by a relative-error pytest
        # rather than an oracle row.
        col = F.count_distinct(value)
    elif agg == "ApproxCountDistinct":
        col = F.approx_count_distinct(value)
    elif agg == "Median":
        col = F.round(F.median(value), 4)
    elif agg in ("P90", "P99"):
        # exact interpolating percentile (same semantics as DuckDB's
        # quantile_cont); at 100 TB group widths switch to
        # approx_percentile — the one-pass mergeable sketch — the same
        # exact/approx split as CountDistinct above.
        q = 0.90 if agg == "P90" else 0.99
        col = F.round(F.percentile(value, F.lit(q)), 4)
    elif agg == "Spread":
        col = F.round(F.max(value) - F.min(value), 4)
    else:
        raise ValueError(f"unsupported aggregation {agg!r}")
    return name, col.alias(name)


def _str_agg_column(spec: StringAggregation, value: Column, ts: Column) -> Column:
    """A5 string/binary aggregate (First/Last/Count only)."""
    name = f"{spec.parameter}_str_{spec.aggregation.lower()}"
    agg = spec.aggregation
    if agg == "First":
        col = F.min_by(value, F.when(value.isNotNull(), ts))
    elif agg == "Last":
        col = F.max_by(value, F.when(value.isNotNull(), ts))
    elif agg == "Count":
        col = F.count(value)
    else:
        raise ValueError(f"unsupported string aggregation {agg!r}")
    return col.alias(name)


def _agg_column_sql(
    spec: NumericAggregation, pcol: str, vcol: str, tcol: str
) -> tuple[str, str]:
    """SQL-string twin of :func:`_agg_column` (r16 batched build —
    VERDICT r15 ask #4): one ``F.expr`` parse round trip per
    aggregate instead of 4-8 py4j Column calls. Mirrors the Column
    expression tree exactly (same functions, same CASE nesting, same
    ROUND grain), so the analyzed plan — and therefore the result —
    is identical. Only reached when every interpolated token passed
    ``_sql_safe`` (callers fall back to the Column path otherwise)."""
    v = f"CASE WHEN `{pcol}` = '{spec.parameter}' THEN `{vcol}` END"
    t = f"CASE WHEN ({v}) IS NOT NULL THEN `{tcol}` END"
    name = f"{spec.parameter}_{spec.aggregation.lower()}"
    agg = spec.aggregation
    if agg == "Mean":
        e = f"round(avg({v}), 4)"
    elif agg == "Max":
        e = f"max({v})"
    elif agg == "Min":
        e = f"min({v})"
    elif agg == "First":
        e = f"min_by({v}, {t})"
    elif agg == "Last":
        e = f"max_by({v}, {t})"
    elif agg == "Sum":
        e = f"round(sum({v}), 4)"
    elif agg == "Count":
        e = f"count({v})"
    elif agg == "CountDistinct":
        e = f"count(DISTINCT {v})"
    elif agg == "ApproxCountDistinct":
        e = f"approx_count_distinct({v})"
    elif agg == "Median":
        e = f"round(median({v}), 4)"
    elif agg in ("P90", "P99"):
        q = "0.90" if agg == "P90" else "0.99"
        e = f"round(percentile({v}, {q}), 4)"
    elif agg == "Spread":
        e = f"round(max({v}) - min({v}), 4)"
    else:
        raise ValueError(f"unsupported aggregation {agg!r}")
    return name, f"{e} AS `{name}`"


def _str_agg_column_sql(
    spec: StringAggregation, pcol: str, vcol: str, tcol: str
) -> str:
    """SQL-string twin of :func:`_str_agg_column` (same contract as
    :func:`_agg_column_sql`)."""
    v = f"CASE WHEN `{pcol}` = '{spec.parameter}' THEN `{vcol}` END"
    t = f"CASE WHEN ({v}) IS NOT NULL THEN `{tcol}` END"
    name = f"{spec.parameter}_str_{spec.aggregation.lower()}"
    agg = spec.aggregation
    if agg == "First":
        e = f"min_by({v}, {t})"
    elif agg == "Last":
        e = f"max_by({v}, {t})"
    elif agg == "Count":
        e = f"count({v})"
    else:
        raise ValueError(f"unsupported string aggregation {agg!r}")
    return f"{e} AS `{name}`"


def _spec_sql_safe(spec: QuerySpec, *cols: str) -> bool:
    """True when every token the batched SQL build would interpolate
    is whitelist-safe (column names, parameter ids, derived aliases).
    Filters are NOT included here — they batch independently."""
    return (
        all(_sql_safe(c) for c in cols)
        and all(_sql_safe(na.parameter) for na in spec.numeric_aggregations)
        and all(_sql_safe(sa.parameter) for sa in spec.string_aggregations)
    )


def _tag_predicate_sql_spark(f: TagFilter, tag_sql: str) -> Optional[str]:
    """Spark-SQL twin of :func:`_tag_predicate`; None when a value is
    not whitelist-safe (caller falls back to the Column path)."""
    vals = f.value if isinstance(f.value, (list, tuple)) else [f.value]
    if not all(_sql_safe(v) for v in vals):
        return None
    if f.operator == "Equal":
        if isinstance(f.value, (list, tuple)):
            return f"{tag_sql} IN ({', '.join(repr(str(v)) for v in f.value)})"
        return f"{tag_sql} = '{f.value}'"
    if f.operator == "NotEqual":
        if isinstance(f.value, (list, tuple)):
            return (
                f"NOT ({tag_sql} IN "
                f"({', '.join(repr(str(v)) for v in f.value)}))"
            )
        return f"NOT ({tag_sql} = '{f.value}')"
    if f.operator == "Like":
        return f"{tag_sql} LIKE '{_like_pattern(f)}'"
    if f.operator == "NotLike":
        return f"NOT ({tag_sql} LIKE '{_like_pattern(f)}')"
    raise ValueError(f"unsupported tag operator {f.operator!r}")


def _filters_sql(
    spec: QuerySpec, stream_col: str, ts_col: str, tags_col: str
) -> Optional[str]:
    """All spec filters as ONE Spark-SQL predicate string (a single
    py4j round trip instead of ~5 per filter). Returns None when any
    token fails the whitelist — the caller then applies the original
    per-filter Column predicates. The conjunction is split back into
    the same individual predicates by the optimizer, so pushdown and
    results are unchanged. Empty string = no filters."""
    if not all(_sql_safe(c) for c in (stream_col, ts_col, tags_col)):
        return None
    parts: list[str] = []
    if spec.from_ts is not None:
        if not _sql_safe(spec.from_ts):
            return None
        parts.append(f"`{ts_col}` >= CAST('{spec.from_ts}' AS TIMESTAMP)")
    if spec.to_ts is not None:
        if not _sql_safe(spec.to_ts):
            return None
        parts.append(f"`{ts_col}` < CAST('{spec.to_ts}' AS TIMESTAMP)")
    if spec.stream_ids is not None:
        if not all(_sql_safe(s) for s in spec.stream_ids):
            return None
        ids = ", ".join(repr(str(s)) for s in spec.stream_ids)
        parts.append(f"`{stream_col}` IN ({ids})")
    for tf in spec.tag_filters:
        if not _sql_safe(tf.tag):
            return None
        p = _tag_predicate_sql_spark(tf, f"`{tags_col}`['{tf.tag}']")
        if p is None:
            return None
        parts.append(p)
    return " AND ".join(parts)


def _like_pattern(f: TagFilter) -> str:
    """The one pattern a Like/NotLike filter matches. A value list has
    no LIKE meaning (the SQL path would interpolate its repr, the
    Column path would match nothing), so it is rejected."""
    if isinstance(f.value, (list, tuple)):
        raise ValueError(
            f"tag operator {f.operator!r} takes one pattern, "
            f"not a list: {list(f.value)!r}"
        )
    return str(f.value)


def _tag_predicate(f: TagFilter, tag_value: Column) -> Column:
    if f.operator == "Equal":
        if isinstance(f.value, (list, tuple)):
            return tag_value.isin(*f.value)
        return tag_value == f.value
    if f.operator == "NotEqual":
        if isinstance(f.value, (list, tuple)):
            return ~tag_value.isin(*f.value)
        return tag_value != f.value
    if f.operator == "Like":
        return tag_value.like(_like_pattern(f))
    if f.operator == "NotLike":
        return ~tag_value.like(_like_pattern(f))
    raise ValueError(f"unsupported tag operator {f.operator!r}")


def evaluate(
    parameter_values: DataFrame,
    spec: QuerySpec,
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    parameter_col: str = "parameter_id",
    value_col: str = "num_value",
    str_value_col: str = "str_value",
    tags_col: str = "tags",
) -> DataFrame:
    """Evaluate a QuerySpec over a long/narrow parameter-values table.

    Returns one row per (time bucket x tag group) with one column per
    requested (parameter, aggregation), bucket exposed as ``bucket``.
    """
    df = parameter_values
    ts = F.col(ts_col)

    # F4 time range (inclusive from, exclusive to — ns-epoch bounds in
    # the contract, ISO strings here), F5 stream ids, F6 tag filters
    # (AND of all). Batched into one SQL predicate when every token is
    # whitelist-safe (r16 plan-build cost, VERDICT r15 ask #4): the
    # optimizer splits the conjunction back into the same pushed
    # predicates, so plan and results are unchanged.
    fsql = _filters_sql(spec, stream_col, ts_col, tags_col)
    if fsql is not None:
        if fsql:
            df = df.filter(fsql)
    else:
        if spec.from_ts is not None:
            df = df.filter(ts >= F.lit(spec.from_ts).cast("timestamp"))
        if spec.to_ts is not None:
            df = df.filter(ts < F.lit(spec.to_ts).cast("timestamp"))
        if spec.stream_ids is not None:
            df = df.filter(F.col(stream_col).isin(*spec.stream_ids))
        for tf in spec.tag_filters:
            df = df.filter(_tag_predicate(tf, F.col(tags_col)[tf.tag]))

    # Group keys: time bucket (A7) x tag values (A9). The window
    # struct itself is the grouping expression (projecting .start
    # inside the key would hide the event-time window from the
    # streaming watermark checker); bucket = win.start is selected
    # after the agg.
    keys: list[Column] = []
    names: list[str] = []
    if spec.group_by_time is not None:
        keys.append(F.window(ts, spec.group_by_time.duration).alias("_win"))
        names.append("bucket")
    for t in spec.group_by_tags:
        keys.append(F.col(tags_col)[t].alias(f"tag_{t}"))
        names.append(f"tag_{t}")

    # A4 per-parameter aggregates via conditional aggregation.
    value = F.col(value_col)
    raw_numeric = [na for na in spec.numeric_aggregations if na.aggregation == "None"]
    raw_string = [sa for sa in spec.string_aggregations if sa.aggregation == "None"]
    if raw_numeric or raw_string:
        # 'None' = raw passthrough (numericAggregationType.ts:17 /
        # aggregationType.ts:17): the response carries the samples
        # themselves — one row per source sample of a requested
        # parameter, parameters pivoted to columns. That shape is
        # incompatible with bucket aggregation, so mixing is rejected.
        if len(raw_numeric) + len(raw_string) != len(
            spec.numeric_aggregations
        ) + len(spec.string_aggregations):
            raise ValueError(
                "'None' (raw passthrough) cannot mix with bucket aggregates"
            )
        if spec.group_by_time is not None:
            raise ValueError("'None' returns raw samples; group_by_time does not apply")
        params = [na.parameter for na in raw_numeric] + [
            sa.parameter for sa in raw_string
        ]
        out = df.filter(F.col(parameter_col).isin(params)).select(
            ts.alias("ts"),
            *[F.col(tags_col)[t].alias(f"tag_{t}") for t in spec.group_by_tags],
            *[
                F.when(F.col(parameter_col) == na.parameter, value).alias(
                    f"{na.parameter}_none"
                )
                for na in raw_numeric
            ],
            *[
                F.when(F.col(parameter_col) == sa.parameter, F.col(str_value_col)).alias(
                    f"{sa.parameter}_str_none"
                )
                for sa in raw_string
            ],
        )
        return _order_page(out, spec)
    aggs = []
    out_value_cols = []
    if _spec_sql_safe(spec, parameter_col, value_col, str_value_col, ts_col):
        # batched build: one F.expr parse per aggregate (r16) — the
        # SQL twins mirror the Column trees exactly, results identical
        for na in spec.numeric_aggregations:
            name, sql = _agg_column_sql(na, parameter_col, value_col, ts_col)
            aggs.append(F.expr(sql))
            out_value_cols.append(name)
        for sa in spec.string_aggregations:
            aggs.append(
                F.expr(
                    _str_agg_column_sql(sa, parameter_col, str_value_col, ts_col)
                )
            )
    else:
        for na in spec.numeric_aggregations:
            cond_value = F.when(F.col(parameter_col) == na.parameter, value)
            name, col = _agg_column(na, cond_value, ts)
            aggs.append(col)
            out_value_cols.append(name)
        for sa in spec.string_aggregations:
            cond_value = F.when(
                F.col(parameter_col) == sa.parameter, F.col(str_value_col)
            )
            aggs.append(_str_agg_column(sa, cond_value, ts))
            # string channels are excluded from numeric interpolation
            # (interpolationType only applies to numeric series).
    if not aggs:
        raise ValueError("QuerySpec requires at least one aggregation")

    out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    if spec.group_by_time is not None:
        out = out.select(
            F.col("_win.start").alias("bucket"),
            *[n for n in names if n != "bucket"],
            *out_value_cols,
            *[f"{sa.parameter}_str_{sa.aggregation.lower()}" for sa in spec.string_aggregations],
        )

    # A8 interpolation over the time spine.
    gbt = spec.group_by_time
    if gbt is not None and gbt.interpolation != "None":
        if spec.from_ts is None or spec.to_ts is None:
            raise ValueError("interpolation requires from_ts and to_ts")
        spine = _bucket_spine(out, spec, names)
        out = spine.join(out, on=names, how="left")
        if gbt.interpolation in ("Previous", "Linear"):
            group_cols = [n for n in names if n != "bucket"]
            out = _fill(out, out_value_cols, group_cols, gbt.interpolation)

    return _order_page(out, spec)


def _order_page(out: DataFrame, spec: QuerySpec) -> DataFrame:
    """O1 ordering + O2 paging (shared by agg and raw-passthrough paths)."""
    if spec.orderings:
        out = out.orderBy(
            *[
                F.col(o.by).desc() if o.direction == "Desc" else F.col(o.by).asc()
                for o in spec.orderings
            ]
        )
        if spec.paging is not None:
            p = spec.paging
            out = out.offset(p.index * p.length).limit(p.length)
    elif spec.paging is not None:
        raise ValueError("paging requires orderings for determinism")
    return out


def tag_values(
    parameter_values: DataFrame,
    tag_key: str,
    *,
    from_ts: Optional[str] = None,
    to_ts: Optional[str] = None,
    stream_ids: Optional[Sequence[str]] = None,
    tag_filters: Sequence[TagFilter] = (),
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    tags_col: str = "tags",
) -> DataFrame:
    """getTagValuesRequest.ts:14-30 — distinct values of one tag key
    under the same time/stream/tag predicates as a data query (the
    tag-picker dropdown feed).

    Returns (tag_value, n_rows, n_streams) per distinct value. One
    pushdown-friendly scan-filter then a single partial+final agg on
    the tag value — the distinct count of streams rides the same
    shuffle.
    """
    df = parameter_values
    ts = F.col(ts_col)
    if from_ts is not None:
        df = df.filter(ts >= F.lit(from_ts).cast("timestamp"))
    if to_ts is not None:
        df = df.filter(ts < F.lit(to_ts).cast("timestamp"))
    if stream_ids is not None:
        df = df.filter(F.col(stream_col).isin(*stream_ids))
    for tf in tag_filters:
        df = df.filter(_tag_predicate(tf, F.col(tags_col)[tf.tag]))
    return (
        df.select(
            F.col(tags_col)[tag_key].alias("tag_value"),
            F.col(stream_col).alias("_sid"),
        )
        .filter(F.col("tag_value").isNotNull())
        .groupBy("tag_value")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("_sid").alias("n_streams"),
        )
        .orderBy("tag_value")
    )


def evaluate_stream(
    parameter_values: DataFrame,
    spec: QuerySpec,
    *,
    grace: str = "1 second",
    ts_col: str = "ts",
    **kwargs,
) -> DataFrame:
    """Streaming form of :func:`evaluate` (T1-T3 applied to A4/A7).

    Same expression tree under a watermark so append mode emits one
    final row per closed (bucket x tag group). Interpolation and
    ordering/paging are resultset operations — they belong on the
    sink side of a stream, so specs using them are rejected here.
    """
    if spec.group_by_time is None:
        raise ValueError("streaming evaluation requires group_by_time")
    if spec.group_by_time.interpolation != "None":
        raise ValueError(
            "interpolation is batch/sink-side; run the stream with "
            "interpolation='None' and apply interpolate_finals() over "
            "the landed finals"
        )
    if spec.orderings or spec.paging is not None:
        raise ValueError("ordering/paging are sink-side on a stream")
    return evaluate(
        parameter_values.withWatermark(ts_col, grace), spec, ts_col=ts_col, **kwargs
    )


def interpolate_finals(result: DataFrame, spec: QuerySpec) -> DataFrame:
    """The SINK-SIDE half of a streaming interpolated query (A8 over
    T3): apply the spec's bucket-spine interpolation to a BATCH
    relation of landed append-mode finals.

    Interpolation is a resultset operation — it needs the dense
    [from, to) spine, which only exists once the buckets have closed
    — so the streaming split is: :func:`evaluate_stream` runs the
    spec with interpolation stripped (one final row per closed
    bucket x tag group), the sink lands those finals, and this
    function densifies + fills them exactly as the batch evaluator
    would (:func:`_bucket_spine` + :func:`_fill`, the same code).
    For a [from, to) window fully below the final watermark the
    composition is value-identical to batch ``evaluate`` with the
    interpolating spec — the streaming_finals_suite gate pins that.

    Scale shape: input is the AGGREGATED finals (buckets x groups,
    not events); the spine cross-join and per-group fill windows are
    bounded by that — the cheapest relation in the pipeline.
    """
    gbt = spec.group_by_time
    if gbt is None or gbt.interpolation == "None":
        return _order_page(result, spec)
    if spec.from_ts is None or spec.to_ts is None:
        raise ValueError("interpolation requires from_ts and to_ts")
    names = ["bucket"] + [f"tag_{t}" for t in spec.group_by_tags]
    value_cols = [
        f"{na.parameter}_{na.aggregation.lower()}"
        for na in spec.numeric_aggregations
    ]
    # Time spine only from _bucket_spine; the tag groups are
    # RE-LITERALIZED (bounded collect: distinct tag groups of an
    # aggregated resultset — the spine cross-join operand is small by
    # construction). Deriving them lazily from `result` would make
    # spine->result a self-join, and a memory-sink-backed finals
    # table cannot deduplicate its attributes there (Conflicting
    # attributes analysis error).
    spine = _bucket_spine(result, spec, ["bucket"])
    group_cols = [n for n in names if n != "bucket"]
    if group_cols:
        grp_rel = result.select(*group_cols)
        groups = result.sparkSession.createDataFrame(
            grp_rel.distinct().collect(), grp_rel.schema
        )
        spine = spine.crossJoin(groups)
    out = spine.join(result, on=names, how="left")
    if gbt.interpolation in ("Previous", "Linear"):
        group_cols = [n for n in names if n != "bucket"]
        out = _fill(out, value_cols, group_cols, gbt.interpolation)
    return _order_page(out, spec)


@dataclass
class EventQuerySpec:
    """getEventDataRequest.ts:24-27 + eventDataAggregation.ts:18-25.

    Discrete-event query: filter by time/stream/levels/tags, bucket by
    ``interval``, aggregate each event channel with
    None/First/Last/Count (eventDataAggregationType.ts:16-23).
    Level include/exclude is F8 (getAllEventsRequest.ts:44-51).
    """

    event_ids: Optional[Sequence[str]] = None
    aggregation: str = "Count"  # one of EVENT_AGGS
    interval: Optional[str] = None  # bucket duration, e.g. "1 hour"
    #: eventDataAggregation.ts:19-21 + interpolationType.ts:16 —
    #: None/Null/Previous for every aggregation; Linear additionally
    #: for Count (the one event aggregation whose value series is
    #: numeric by construction — First/Last carry string values, so
    #: Linear stays rejected there).
    interpolation: str = "None"
    from_ts: Optional[str] = None
    to_ts: Optional[str] = None
    stream_ids: Optional[Sequence[str]] = None
    include_levels: Optional[Sequence[str]] = None
    exclude_levels: Optional[Sequence[str]] = None
    tag_filters: Sequence[TagFilter] = field(default_factory=list)
    group_by_tags: Sequence[str] = field(default_factory=list)


def evaluate_events(
    events: DataFrame,
    spec: EventQuerySpec,
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    event_col: str = "event_id",
    level_col: str = "level",
    value_col: str = "value",
    tags_col: str = "tags",
) -> DataFrame:
    """Evaluate an event-data query over the events table (A6).

    Returns one row per (bucket x event_id x tag group) with the
    aggregated string value and occurrence count — the columnar
    ``events{}`` block of the Data response (data.ts:37-40).
    """
    df = events
    ts = F.col(ts_col)
    if spec.from_ts is not None:
        df = df.filter(ts >= F.lit(spec.from_ts).cast("timestamp"))
    if spec.to_ts is not None:
        df = df.filter(ts < F.lit(spec.to_ts).cast("timestamp"))
    if spec.stream_ids is not None:
        df = df.filter(F.col(stream_col).isin(*spec.stream_ids))
    if spec.event_ids is not None:
        df = df.filter(F.col(event_col).isin(*spec.event_ids))
    if spec.include_levels is not None:
        df = df.filter(F.col(level_col).isin(*spec.include_levels))
    if spec.exclude_levels is not None:
        df = df.filter(~F.col(level_col).isin(*spec.exclude_levels))
    for tf in spec.tag_filters:
        df = df.filter(_tag_predicate(tf, F.col(tags_col)[tf.tag]))

    keys: list[Column] = [F.col(event_col)]
    out_keys: list[str] = [event_col]
    if spec.interval is not None:
        # Group by the window struct (streaming-watermark-visible),
        # project bucket afterwards — same reasoning as evaluate().
        keys.insert(0, F.window(ts, spec.interval).alias("_win"))
        out_keys.insert(0, "bucket")
    for t in spec.group_by_tags:
        keys.append(F.col(tags_col)[t].alias(f"tag_{t}"))
        out_keys.append(f"tag_{t}")

    value = F.col(value_col)
    agg = spec.aggregation
    if spec.interpolation == "Linear" and agg != "Count":
        # validated HERE, not inside the interval branch: an
        # interval-less spec must reject the same contradiction it
        # would reject with an interval, instead of silently
        # ignoring the interpolation (r11 review)
        raise ValueError(
            "Linear event interpolation requires a numeric "
            f"aggregation (Count); got {agg!r} "
            "whose event values are strings"
        )
    if agg == "First":
        val_col = F.min_by(value, F.when(value.isNotNull(), ts)).alias("event_value")
    elif agg == "Last":
        val_col = F.max_by(value, F.when(value.isNotNull(), ts)).alias("event_value")
    elif agg in ("Count", "None"):
        val_col = None
    else:
        raise ValueError(f"unsupported event aggregation {agg!r}")
    aggs = [F.count(F.lit(1)).alias("event_count")]
    val_names = ["event_count"]
    if val_col is not None:
        aggs.insert(0, val_col)
        val_names.insert(0, "event_value")
    out = df.groupBy(*keys).agg(*aggs)
    if spec.interval is not None:
        out = out.select(
            F.col("_win.start").alias("bucket"),
            *[k for k in out_keys if k != "bucket"],
            *val_names,
        )

    # A8-on-events: dense bucket spine per event channel. Counts
    # Null-fill to 0 (an absent bucket has zero occurrences);
    # event_value fills per the interpolation mode.
    if spec.interval is not None and spec.interpolation != "None":
        if spec.from_ts is None or spec.to_ts is None:
            raise ValueError("interpolation requires from_ts and to_ts")
        group_cols = [k for k in out_keys if k != "bucket"]
        spine = out.sparkSession.range(1).select(
            F.explode(
                F.expr(
                    f"sequence(cast('{spec.from_ts}' as timestamp), "
                    f"cast('{spec.to_ts}' as timestamp) - interval {spec.interval}, "
                    f"interval {spec.interval})"
                )
            ).alias("bucket")
        )
        bucket_type = out.schema["bucket"].dataType.simpleString()
        spine = spine.select(F.col("bucket").cast(bucket_type).alias("bucket"))
        spine = spine.crossJoin(out.select(*group_cols).distinct())
        out = spine.join(out, on=["bucket", *group_cols], how="left")
        if spec.interpolation == "Linear":
            # interpolationType.ts:16 allows Linear on event channels;
            # it is well-defined exactly when the aggregated value
            # series is numeric — Count by construction. The count
            # series itself is the interpolation target: absent
            # buckets fill with the closed-form between surrounding
            # observed counts (fractional -> double, 4-dp like A8's
            # numeric fill); buckets outside the observed range stay
            # null. First/Last values are strings -> rejected up
            # front (the validation at function entry).
            out = out.withColumn(
                "event_count", F.col("event_count").cast("double")
            )
            out = _fill(out, ["event_count"], group_cols, "Linear")
            return out
        out = out.withColumn("event_count", F.coalesce("event_count", F.lit(0)))
        if spec.interpolation == "Previous" and "event_value" in out.columns:
            w_back = (
                Window.partitionBy(*group_cols)
                .orderBy("bucket")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            out = out.withColumn(
                "event_value",
                F.last(F.col("event_value"), ignorenulls=True).over(w_back),
            )
        elif spec.interpolation not in ("Null", "Previous"):
            raise ValueError(f"unsupported event interpolation {spec.interpolation!r}")
    return out


def _bucket_spine(out: DataFrame, spec: QuerySpec, names: list[str]) -> DataFrame:
    """Dense (bucket x tag-group) spine via sequence+explode.

    The sequence spans [from, to) at the bucket duration; distinct
    tag groups come from the aggregated result (small). cross-join of
    two tiny relations — broadcast by the planner.
    """
    gbt = spec.group_by_time
    assert gbt is not None
    dur = gbt.duration
    spine = out.sparkSession.range(1).select(
        F.explode(
            F.expr(
                f"sequence(cast('{spec.from_ts}' as timestamp), "
                f"cast('{spec.to_ts}' as timestamp) - interval {dur}, "
                f"interval {dur})"
            )
        ).alias("bucket")
    )
    # Match the bucket dtype produced by window() over the input's
    # timestamp flavor (NTZ vs LTZ) so the join key lines up.
    bucket_type = out.schema["bucket"].dataType.simpleString()
    spine = spine.select(F.col("bucket").cast(bucket_type).alias("bucket"))
    group_cols = [n for n in names if n != "bucket"]
    if group_cols:
        spine = spine.crossJoin(out.select(*group_cols).distinct())
    return spine


def _fill(
    out: DataFrame, value_cols: list[str], group_cols: list[str], mode: str
) -> DataFrame:
    """Previous / Linear gap fill over the bucket spine (A8).

    Previous: last non-null before the bucket (per tag group).
    Linear: closed-form interpolation between the surrounding
    non-null observations — prev + (next-prev) * elapsed/gap.
    """
    if all(_sql_safe(c) for c in [*value_cols, *group_cols, *out.columns]):
        # batched build (r16): the whole fill stage as ONE selectExpr —
        # the Column spelling costs ~15 py4j round trips per value
        # column (two window specs, four ignore-nulls lasts, the
        # closed-form arithmetic). The SQL strings mirror the Column
        # trees exactly: same window frames, same ignore-nulls lasts,
        # same ROUND grain, columns replaced in place (original order).
        part = (
            f"PARTITION BY {', '.join(f'`{g}`' for g in group_cols)} "
            if group_cols
            else "PARTITION BY 1 "
        )
        w_back = (
            f"OVER ({part}ORDER BY `bucket` ASC ROWS BETWEEN "
            f"UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        w_fwd = (
            f"OVER ({part}ORDER BY `bucket` DESC ROWS BETWEEN "
            f"UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        fills: dict[str, str] = {}
        for c in value_cols:
            if mode == "Previous":
                fills[c] = f"last(`{c}`, true) {w_back} AS `{c}`"
                continue
            pv = f"last(`{c}`, true) {w_back}"
            nv = f"last(`{c}`, true) {w_fwd}"
            pb = (
                f"last(CASE WHEN `{c}` IS NOT NULL THEN "
                f"unix_micros(`bucket`) END, true) {w_back}"
            )
            nb = (
                f"last(CASE WHEN `{c}` IS NOT NULL THEN "
                f"unix_micros(`bucket`) END, true) {w_fwd}"
            )
            fills[c] = (
                f"CASE WHEN `{c}` IS NOT NULL THEN `{c}` "
                f"WHEN ({pv}) IS NULL OR ({nv}) IS NULL THEN NULL "
                f"ELSE round(({pv}) + (({nv}) - ({pv})) * "
                f"CAST(unix_micros(`bucket`) - ({pb}) AS DOUBLE) / "
                f"CAST(({nb}) - ({pb}) AS DOUBLE), 4) END AS `{c}`"
            )
        return out.selectExpr(
            *[fills.get(c, f"`{c}`") for c in out.columns]
        )
    part = Window.partitionBy(*group_cols) if group_cols else Window.partitionBy(F.lit(1))
    w_back = part.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    # "Next non-null ahead" over the REVERSED ordering as a running
    # unbounded-PRECEDING frame: the natural `first ignorenulls` over
    # `0..unboundedFollowing` is an UnboundedFollowing frame that
    # Spark recomputes from scratch per row — O(n²) per tag group (a
    # year of 1-minute buckets is 525k rows per group). Same fix as
    # funnel/as-of-forward (operators/tsstats.py, asof.py); costs one
    # extra per-partition sort on the SAME shuffle partitioning.
    w_fwd = part.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    bucket_us = F.unix_micros(F.col("bucket"))
    for c in value_cols:
        v = F.col(c)
        if mode == "Previous":
            out = out.withColumn(c, F.last(v, ignorenulls=True).over(w_back))
            continue
        prev_v = F.last(v, ignorenulls=True).over(w_back)
        next_v = F.last(v, ignorenulls=True).over(w_fwd)
        prev_b = F.last(F.when(v.isNotNull(), bucket_us), ignorenulls=True).over(w_back)
        next_b = F.last(F.when(v.isNotNull(), bucket_us), ignorenulls=True).over(w_fwd)
        interp = (
            F.when(v.isNotNull(), v)
            .when(prev_v.isNull() | next_v.isNull(), F.lit(None))
            .otherwise(
                F.round(
                    prev_v
                    + (next_v - prev_v)
                    * (bucket_us - prev_b).cast("double")
                    / (next_b - prev_b).cast("double"),
                    4,
                )
            )
        )
        out = out.withColumn(c, interp)
    return out


# ---------------------------------------------------------------------------
# Generic DuckDB oracle generator (r15, VERDICT r14 ask #3)
# ---------------------------------------------------------------------------
#
# The enumerated telemetry gates pin KNOWN spec combinations; the
# differential fuzz (tests/test_properties.py) drives RANDOM valid
# QuerySpecs through `evaluate` and this generator side by side, so
# the cross products nobody enumerated (tag filters x aggs x
# group-by-time x interpolation x group-by-tags x ordering/paging —
# reference contract getDataRequest.ts:18-57) get coverage too. The
# generator mirrors the hand-written oracle forms of
# queries/telemetry.py exactly (same ROUND grain, same arg_min/
# arg_max keys, same spine/fill windows), generalized to arbitrary
# group columns and multiple value columns.
#
# Alignment caveat baked into the contract: Spark's tumbling window
# aligns to the 1970 epoch, DuckDB's time_bucket to 2000-01-03 —
# identical iff the duration divides 24h evenly (GroupByTime's
# documented restriction), so the generator enforces it.

_DUR_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def _duration_us(duration: str) -> int:
    n, unit = duration.split()
    return int(n) * _DUR_US[unit]


def _sql_lit(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _tag_predicate_sql(f: TagFilter, col: str) -> str:
    if f.operator == "Equal":
        if isinstance(f.value, (list, tuple)):
            return f"{col} IN ({', '.join(_sql_lit(v) for v in f.value)})"
        return f"{col} = {_sql_lit(f.value)}"
    if f.operator == "NotEqual":
        if isinstance(f.value, (list, tuple)):
            return f"{col} NOT IN ({', '.join(_sql_lit(v) for v in f.value)})"
        return f"{col} != {_sql_lit(f.value)}"
    if f.operator == "Like":
        return f"{col} LIKE {_sql_lit(_like_pattern(f))}"
    if f.operator == "NotLike":
        return f"{col} NOT LIKE {_sql_lit(_like_pattern(f))}"
    raise ValueError(f"unsupported tag operator {f.operator!r}")


def _agg_sql(spec: NumericAggregation) -> tuple[str, str]:
    p = _sql_lit(spec.parameter)
    v = f"CASE WHEN parameter_id = {p} THEN num_value END"
    t = f"CASE WHEN parameter_id = {p} THEN ts END"
    name = f"{spec.parameter}_{spec.aggregation.lower()}"
    agg = spec.aggregation
    if agg == "Mean":
        e = f"ROUND(AVG({v}), 4)"
    elif agg == "Max":
        e = f"MAX({v})"
    elif agg == "Min":
        e = f"MIN({v})"
    elif agg == "First":
        e = f"arg_min({v}, {t})"
    elif agg == "Last":
        e = f"arg_max({v}, {t})"
    elif agg == "Sum":
        e = f"ROUND(SUM({v}), 4)"
    elif agg == "Count":
        e = f"COUNT({v})"
    elif agg == "CountDistinct":
        e = f"COUNT(DISTINCT {v})"
    elif agg == "Median":
        e = f"ROUND(median({v}), 4)"
    elif agg in ("P90", "P99"):
        q = "0.90" if agg == "P90" else "0.99"
        e = f"ROUND(quantile_cont({v}, {q}), 4)"
    elif agg == "Spread":
        e = f"ROUND(MAX({v}) - MIN({v}), 4)"
    else:
        raise ValueError(f"unsupported aggregation {agg!r}")
    return name, f"{e} AS {name}"


def _str_agg_sql(spec: StringAggregation) -> tuple[str, str]:
    p = _sql_lit(spec.parameter)
    v = f"CASE WHEN parameter_id = {p} THEN str_value END"
    t = f"CASE WHEN parameter_id = {p} THEN ts END"
    name = f"{spec.parameter}_str_{spec.aggregation.lower()}"
    agg = spec.aggregation
    if agg == "First":
        e = f"arg_min({v}, {t})"
    elif agg == "Last":
        e = f"arg_max({v}, {t})"
    elif agg == "Count":
        e = f"COUNT({v})"
    else:
        raise ValueError(f"unsupported string aggregation {agg!r}")
    return name, f"{e} AS {name}"


def oracle_sql(spec: QuerySpec, pv_sql: str) -> str:
    """DuckDB twin of :func:`evaluate` over the relation ``pv_sql``
    (columns stream_id, ts, parameter_id, num_value, str_value, and
    one ``tag_<name>`` column per tag — the queries/telemetry.py
    PV_SQL shape)."""
    where = []
    if spec.from_ts is not None:
        where.append(f"ts >= TIMESTAMP '{spec.from_ts}'")
    if spec.to_ts is not None:
        where.append(f"ts < TIMESTAMP '{spec.to_ts}'")
    if spec.stream_ids is not None:
        ids = ", ".join(_sql_lit(s) for s in spec.stream_ids)
        where.append(f"stream_id IN ({ids})")
    for tf in spec.tag_filters:
        where.append(_tag_predicate_sql(tf, f"tag_{tf.tag}"))
    where_sql = (" WHERE " + " AND ".join(where)) if where else ""

    group_cols = [f"tag_{t}" for t in spec.group_by_tags]

    raw_numeric = [a for a in spec.numeric_aggregations if a.aggregation == "None"]
    raw_string = [a for a in spec.string_aggregations if a.aggregation == "None"]
    if raw_numeric or raw_string:
        if len(raw_numeric) + len(raw_string) != len(
            spec.numeric_aggregations
        ) + len(spec.string_aggregations):
            raise ValueError(
                "'None' (raw passthrough) cannot mix with bucket aggregates"
            )
        if spec.group_by_time is not None:
            raise ValueError(
                "'None' returns raw samples; group_by_time does not apply"
            )
        params = [a.parameter for a in raw_numeric] + [
            a.parameter for a in raw_string
        ]
        psql = ", ".join(_sql_lit(p) for p in params)
        cols = ["ts"] + group_cols + [
            f"CASE WHEN parameter_id = {_sql_lit(a.parameter)}"
            f" THEN num_value END AS {a.parameter}_none"
            for a in raw_numeric
        ] + [
            f"CASE WHEN parameter_id = {_sql_lit(a.parameter)}"
            f" THEN str_value END AS {a.parameter}_str_none"
            for a in raw_string
        ]
        pred = f"parameter_id IN ({psql})"
        body = (
            f"SELECT {', '.join(cols)} FROM pv"
            f"{where_sql + ' AND ' + pred if where_sql else ' WHERE ' + pred}"
        )
        return _order_page_sql(f"WITH pv AS ({pv_sql})\n{body}", spec)

    num_cols, num_exprs = [], []
    for na in spec.numeric_aggregations:
        n, e = _agg_sql(na)
        num_cols.append(n)
        num_exprs.append(e)
    str_cols, str_exprs = [], []
    for sa in spec.string_aggregations:
        n, e = _str_agg_sql(sa)
        str_cols.append(n)
        str_exprs.append(e)
    if not (num_exprs or str_exprs):
        raise ValueError("QuerySpec requires at least one aggregation")

    sel_keys = []
    if spec.group_by_time is not None:
        dur = spec.group_by_time.duration
        if 86_400_000_000 % _duration_us(dur):
            raise ValueError(f"duration {dur!r} must divide 24h evenly")
        sel_keys.append(f"time_bucket(INTERVAL '{dur}', ts) AS bucket")
    sel_keys += group_cols
    all_exprs = num_exprs + str_exprs
    gb = (
        f" GROUP BY {', '.join(str(i + 1) for i in range(len(sel_keys)))}"
        if sel_keys else ""
    )
    agg_sql = (
        f"SELECT {', '.join(sel_keys + all_exprs)} FROM pv{where_sql}{gb}"
    )

    gbt = spec.group_by_time
    if gbt is None or gbt.interpolation == "None":
        return _order_page_sql(
            f"WITH pv AS ({pv_sql})\n{agg_sql}", spec
        )

    # interpolation: dense (bucket x tag-group) spine, LEFT JOIN, fill
    if spec.from_ts is None or spec.to_ts is None:
        raise ValueError("interpolation requires from_ts and to_ts")
    dur = gbt.duration
    keys = ["bucket"] + group_cols
    spine = (
        f"SELECT unnest(generate_series(TIMESTAMP '{spec.from_ts}', "
        f"TIMESTAMP '{spec.to_ts}' - INTERVAL '{dur}', "
        f"INTERVAL '{dur}')) AS bucket"
    )
    if group_cols:
        spine = (
            f"SELECT * FROM ({spine}) CROSS JOIN "
            f"(SELECT DISTINCT {', '.join(group_cols)} FROM agg)"
        )
    val_cols = num_cols + str_cols
    j = (
        f"SELECT {', '.join('s.' + k for k in keys)}, "
        f"{', '.join('a.' + c for c in val_cols)} "
        f"FROM spine s LEFT JOIN agg a USING ({', '.join(keys)})"
    )
    base = (
        f"WITH pv AS ({pv_sql}),\n"
        f"agg AS ({agg_sql}),\n"
        f"spine AS ({spine}),\n"
        f"j AS ({j})\n"
    )
    part = (
        f"PARTITION BY {', '.join(group_cols)} " if group_cols else ""
    )
    if gbt.interpolation == "Null":
        return _order_page_sql(base + "SELECT * FROM j", spec)
    if gbt.interpolation == "Previous":
        # string channels are excluded from numeric interpolation —
        # they ride the spine un-filled, same as the Spark evaluator
        filled = [
            f"last_value({c} IGNORE NULLS) OVER ({part}ORDER BY bucket "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS {c}"
            for c in num_cols
        ]
        return _order_page_sql(
            base + f"SELECT {', '.join(keys + filled + str_cols)} FROM j",
            spec,
        )
    if gbt.interpolation == "Linear":
        w_cols = []
        for c in num_cols:
            w_cols += [
                f"last_value({c} IGNORE NULLS) OVER ({part}ORDER BY bucket"
                f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                f" AS {c}_pv",
                f"first_value({c} IGNORE NULLS) OVER ({part}ORDER BY bucket"
                f" ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
                f" AS {c}_nv",
                f"last_value(CASE WHEN {c} IS NOT NULL THEN epoch_us(bucket)"
                f" END IGNORE NULLS) OVER ({part}ORDER BY bucket"
                f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                f" AS {c}_pb",
                f"first_value(CASE WHEN {c} IS NOT NULL THEN epoch_us(bucket)"
                f" END IGNORE NULLS) OVER ({part}ORDER BY bucket"
                f" ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
                f" AS {c}_nb",
            ]
        fill = [
            f"CASE WHEN {c} IS NOT NULL THEN {c}"
            f" WHEN {c}_pv IS NULL OR {c}_nv IS NULL THEN NULL"
            f" ELSE ROUND({c}_pv + ({c}_nv - {c}_pv) *"
            f" CAST(epoch_us(bucket) - {c}_pb AS DOUBLE) /"
            f" CAST({c}_nb - {c}_pb AS DOUBLE), 4) END AS {c}"
            for c in num_cols
        ]
        return _order_page_sql(
            base
            + f", w AS (SELECT j.*, {', '.join(w_cols)} FROM j)\n"
            + f"SELECT {', '.join(keys + fill + str_cols)} FROM w",
            spec,
        )
    raise ValueError(f"unsupported interpolation {gbt.interpolation!r}")


def _order_page_sql(sql: str, spec: QuerySpec) -> str:
    """O1/O2 twin: Spark's orderBy puts NULLs FIRST on Asc and LAST
    on Desc — emitted explicitly (DuckDB's default is the reverse)."""
    if not spec.orderings:
        if spec.paging is not None:
            raise ValueError("paging requires orderings for determinism")
        return sql
    keys = ", ".join(
        f"{o.by} {'DESC NULLS LAST' if o.direction == 'Desc' else 'ASC NULLS FIRST'}"
        for o in spec.orderings
    )
    sql = f"SELECT * FROM ({sql}) ORDER BY {keys}"
    if spec.paging is not None:
        p = spec.paging
        sql += f" LIMIT {p.length} OFFSET {p.index * p.length}"
    return sql
