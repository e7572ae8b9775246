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

One emitter writes every stage as Spark SQL text (zero Python UDFs):
a filter, an aggregate or a fill costs one parse round trip instead
of a py4j call per Column node. Its quoting rule covers every input:
each column name, parameter id, tag key, tag value, timestamp and
duration reaches the SQL through :func:`_ident` (a backtick-quoted
identifier) or :func:`_lit` (an escaped string literal), so any name
either works or fails loudly, never as a parse error at build time
or a predicate that silently matches nothing. The only genuinely
custom operator is linear interpolation (A8) — a closed form over
ignore-nulls last window frames, since Spark has no builtin (SURVEY
§4 custom-work list). :func:`oracle_sql` is the separate DuckDB
reference the differential tests compare against; it shares no
template with the Spark emitter, so one template bug cannot pass on
both sides.

Scale notes: the aggregation is a standard partial+final hash agg on
(bucket, tags) — the natural shuffle key. The interpolation spine is
``sequence() + explode`` of bucket timestamps cross-joined with the
distinct tag groups: both sides are tiny relative to the data
(buckets x groups, not rows), and the fill windows partition by tag
group — bounded state per group, no global sort.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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

#: ordering.ts:17-23
DIRECTIONS = ("Asc", "Desc")


def _check_mode(field: str, value: str, allowed: Sequence[str]) -> None:
    """Reject a mode outside its enum when the spec is built, so the
    Spark, streaming and oracle paths never each guess at one."""
    if value not in allowed:
        raise ValueError(f"unsupported {field} {value!r}; expected one of {allowed}")


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

    def __post_init__(self) -> None:
        _check_mode("interpolation", self.interpolation, INTERPOLATIONS)


@dataclass
class Ordering:
    """ordering.ts:17-23."""

    by: str
    direction: str = "Asc"

    def __post_init__(self) -> None:
        _check_mode("direction", self.direction, DIRECTIONS)


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
# Spark SQL emitter
# ---------------------------------------------------------------------------

def _ident(name: str) -> str:
    """A Spark SQL identifier: backtick-quoted, any backtick inside
    doubled. The name is matched as ONE part, so a ``.`` in it never
    reads as a struct-field access."""
    return "`" + str(name).replace("`", "``") + "`"


def _lit(value: object) -> str:
    """A Spark SQL string literal. Spark's parser treats ``\\`` as an
    escape character inside string literals, so backslash is escaped
    as well as the single quote. Assumes Spark's default
    ``spark.sql.parser.escapedStringLiterals=false``."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _values(field: str, values: Sequence[str]) -> list[str]:
    """The value list of an IN predicate. An empty list has no SQL
    spelling (``IN ()`` is a parse error in Spark and DuckDB alike),
    so it is rejected with the field named. Shared by the Spark
    emitter and :func:`oracle_sql`."""
    vals = list(values)
    if not vals:
        raise ValueError(f"{field} must list at least one value, got []")
    return vals


def _like_pattern(f: TagFilter) -> str:
    """The one pattern a Like/NotLike filter matches. A value list has
    no LIKE meaning, so it is rejected."""
    if isinstance(f.value, (list, tuple)):
        raise ValueError(
            f"tag operator {f.operator!r} takes one pattern, "
            f"not a list: {list(f.value)!r}"
        )
    return str(f.value)


def _tag_predicate(f: TagFilter, tag: str) -> str:
    """F6 theta predicate on the tag-value expression ``tag``."""
    if f.operator in ("Equal", "NotEqual"):
        if isinstance(f.value, (list, tuple)):
            vals = _values(f"tag filter {f.tag!r} {f.operator}", f.value)
            p = f"{tag} IN ({', '.join(_lit(v) for v in vals)})"
        else:
            p = f"{tag} = {_lit(f.value)}"
        return p if f.operator == "Equal" else f"NOT ({p})"
    if f.operator in ("Like", "NotLike"):
        p = f"{tag} LIKE {_lit(_like_pattern(f))}"
        return p if f.operator == "Like" else f"NOT ({p})"
    raise ValueError(f"unsupported tag operator {f.operator!r}")


def _tag_key(tags_col: str, tag: str) -> str:
    """A9 group key: one tag's value, exposed as ``tag_<name>``."""
    return f"{_ident(tags_col)}[{_lit(tag)}] AS {_ident('tag_' + tag)}"


def _in(field: str, col: str, values: Sequence[str]) -> str:
    return f"{_ident(col)} IN ({', '.join(_lit(v) for v in _values(field, values))})"


def _filter(
    df: DataFrame,
    *,
    ts_col: str,
    from_ts: Optional[str],
    to_ts: Optional[str],
    tags_col: str,
    tag_filters: Sequence[TagFilter],
    isin: Sequence[tuple[str, str, Optional[Sequence[str]]]] = (),
    notin: Sequence[tuple[str, str, Optional[Sequence[str]]]] = (),
) -> DataFrame:
    """F4 time range (inclusive from, exclusive to — ns-epoch bounds in
    the contract, ISO strings here), F5/F8 membership lists and F6 tag
    filters (AND of all) as ONE predicate: one parse round trip, which
    the optimizer splits back into the individual pushed predicates.
    ``isin``/``notin`` hold (field, column, values) triples; values
    None means no filter."""
    parts: list[str] = []
    if from_ts is not None:
        parts.append(f"{_ident(ts_col)} >= CAST({_lit(from_ts)} AS TIMESTAMP)")
    if to_ts is not None:
        parts.append(f"{_ident(ts_col)} < CAST({_lit(to_ts)} AS TIMESTAMP)")
    parts += [_in(*m) for m in isin if m[2] is not None]
    parts += [f"NOT ({_in(*m)})" for m in notin if m[2] is not None]
    parts += [
        _tag_predicate(tf, f"{_ident(tags_col)}[{_lit(tf.tag)}]")
        for tf in tag_filters
    ]
    return df.filter(" AND ".join(parts)) if parts else df


#: A4/A5 aggregates over ``{v}``, the parameter's conditional value,
#: and ``{t}``, its event time where the value is non-null. The
#: long->wide pivot is conditional aggregation: rows of other
#: parameters contribute NULL, which every aggregate ignores, so
#: Catalyst evaluates all requested parameters in one pass.
#: First/Last are min_by/max_by on event time (deterministic given
#: unique (stream, ts)).
_AGG_SQL = {
    "Mean": "round(avg({v}), 4)",
    "Max": "max({v})",
    "Min": "min({v})",
    "First": "min_by({v}, {t})",
    "Last": "max_by({v}, {t})",
    "Sum": "round(sum({v}), 4)",
    "Count": "count({v})",
    # Exact distinct per group: correct at any group width, and the
    # DuckDB-oracle-checkable form. At 100 TB cardinalities switch to
    # ApproxCountDistinct (HyperLogLog++, one pass, mergeable sketch
    # state, no per-group distinct expansion) — engine-specific, so
    # pinned by a relative-error pytest rather than an oracle row.
    "CountDistinct": "count(DISTINCT {v})",
    "ApproxCountDistinct": "approx_count_distinct({v})",
    "Median": "round(median({v}), 4)",
    # exact interpolating percentile (same semantics as DuckDB's
    # quantile_cont); at 100 TB group widths switch to
    # approx_percentile — the one-pass mergeable sketch — the same
    # exact/approx split as CountDistinct.
    "P90": "round(percentile({v}, 0.90), 4)",
    "P99": "round(percentile({v}, 0.99), 4)",
    "Spread": "round(max({v}) - min({v}), 4)",
}

_STR_AGG_SQL = {a: _AGG_SQL[a] for a in STRING_AGGS if a != "None"}


def _agg_expr(
    parameter: str, template: str, name: str, pcol: str, vcol: str, tcol: str
) -> str:
    """One named conditional aggregate of ``parameter``'s values."""
    v = f"CASE WHEN {_ident(pcol)} = {_lit(parameter)} THEN {_ident(vcol)} END"
    t = f"CASE WHEN ({v}) IS NOT NULL THEN {_ident(tcol)} END"
    return f"{template.format(v=v, t=t)} AS {_ident(name)}"


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
    df = _filter(
        parameter_values,
        ts_col=ts_col,
        from_ts=spec.from_ts,
        to_ts=spec.to_ts,
        tags_col=tags_col,
        tag_filters=spec.tag_filters,
        isin=[("stream_ids", stream_col, spec.stream_ids)],
    )

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
        pcol = _ident(parameter_col)
        params = [na.parameter for na in raw_numeric] + [
            sa.parameter for sa in raw_string
        ]
        out = df.filter(_in("parameters", parameter_col, params)).selectExpr(
            f"{_ident(ts_col)} AS ts",
            *[_tag_key(tags_col, t) for t in spec.group_by_tags],
            *[
                f"CASE WHEN {pcol} = {_lit(na.parameter)} THEN "
                f"{_ident(value_col)} END AS {_ident(na.parameter + '_none')}"
                for na in raw_numeric
            ],
            *[
                f"CASE WHEN {pcol} = {_lit(sa.parameter)} THEN "
                f"{_ident(str_value_col)} END AS "
                f"{_ident(sa.parameter + '_str_none')}"
                for sa in raw_string
            ],
        )
        return _order_page(out, spec)

    # Group keys: time bucket (A7) x tag values (A9). The window
    # struct itself is the grouping expression (projecting .start
    # inside the key would hide the event-time window from the
    # streaming watermark checker); bucket = win.start is selected
    # after the agg.
    gbt = spec.group_by_time
    keys: list[str] = []
    names: list[str] = []
    if gbt is not None:
        keys.append(f"window({_ident(ts_col)}, {_lit(gbt.duration)}) AS _win")
        names.append("bucket")
    for t in spec.group_by_tags:
        keys.append(_tag_key(tags_col, t))
        names.append(f"tag_{t}")

    # A4 per-parameter aggregates, A5 string-channel aggregates. String
    # channels are excluded from numeric interpolation
    # (interpolationType only applies to numeric series).
    aggs: list[str] = []
    value_cols: list[str] = []
    str_cols: list[str] = []
    for na in spec.numeric_aggregations:
        if na.aggregation not in _AGG_SQL:
            raise ValueError(f"unsupported aggregation {na.aggregation!r}")
        name = f"{na.parameter}_{na.aggregation.lower()}"
        aggs.append(_agg_expr(na.parameter, _AGG_SQL[na.aggregation], name,
                              parameter_col, value_col, ts_col))
        value_cols.append(name)
    for sa in spec.string_aggregations:
        if sa.aggregation not in _STR_AGG_SQL:
            raise ValueError(f"unsupported string aggregation {sa.aggregation!r}")
        name = f"{sa.parameter}_str_{sa.aggregation.lower()}"
        aggs.append(_agg_expr(sa.parameter, _STR_AGG_SQL[sa.aggregation], name,
                              parameter_col, str_value_col, ts_col))
        str_cols.append(name)
    if not aggs:
        raise ValueError("QuerySpec requires at least one aggregation")

    agg_cols = [F.expr(a) for a in aggs]
    out = (
        df.groupBy(*[F.expr(k) for k in keys]).agg(*agg_cols)
        if keys else df.agg(*agg_cols)
    )
    if gbt is None:
        return _order_page(out, spec)
    out = out.selectExpr(
        "_win.start AS bucket",
        *[_ident(c) for c in names[1:] + value_cols + str_cols],
    )

    # A8 interpolation over the time spine.
    if gbt.interpolation != "None":
        if spec.from_ts is None or spec.to_ts is None:
            raise ValueError("interpolation requires from_ts and to_ts")
        spine = _bucket_spine(out, spec.from_ts, spec.to_ts, gbt.duration, names[1:])
        out = spine.join(out, on=names, how="left")
        if gbt.interpolation in ("Previous", "Linear"):
            out = _fill(out, value_cols, names[1:], gbt.interpolation)

    return _order_page(out, spec)


def _order_page(out: DataFrame, spec: QuerySpec) -> DataFrame:
    """O1 ordering + O2 paging (shared by agg and raw-passthrough paths)."""
    if spec.orderings:
        out = out.orderBy(
            *[
                F.col(_ident(o.by)).desc()
                if o.direction == "Desc"
                else F.col(_ident(o.by)).asc()
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
    df = _filter(
        parameter_values,
        ts_col=ts_col,
        from_ts=from_ts,
        to_ts=to_ts,
        tags_col=tags_col,
        tag_filters=tag_filters,
        isin=[("stream_ids", stream_col, stream_ids)],
    )
    return (
        df.selectExpr(
            f"{_ident(tags_col)}[{_lit(tag_key)}] AS tag_value",
            f"{_ident(stream_col)} AS _sid",
        )
        .filter("tag_value IS NOT NULL")
        .groupBy("tag_value")
        .agg(F.expr("count(1) AS n_rows"), F.expr("count(DISTINCT _sid) AS n_streams"))
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
    group_cols = [f"tag_{t}" for t in spec.group_by_tags]
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
    spine = _bucket_spine(result, spec.from_ts, spec.to_ts, gbt.duration, [])
    if group_cols:
        grp_rel = result.selectExpr(*[_ident(c) for c in group_cols])
        groups = result.sparkSession.createDataFrame(
            grp_rel.distinct().collect(), grp_rel.schema
        )
        spine = spine.crossJoin(groups)
    out = spine.join(result, on=["bucket", *group_cols], how="left")
    if gbt.interpolation in ("Previous", "Linear"):
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
    df = _filter(
        events,
        ts_col=ts_col,
        from_ts=spec.from_ts,
        to_ts=spec.to_ts,
        tags_col=tags_col,
        tag_filters=spec.tag_filters,
        isin=[
            ("stream_ids", stream_col, spec.stream_ids),
            ("event_ids", event_col, spec.event_ids),
            ("include_levels", level_col, spec.include_levels),
        ],
        notin=[("exclude_levels", level_col, spec.exclude_levels)],
    )

    keys: list[str] = [_ident(event_col)]
    out_keys: list[str] = [event_col]
    if spec.interval is not None:
        # Group by the window struct (streaming-watermark-visible),
        # project bucket afterwards — same reasoning as evaluate().
        keys.insert(0, f"window({_ident(ts_col)}, {_lit(spec.interval)}) AS _win")
        out_keys.insert(0, "bucket")
    for t in spec.group_by_tags:
        keys.append(_tag_key(tags_col, t))
        out_keys.append(f"tag_{t}")

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
    aggs = ["count(1) AS event_count"]
    val_names = ["event_count"]
    if agg in ("First", "Last"):
        v = _ident(value_col)
        t = f"CASE WHEN {v} IS NOT NULL THEN {_ident(ts_col)} END"
        fn = "min_by" if agg == "First" else "max_by"
        aggs.insert(0, f"{fn}({v}, {t}) AS event_value")
        val_names.insert(0, "event_value")
    elif agg not in ("Count", "None"):
        raise ValueError(f"unsupported event aggregation {agg!r}")
    out = df.groupBy(*[F.expr(k) for k in keys]).agg(*[F.expr(a) for a in aggs])
    if spec.interval is None:
        return out
    out = out.selectExpr(
        "_win.start AS bucket", *[_ident(c) for c in out_keys[1:] + val_names]
    )

    # A8-on-events: dense bucket spine per event channel. Counts
    # Null-fill to 0 (an absent bucket has zero occurrences);
    # event_value fills per the interpolation mode.
    if spec.interpolation != "None":
        if spec.from_ts is None or spec.to_ts is None:
            raise ValueError("interpolation requires from_ts and to_ts")
        group_cols = out_keys[1:]
        spine = _bucket_spine(out, spec.from_ts, spec.to_ts, spec.interval, group_cols)
        out = spine.join(out, on=out_keys, how="left")
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
            out = out.withColumn("event_count", F.expr("CAST(event_count AS DOUBLE)"))
            return _fill(out, ["event_count"], group_cols, "Linear")
        if spec.interpolation not in ("Null", "Previous"):
            raise ValueError(f"unsupported event interpolation {spec.interpolation!r}")
        out = out.withColumn("event_count", F.expr("coalesce(event_count, 0)"))
        if spec.interpolation == "Previous" and "event_value" in out.columns:
            out = _fill(out, ["event_value"], group_cols, "Previous")
    return out


def _bucket_spine(
    out: DataFrame,
    from_ts: str,
    to_ts: str,
    duration: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """Dense (bucket x tag-group) spine via sequence+explode.

    The sequence spans [from, to) at the bucket duration, cast to the
    bucket dtype window() produced over the input's timestamp flavor
    (NTZ vs LTZ) so the join key lines up. Distinct tag groups come
    from the aggregated result (small): cross-join of two tiny
    relations — broadcast by the planner.
    """
    dur = f"INTERVAL {_lit(duration)}"
    bucket_type = out.schema["bucket"].dataType.simpleString()
    spine = out.sparkSession.range(1).selectExpr(
        f"explode(sequence(CAST({_lit(from_ts)} AS TIMESTAMP), "
        f"CAST({_lit(to_ts)} AS TIMESTAMP) - {dur}, {dur})) AS bucket"
    ).selectExpr(f"CAST(bucket AS {bucket_type}) AS bucket")
    if group_cols:
        spine = spine.crossJoin(
            out.selectExpr(*[_ident(g) for g in group_cols]).distinct()
        )
    return spine


def _fill(
    out: DataFrame, value_cols: Sequence[str], group_cols: Sequence[str], mode: str
) -> DataFrame:
    """Previous / Linear gap fill over the bucket spine (A8), as ONE
    selectExpr with the value columns replaced in place.

    Previous: last non-null before the bucket (per tag group).
    Linear: closed-form interpolation between the surrounding
    non-null observations — prev + (next-prev) * elapsed/gap.

    "Next non-null ahead" is a running ignore-nulls ``last`` over the
    REVERSED ordering (an unbounded-PRECEDING frame): the natural
    ``first ignorenulls`` over ``0..unboundedFollowing`` is an
    UnboundedFollowing frame that Spark recomputes from scratch per
    row — O(n²) per tag group (a year of 1-minute buckets is 525k
    rows per group). Same fix as funnel/as-of-forward
    (operators/tsstats.py, asof.py); costs one extra per-partition
    sort on the SAME shuffle partitioning.
    """
    part = (
        f"PARTITION BY {', '.join(_ident(g) for g in group_cols)} "
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
        q = _ident(c)
        if mode == "Previous":
            fills[c] = f"last({q}, true) {w_back} AS {q}"
            continue
        pv = f"last({q}, true) {w_back}"
        nv = f"last({q}, true) {w_fwd}"
        pb = (
            f"last(CASE WHEN {q} IS NOT NULL THEN "
            f"unix_micros(`bucket`) END, true) {w_back}"
        )
        nb = (
            f"last(CASE WHEN {q} IS NOT NULL THEN "
            f"unix_micros(`bucket`) END, true) {w_fwd}"
        )
        fills[c] = (
            f"CASE WHEN {q} IS NOT NULL THEN {q} "
            f"WHEN ({pv}) IS NULL OR ({nv}) IS NULL THEN NULL "
            f"ELSE round(({pv}) + (({nv}) - ({pv})) * "
            f"CAST(unix_micros(`bucket`) - ({pb}) AS DOUBLE) / "
            f"CAST(({nb}) - ({pb}) AS DOUBLE), 4) END AS {q}"
        )
    return out.selectExpr(*[fills.get(c, _ident(c)) for c in out.columns])


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


def _sql_ident(name: str) -> str:
    """A DuckDB identifier: double-quoted, any ``"`` inside doubled."""
    return '"' + str(name).replace('"', '""') + '"'


def _tag_predicate_sql(f: TagFilter, col: str) -> str:
    if f.operator in ("Equal", "NotEqual"):
        if isinstance(f.value, (list, tuple)):
            vals = _values(f"tag filter {f.tag!r} {f.operator}", f.value)
            neg = "NOT " if f.operator == "NotEqual" else ""
            return f"{col} {neg}IN ({', '.join(_sql_lit(v) for v in vals)})"
        op = "=" if f.operator == "Equal" else "!="
        return f"{col} {op} {_sql_lit(f.value)}"
    if f.operator == "Like":
        return f"{col} LIKE {_sql_lit(_like_pattern(f))}"
    if f.operator == "NotLike":
        return f"{col} NOT LIKE {_sql_lit(_like_pattern(f))}"
    raise ValueError(f"unsupported tag operator {f.operator!r}")


def _agg_sql(spec: NumericAggregation) -> tuple[str, str]:
    p = _sql_lit(spec.parameter)
    v = f"CASE WHEN parameter_id = {p} THEN num_value END"
    t = f"CASE WHEN parameter_id = {p} THEN ts END"
    name = _sql_ident(f"{spec.parameter}_{spec.aggregation.lower()}")
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
    name = _sql_ident(f"{spec.parameter}_str_{spec.aggregation.lower()}")
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
    PV_SQL shape). Every name is a quoted identifier
    (:func:`_sql_ident`) and every value a literal (:func:`_sql_lit`)."""
    where = []
    if spec.from_ts is not None:
        where.append(f"ts >= TIMESTAMP {_sql_lit(spec.from_ts)}")
    if spec.to_ts is not None:
        where.append(f"ts < TIMESTAMP {_sql_lit(spec.to_ts)}")
    if spec.stream_ids is not None:
        ids = ", ".join(
            _sql_lit(s) for s in _values("stream_ids", spec.stream_ids)
        )
        where.append(f"stream_id IN ({ids})")
    for tf in spec.tag_filters:
        where.append(_tag_predicate_sql(tf, _sql_ident(f"tag_{tf.tag}")))
    where_sql = (" WHERE " + " AND ".join(where)) if where else ""

    group_cols = [_sql_ident(f"tag_{t}") for t in spec.group_by_tags]

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
            f" THEN num_value END AS {_sql_ident(a.parameter + '_none')}"
            for a in raw_numeric
        ] + [
            f"CASE WHEN parameter_id = {_sql_lit(a.parameter)}"
            f" THEN str_value END AS {_sql_ident(a.parameter + '_str_none')}"
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
        sel_keys.append(f"time_bucket(INTERVAL {_sql_lit(dur)}, ts) AS bucket")
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
    dur = f"INTERVAL {_sql_lit(gbt.duration)}"
    keys = ["bucket"] + group_cols
    spine = (
        f"SELECT unnest(generate_series(TIMESTAMP {_sql_lit(spec.from_ts)}, "
        f"TIMESTAMP {_sql_lit(spec.to_ts)} - {dur}, {dur})) AS bucket"
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
    # Linear (GroupByTime rejects any other mode when it is built):
    # helper columns are numbered, not derived from the value
    # column's name, so no user name is spliced into them
    w_cols = []
    for i, c in enumerate(num_cols):
        w_cols += [
            f"last_value({c} IGNORE NULLS) OVER ({part}ORDER BY bucket"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" AS _pv{i}",
            f"first_value({c} IGNORE NULLS) OVER ({part}ORDER BY bucket"
            f" ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
            f" AS _nv{i}",
            f"last_value(CASE WHEN {c} IS NOT NULL THEN epoch_us(bucket)"
            f" END IGNORE NULLS) OVER ({part}ORDER BY bucket"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" AS _pb{i}",
            f"first_value(CASE WHEN {c} IS NOT NULL THEN epoch_us(bucket)"
            f" END IGNORE NULLS) OVER ({part}ORDER BY bucket"
            f" ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
            f" AS _nb{i}",
        ]
    fill = [
        f"CASE WHEN {c} IS NOT NULL THEN {c}"
        f" WHEN _pv{i} IS NULL OR _nv{i} IS NULL THEN NULL"
        f" ELSE ROUND(_pv{i} + (_nv{i} - _pv{i}) *"
        f" CAST(epoch_us(bucket) - _pb{i} AS DOUBLE) /"
        f" CAST(_nb{i} - _pb{i} AS DOUBLE), 4) END AS {c}"
        for i, c in enumerate(num_cols)
    ]
    return _order_page_sql(
        base
        + f", w AS (SELECT j.*, {', '.join(w_cols)} FROM j)\n"
        + f"SELECT {', '.join(keys + fill + str_cols)} FROM w",
        spec,
    )


def _order_page_sql(sql: str, spec: QuerySpec) -> str:
    """O1/O2 twin: Spark's orderBy puts NULLs FIRST on Asc and LAST
    on Desc — emitted explicitly (DuckDB's default is the reverse)."""
    if not spec.orderings:
        if spec.paging is not None:
            raise ValueError("paging requires orderings for determinism")
        return sql
    keys = ", ".join(
        f"{_sql_ident(o.by)} "
        f"{'DESC NULLS LAST' if o.direction == 'Desc' else 'ASC NULLS FIRST'}"
        for o in spec.orderings
    )
    sql = f"SELECT * FROM ({sql}) ORDER BY {keys}"
    if spec.paging is not None:
        p = spec.paging
        sql += f" LIMIT {p.length} OFFSET {p.index * p.length}"
    return sql
