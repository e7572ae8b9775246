"""Catalog API operators: metadata filter/merge, full-text search,
group tree, tag values, snippet listing (metadataFilter.ts,
getTagValuesRequest.ts, getAllEventGroupsRequest.ts,
getAllDataSnippetsRequest.ts contracts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ts_data_pipeline_spark.operators import catalog as cat
from ts_data_pipeline_spark.plans import snippets as snip
from ts_data_pipeline_spark.plans.queryspec import (
    EventQuerySpec, GroupByTime, NumericAggregation, Ordering, QuerySpec,
    TagFilter, evaluate, evaluate_events, interpolate_finals, oracle_sql,
    tag_values,
)


def _toy_catalog(spark):
    df = spark.createDataFrame(
        [
            ("1", "stream-1", "events", "/live/a", "Open", 10),
            ("2", "stream-2", "events", "/live/b", "Closed", 30),
            ("3", "alpha", "events", "/cold/a", "Open", 20),
        ],
        "stream_id string, name string, topic string, location string, "
        "status string, n_records long",
    )
    return df.withColumn(
        "metadata",
        F.create_map(
            F.lit("region"),
            F.when(F.col("stream_id") == "1", "eu").otherwise("us"),
            F.lit("tier"), F.lit("hot"),
        ),
    )


def test_metadata_filter_key_value_semantics(spark):
    c = _toy_catalog(spark)
    # key+value Equals
    got = cat.metadata_filter(c, [cat.MetadataFilter("region", "eu")])
    assert [r.stream_id for r in got.collect()] == ["1"]
    # key-only: presence
    assert cat.metadata_filter(c, [cat.MetadataFilter(key="tier")]).count() == 3
    assert cat.metadata_filter(c, [cat.MetadataFilter(key="nope")]).count() == 0
    # value-only: any key carries it
    got = cat.metadata_filter(c, [cat.MetadataFilter(value="us")])
    assert sorted(r.stream_id for r in got.collect()) == ["2", "3"]
    # AND of several filters
    got = cat.metadata_filter(
        c, [cat.MetadataFilter("tier", "hot"), cat.MetadataFilter("region", "us")]
    )
    assert sorted(r.stream_id for r in got.collect()) == ["2", "3"]


def test_patch_stream_metadata_merge_preserves_other_keys(spark):
    c = _toy_catalog(spark)
    patched = cat.patch_stream(
        c, "2", metadata={"tier": "cold", "note": "archived"}
    )
    rows = {r.stream_id: r.metadata for r in patched.collect()}
    assert rows["2"] == {"region": "us", "tier": "cold", "note": "archived"}
    assert rows["1"] == {"region": "eu", "tier": "hot"}  # untouched


def test_search_streams_case_insensitive_across_fields(spark):
    c = _toy_catalog(spark)
    # name hit
    assert [r.stream_id for r in cat.search_streams(c, "ALPHA").collect()] == ["3"]
    # location hit
    assert sorted(
        r.stream_id for r in cat.search_streams(c, "/live").collect()
    ) == ["1", "2"]
    # metadata value hit
    assert [r.stream_id for r in cat.search_streams(c, "eu").collect()] == ["1"]


def test_group_tree_counts_and_children(spark):
    memb = spark.createDataFrame(
        [
            ("s1", "/a/b/x"),
            ("s1", "/a/b/y"),
            ("s2", "/a/b/x"),
            ("s2", "/a/c/z"),
        ],
        "stream_id string, group_path string",
    )
    tree = {r.path: r for r in cat.group_tree(memb).collect()}
    assert set(tree) == {"/a", "/a/b", "/a/c", "/a/b/x", "/a/b/y", "/a/c/z"}
    assert tree["/a"].children_count == 2          # /a/b, /a/c
    assert tree["/a/b"].children_count == 2        # x, y
    assert tree["/a/b/x"].children_count == 0
    assert tree["/a"].n_records == 4 and tree["/a"].n_streams == 2
    assert tree["/a/b"].n_records == 3
    assert tree["/a/c"].n_streams == 1
    assert tree["/a/b"].name == "b" and tree["/a/b"].location == "/a"


def test_list_groups_location_deep_vs_direct(spark):
    memb = spark.createDataFrame(
        [("s1", "/a/b/x"), ("s1", "/a/c/z")],
        "stream_id string, group_path string",
    )
    tree = cat.group_tree(memb)
    deep = cat.list_groups(tree, location="/a", location_deep_search=True)
    assert sorted(r.path for r in deep.collect()) == [
        "/a/b", "/a/b/x", "/a/c", "/a/c/z"
    ]
    direct = cat.list_groups(tree, location="/a", location_deep_search=False)
    assert sorted(r.path for r in direct.collect()) == ["/a/b", "/a/c"]
    # smart-case name filter: capital -> case-sensitive
    assert cat.list_groups(tree, name="X").count() == 0
    assert cat.list_groups(tree, name="x").count() == 1


def test_tag_values_filters_and_counts(spark):
    pv = spark.createDataFrame(
        [
            ("1", "2024-01-01 00:00:00", {"k": "a"}),
            ("1", "2024-01-02 00:00:00", {"k": "b"}),
            ("2", "2024-01-03 00:00:00", {"k": "a"}),
            ("2", "2024-01-04 00:00:00", {"k": None}),
            ("3", "2024-01-05 00:00:00", {"k": "c"}),  # excluded stream
        ],
        "stream_id string, ts_s string, tags map<string,string>",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    got = tag_values(
        pv, "k", stream_ids=["1", "2"],
        tag_filters=[TagFilter("k", "NotEqual", "zzz")],
    ).collect()
    assert [(r.tag_value, r.n_rows, r.n_streams) for r in got] == [
        ("a", 2, 2), ("b", 1, 1)
    ]


@pytest.mark.parametrize("op", ["Like", "NotLike"])
def test_like_tag_filter_rejects_value_list(spark, op):
    """LIKE takes one pattern: a value list fails at build time with
    the operator named, in evaluate, tag_values and the oracle SQL
    alike, whatever characters the values hold."""
    pv = spark.createDataFrame(
        [("1", "2024-01-01 00:00:00", "purchase", 1.0, {"k": "a"})],
        "stream_id string, ts_s string, parameter_id string, "
        "num_value double, tags map<string,string>",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    for values in (["a%", "b%"], ["a'%", "b%"]):
        spec = QuerySpec(
            numeric_aggregations=[NumericAggregation("purchase", "Sum")],
            tag_filters=[TagFilter("k", op, values)],
        )
        with pytest.raises(ValueError, match=op):
            evaluate(pv, spec)
        with pytest.raises(ValueError, match=op):
            tag_values(pv, "k", tag_filters=spec.tag_filters)
        with pytest.raises(ValueError, match=op):
            oracle_sql(spec, "pv")



def test_empty_value_lists_rejected_by_name(spark):
    """An empty value list has no SQL spelling (``IN ()`` is a parse
    error in Spark and DuckDB): every entry point rejects it with a
    ValueError naming the field, on the Spark and the oracle path."""
    pv = spark.createDataFrame(
        [("1", "2024-01-01 00:00:00", "purchase", 1.0, {"k": "a"})],
        "stream_id string, ts_s string, parameter_id string, "
        "num_value double, tags map<string,string>",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    aggs = [NumericAggregation("purchase", "Sum")]
    cases = [
        (QuerySpec(numeric_aggregations=aggs, stream_ids=[]), "stream_ids"),
    ] + [
        (QuerySpec(numeric_aggregations=aggs,
                   tag_filters=[TagFilter("k", op, [])]), op)
        for op in ("Equal", "NotEqual")
    ]
    for spec, field in cases:
        with pytest.raises(ValueError, match=field):
            evaluate(pv, spec)
        with pytest.raises(ValueError, match=field):
            tag_values(pv, "k", stream_ids=spec.stream_ids,
                       tag_filters=spec.tag_filters)
        with pytest.raises(ValueError, match=field):
            oracle_sql(spec, "pv")
    ev = spark.createDataFrame(
        [("1", "2024-01-01 00:00:00", "e", "Error", "v", {"k": "a"})],
        "stream_id string, ts_s string, event_id string, level string, "
        "value string, tags map<string,string>",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    for field in ("stream_ids", "event_ids", "include_levels",
                  "exclude_levels"):
        with pytest.raises(ValueError, match=field):
            evaluate_events(ev, EventQuerySpec(**{field: []}))

@pytest.mark.parametrize("path", ["evaluate", "interpolate_finals", "oracle_sql"])
@pytest.mark.parametrize(
    "field,bad", [("interpolation", "Lineer"), ("direction", "desc")]
)
def test_misspelled_modes_rejected_by_name(spark, path, field, bad):
    """A mode outside its enum is a ValueError naming the bad value on
    every path. Before, a misspelled interpolation ran as an unfilled
    spine join in ``evaluate`` and ``interpolate_finals`` while the
    oracle raised, and a lower-case ``desc`` sorted ascending on both
    the Spark and the oracle side."""
    pv = spark.createDataFrame(
        [("1", "2024-01-01 00:00:00", "purchase", 1.0, {"k": "a"})],
        "stream_id string, ts_s string, parameter_id string, "
        "num_value double, tags map<string,string>",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))

    def spec(interpolation="Null", direction="Asc"):
        return QuerySpec(
            numeric_aggregations=[NumericAggregation("purchase", "Sum")],
            from_ts="2024-01-01 00:00:00",
            to_ts="2024-01-01 00:05:00",
            group_by_time=GroupByTime("1 minute", interpolation),
            orderings=[Ordering("bucket", direction)],
        )

    finals = evaluate(pv, spec(interpolation="None"))
    run = {
        "evaluate": lambda spec: evaluate(pv, spec),
        "interpolate_finals": lambda spec: interpolate_finals(finals, spec),
        "oracle_sql": lambda spec: oracle_sql(spec, "pv"),
    }[path]

    run(spec())  # the well-spelled spec builds on this path
    with pytest.raises(ValueError, match=f"{field} '{bad}'"):
        run(spec(**{field: bad}))


def test_snippet_listing_filters(spark):
    c = snip.snippets_catalog(spark)
    assert c.count() == len(snip.BUILTIN_SNIPPETS)
    by_name = snip.list_snippets(c, name="REPLAY")  # case-insensitive
    assert sorted(r.name for r in by_name.collect()) == [
        "replay-clicks", "replay-purchases"
    ]
    by_param = snip.list_snippets(c, parameter_ids=["error", "signup"])
    assert sorted(r.name for r in by_param.collect()) == [
        "error-audit", "signup-window"
    ]
    by_stream = snip.list_snippets(c, stream_id="7")
    assert sorted(r.name for r in by_stream.collect()) == [
        "signup-window", "view-sweep"
    ]


def test_snippet_row_counts_zero_match_snippet_kept(spark):
    c = snip.snippets_catalog(spark)
    pv = spark.createDataFrame(
        [("1", "2024-01-03 00:00:00", "click")],
        "stream_id string, ts_s string, parameter_id string",
    ).select(
        "stream_id", F.col("ts_s").cast("timestamp").alias("ts"), "parameter_id"
    )
    got = {r.name: r for r in snip.snippet_row_counts(c, pv).collect()}
    assert got["replay-clicks"].n_rows == 1
    assert got["replay-clicks"].n_streams == 1
    assert got["error-audit"].n_rows == 0 and got["error-audit"].n_streams == 0
