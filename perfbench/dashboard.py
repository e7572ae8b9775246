"""``dashboard``: closed loop, one client, a fixed seeded request set.

Each request is what the Telemetry Query API does per call: load the
events table, adapt it to the parameter-values model, build the
QuerySpec plan, force the physical plan, collect. The request set is
fixed per seed (one request per template, the same template mix on
every seed), and the timed region runs whole passes over it, so
every run sees the same mix; only parameters vary with the seed.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import pandas as pd

import core
import datagen

SF = 0.1
# At least 4 timed passes (10-14 s on 4 cores, longer than --seconds),
# so how many passes a run makes, and so how warm the samples behind
# its median are, does not follow the host's speed.
MIN_PASSES = 4
PRIME_PASSES = 2
CHECKED = 6  # seeded subset compared with the DuckDB oracle

_TYPES = ("view", "click", "purchase", "signup", "error")


def _window(rng: random.Random, days: int) -> dict:
    """A whole-day [from, to) range inside the 30 days of events."""
    start = dt.datetime(2024, 1, 1) + dt.timedelta(days=rng.randrange(31 - days))
    end = start + dt.timedelta(days=days)
    return {"from_ts": f"{start:%Y-%m-%d %H:%M:%S}",
            "to_ts": f"{end:%Y-%m-%d %H:%M:%S}"}


def requests(seed: int, n_users: int) -> list[tuple[str, object]]:
    """The seeded request set: one request per template."""
    from ts_data_pipeline_spark.plans.queryspec import (
        GroupByTime,
        NumericAggregation as NA,
        Ordering,
        Paging,
        QuerySpec,
        TagFilter,
    )

    rng = random.Random(seed)

    def streams(k):
        return [str(u) for u in rng.sample(range(n_users), k)]

    def param():
        return rng.choice(_TYPES)

    # Each template's latency forms a cluster; with an odd number of
    # templates the median request lands inside one cluster instead of
    # jumping between two.
    templates = {
        # A4 Mean/Sum/Count/Max/Min, A7 15-minute buckets, F5 + F6.
        "bucket_multi_agg": lambda: QuerySpec(
            numeric_aggregations=[NA("purchase", "Mean"), NA("purchase", "Sum"),
                                  NA("purchase", "Count"), NA("error", "Max"),
                                  NA("view", "Min")],
            **_window(rng, 15),
            stream_ids=streams(200),
            tag_filters=[TagFilter("k", "NotLike", f"{rng.randrange(10)}%")],
            group_by_time=GroupByTime("15 minutes"),
        ),
        # A4 order-sensitive and distribution aggregates.
        "first_last_median": lambda: (lambda p: QuerySpec(
            numeric_aggregations=[NA(p, "First"), NA(p, "Last"),
                                  NA(p, "Median"), NA(p, "P90"),
                                  NA(p, "Spread")],
            **_window(rng, 20),
            group_by_time=GroupByTime("1 hour"),
        ))(param()),
        # A9 group-by-tags with a Like filter.
        "group_by_tags": lambda: (lambda p: QuerySpec(
            numeric_aggregations=[NA(p, "Count"), NA(p, "Mean")],
            **_window(rng, 30),
            tag_filters=[TagFilter("k", "Like", f"{rng.randrange(10)}%")],
            group_by_time=GroupByTime("1 day"),
            group_by_tags=["k"],
        ))(param()),
        # A8 Previous interpolation over a dense spine.
        "interp_previous": lambda: (lambda p: QuerySpec(
            numeric_aggregations=[NA(p, "Mean")],
            **_window(rng, 10),
            stream_ids=streams(3),
            group_by_time=GroupByTime("6 hours", "Previous"),
        ))(param()),
        # A8 Null interpolation: the dense spine, gaps left empty.
        "interp_null": lambda: (lambda p: QuerySpec(
            numeric_aggregations=[NA(p, "Sum")],
            **_window(rng, 10),
            stream_ids=streams(3),
            group_by_time=GroupByTime("6 hours", "Null"),
        ))(param()),
        # A8 Linear interpolation.
        "interp_linear": lambda: (lambda p: QuerySpec(
            numeric_aggregations=[NA(p, "Mean"), NA(p, "Max")],
            **_window(rng, 10),
            stream_ids=streams(3),
            group_by_time=GroupByTime("6 hours", "Linear"),
        ))(param()),
        # F6 Equal on a value list, no interpolation.
        "equal_filter": lambda: (lambda p: QuerySpec(
            numeric_aggregations=[NA(p, "Sum"), NA(p, "Count")],
            **_window(rng, 7),
            tag_filters=[TagFilter("k", "Equal",
                                   [str(v) for v in rng.sample(range(100), 3)])],
            group_by_time=GroupByTime("1 hour", "None"),
        ))(param()),
        # O1/O2 ordering and paging over tag groups.
        "order_page": lambda: (lambda p: QuerySpec(
            numeric_aggregations=[NA(p, "Count"), NA(p, "Mean")],
            **_window(rng, 30),
            group_by_time=GroupByTime("1 day"),
            group_by_tags=["k"],
            orderings=[Ordering(f"{p}_count", "Desc"), Ordering("bucket", "Asc"),
                       Ordering("tag_k", "Asc")],
            paging=Paging(index=rng.randrange(3), length=25),
        ))(param()),
        # F5 stream list with NotEqual, 5-minute Min/Max.
        "stream_min_max": lambda: (lambda p: QuerySpec(
            numeric_aggregations=[NA(p, "Min"), NA(p, "Max")],
            **_window(rng, 2),
            stream_ids=streams(50),
            tag_filters=[TagFilter("k", "NotEqual", str(rng.randrange(100)))],
            group_by_time=GroupByTime("5 minutes"),
        ))(param()),
    }
    return [(name, make()) for name, make in templates.items()]


def _make_inputs(run: core.Run):
    from ts_data_pipeline_spark.operators.synth import synth_counts

    n_users = max(10, synth_counts(SF)["customer"] // 10)
    d = datagen.scale_factor(run.work_dir, ("events",), SF, run.seed)
    return d, requests(run.seed, n_users)


def _request(run: core.Run, spark, sf_dir: str, spec, counts: dict):
    """One API call; returns (columns, rows)."""
    from ts_data_pipeline_spark import io
    from ts_data_pipeline_spark.plans import queryspec
    from ts_data_pipeline_spark.queries import telemetry

    tr = run.tracer
    with tr.span("io.load"):
        events = io.load(spark, sf_dir, "events")
    with tr.span("telemetry.adapter"):
        pv = telemetry.events_as_parameter_values(events)
    with tr.span("queryspec.evaluate"):
        df = queryspec.evaluate(pv, spec)
    with tr.job_group(spark, f"req-{tr.request}", counts):
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec"):
            rows = df.collect()
    return df.columns, rows


def run(run: core.Run) -> None:
    tr = run.tracer

    def load(spark, inputs):
        # the first request after start: table load, plan, execute
        sf_dir, reqs = inputs
        _request(run, spark, sf_dir, reqs[0][1], {})

    def prime(spark, inputs, _):
        # untimed passes: every plan shape compiled, the JIT past its
        # first tier
        sf_dir, reqs = inputs
        for _ in range(PRIME_PASSES):
            for _, spec in reqs:
                _request(run, spark, sf_dir, spec, {})

    (sf_dir, reqs), _ = core.set_up(run, lambda: _make_inputs(run), load, prime)
    spark = run.spark

    lat: list[float] = []
    passes: list[float] = []
    results: dict[str, tuple] = {}
    counts: dict = {}
    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    rid = 0
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        tp = time.perf_counter()
        with tr.span("dashboard.pass"):
            for name, spec in reqs:
                rid += 1
                tr.request = rid
                t = time.perf_counter()
                with tr.span("request", template=name):
                    out = run.op(_request, run, spark, sf_dir, spec, counts)
                lat.append(time.perf_counter() - t)
                if out is not None:
                    results[name] = out
        tr.request = None
        passes.append(time.perf_counter() - tp)
    elapsed = time.perf_counter() - t_start

    run.e2e["latency_p50_s"] = core.median(lat)
    run.e2e["throughput_per_s"] = len(lat) / elapsed
    run.e2e["batch_s"] = core.median(passes)
    by_t: dict[str, list[float]] = {}
    for (name, _), x in zip(reqs * len(passes), lat):
        by_t.setdefault(name, []).append(x)
    core.log(f"dashboard: {len(reqs)} requests x {len(passes)} passes; "
             f"latency p50={core.median(lat):.4f}s p90={core.p90(lat):.4f}s "
             f"(n={len(lat)}) pass_s={[round(p, 3) for p in passes]} "
             "per request p50: " + ", ".join(
                 f"{n}={core.median(v):.3f}" for n, v in by_t.items()))

    with tr.span("check.oracle"):
        _check(run, sf_dir, reqs, results)

    if run.trace:
        _layers(run, lat, passes, counts)


def _check(run: core.Run, sf_dir: str, reqs, results) -> None:
    """Compare a seeded subset of the timed results with DuckDB."""
    import duckdb

    from ts_data_pipeline_spark.plans import queryspec
    from ts_data_pipeline_spark.queries import telemetry

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'events.parquet')}/*.parquet')"
    )
    rng = random.Random(run.seed * 7919 + 1)
    for name, spec in rng.sample(reqs, min(CHECKED, len(reqs))):
        if name not in results:
            run.check(f"dashboard:{name}", False, "no result")
            continue
        cols, rows = results[name]
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
        want = con.execute(queryspec.oracle_sql(spec, telemetry.PV_SQL)).df()
        ok, detail = core.compare(got, want)
        run.check(f"dashboard:{name}", ok and len(got) > 0, detail)
    con.close()


def _layers(run: core.Run, lat, passes, counts) -> None:
    tr = run.tracer
    n = max(len(tr.by_name("request")), 1)
    self_t = tr.self_times()
    per_req = lambda name: self_t.get(name, 0.0) / n  # noqa: E731
    L = run.layers
    L["io.load_s"] = per_req("io.load")
    L["telemetry.adapter_s"] = per_req("telemetry.adapter")
    L["queryspec.build_s"] = per_req("queryspec.evaluate")
    L["queryspec.py4j_calls"] = core.median(
        [s["py4j"] for s in tr.by_name("queryspec.evaluate")])
    L["spark.plan_s"] = per_req("spark.plan")
    L["spark.exec_s"] = per_req("spark.exec")
    L["spark.jobs"] = counts.get("jobs", 0) / n
    L["spark.tasks"] = counts.get("tasks", 0) / n
    L["latency_p90_s"] = core.p90(lat)
    L["trace.batch_s"] = core.median(passes)
    L["trace.coverage"] = tr.coverage(time.perf_counter())
