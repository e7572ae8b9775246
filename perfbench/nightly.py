"""``nightly_batch``: seven batch stages back to back, closed loop.

The inputs are a synthetic scale factor written from the seed
(``datagen``); the stages read it the way the nightly job reads
history. Execution is most of a pass (about 85% against 15% plan
build), but at sf0.05 on 4 cores the fixed cost of each job and
stage, not the data volume, sets most of it: a warm pass read 4.4-5.6 s
at sf0.05, 6.2-7.7 s at sf0.2 and 7.5-10.0 s at sf0.4.

The traced run also makes one ``recipes.build_training_corpus`` pass
(default configuration, with ``stage_times``) over the same documents
table after the timed passes, for the ``recipe.*`` layer metrics. It
costs 10-25 s on 4 cores (about 190 Spark stages at any corpus size),
more than a run can spend on every pass, so the untraced run leaves it
out and no end-to-end metric moves with it.
"""

from __future__ import annotations

import os
import time

import core
import datagen

SF = 0.05
MIN_PASSES = 2
#: the tables the seven stages read
TABLES = ("events", "customer", "orders", "lineitem", "documents")


def stages() -> dict:
    """Stage name -> (query function, DuckDB oracle SQL)."""
    from ts_data_pipeline_spark import registry
    from ts_data_pipeline_spark.queries import telemetry

    queries, oracles = registry.all_queries(), registry.all_oracles()
    out = {}
    for name in core.STAGES:
        if name == "telemetry_interp_linear":
            # a member of the registered telemetry_interp suite; the
            # suite's oracle for this mode lives beside it
            out[name] = (telemetry.telemetry_interp_linear,
                         telemetry.TELEMETRY_INTERP_LINEAR_SQL)
        else:
            out[name] = (queries[name], oracles[name])
    return out


def _stage(run: core.Run, spark, sf_dir: str, name: str, fn, acc: dict) -> int:
    """Build, plan and execute one stage; returns its row count."""
    from ts_data_pipeline_spark.plans import scanmetrics

    tr = run.tracer
    st = acc.setdefault(name, {"build": [], "exec": [], "bytes": [], "n": {}})
    t = time.perf_counter()
    with tr.span(f"stage.{name}.build"):
        df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    with tr.job_group(spark, f"stage-{name}-{tr.request}", st["n"]):
        with tr.span(f"stage.{name}.exec"):
            m = scanmetrics.scan_metrics(df)
    st["build"].append(t1 - t)
    st["exec"].append(time.perf_counter() - t1)
    st["bytes"].append(m["bytes_read"])
    return m["rows"]


def run(run: core.Run) -> None:
    tr = run.tracer
    plan = stages()
    collected: dict = {}  # stage -> its rows, from the priming pass

    def load(spark, sf_dir):
        # every table's schema, then a first job over the largest
        from ts_data_pipeline_spark import io

        with tr.span("io.load"):
            dfs = [io.load(spark, sf_dir, t) for t in TABLES]
        with tr.span("spark.exec"):
            dfs[TABLES.index("lineitem")].count()

    def prime(spark, sf_dir, _):
        # one untimed pass that collects every stage's rows; the
        # oracle check compares them after the timed region
        for name, (fn, _) in plan.items():
            with tr.span(f"stage.{name}.collect"):
                collected[name] = run.op(lambda: fn(spark, sf_dir).toPandas())

    sf_dir, _ = core.set_up(
        run, lambda: datagen.scale_factor(run.work_dir, TABLES, SF, run.seed),
        load, prime)
    spark = run.spark

    acc: dict = {}
    lat: list[float] = []
    passes: list[float] = []
    rows: dict[str, int] = {}
    t_start = time.perf_counter()
    deadline = t_start + run.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        tp = time.perf_counter()
        tr.request = len(passes)
        with tr.span("nightly.pass"):
            for name, (fn, _) in plan.items():
                t = time.perf_counter()
                n = run.op(_stage, run, spark, sf_dir, name, fn, acc)
                lat.append(time.perf_counter() - t)
                if n is not None:
                    rows[name] = n
        passes.append(time.perf_counter() - tp)
    tr.request = None
    elapsed = time.perf_counter() - t_start

    run.e2e["latency_p50_s"] = core.median(lat)
    run.e2e["throughput_per_s"] = len(lat) / elapsed
    run.e2e["batch_s"] = core.median(passes)
    core.log(f"nightly_batch: {len(plan)} stages x {len(passes)} passes; "
             f"pass_s={[round(p, 3) for p in passes]} stage p50/pass: "
             + ", ".join(f"{n}={core.median(a['build']) + core.median(a['exec']):.3f}"
                         for n, a in acc.items()))

    recipe = run.op(_recipe, run, spark, sf_dir) if run.trace else None

    with tr.span("check.oracle"):
        _check(run, sf_dir, plan, rows, collected, recipe)

    if run.trace:
        L = run.layers
        for name, a in acc.items():
            L[f"stage.{name}.build_s"] = core.median(a["build"])
            L[f"stage.{name}.exec_s"] = core.median(a["exec"])
            L[f"stage.{name}.tasks"] = a["n"].get("tasks", 0) / len(passes)
            L[f"stage.{name}.scan_bytes"] = core.median(a["bytes"])
        L["spark.jobs"] = sum(a["n"].get("jobs", 0) for a in acc.values()) / len(passes)
        L["spark.tasks"] = sum(a["n"].get("tasks", 0) for a in acc.values()) / len(passes)
        L["trace.batch_s"] = core.median(passes)
        build = sum(core.median(a["build"]) for a in acc.values())
        execute = sum(core.median(a["exec"]) for a in acc.values())
        core.log(f"nightly_batch pass shares: build {build / L['trace.batch_s']:.1%}"
                 f" exec {execute / L['trace.batch_s']:.1%}; per pass "
                 f"{L['spark.jobs']:.0f} jobs, {L['spark.tasks']:.0f} tasks")
        L["trace.coverage"] = tr.coverage(time.perf_counter())


def _recipe(run: core.Run, spark, sf_dir: str):
    """One ``build_training_corpus`` pass with per-stage timing over the
    documents table; returns its collected rows."""
    from ts_data_pipeline_spark import io, recipes

    tr, L = run.tracer, run.layers
    stage_times: dict[str, float] = {}
    n: dict = {}
    with tr.span("recipe"), tr.job_group(spark, "recipe", n):
        t = time.perf_counter()
        with tr.span("recipe.build"):
            df = recipes.build_training_corpus(
                io.load(spark, sf_dir, "documents"), stage_times=stage_times)
        t1 = time.perf_counter()
        with tr.span("recipe.exec"):
            got = df.toPandas()
    L["recipe.build_s"] = t1 - t
    L["recipe.exec_s"] = time.perf_counter() - t1
    L["recipe.jobs"] = n.get("jobs", 0)
    L["recipe.tasks"] = n.get("tasks", 0)
    for name in core.RECIPE_STAGES:
        L[f"recipe.stage.{name}_s"] = stage_times.get(name, 0.0)
    core.log(f"recipe: build {L['recipe.build_s']:.3f}s exec "
             f"{L['recipe.exec_s']:.3f}s, {n.get('jobs', 0)} jobs, "
             f"{n.get('tasks', 0)} tasks, stages {stage_times}")
    return got


def _check(run: core.Run, sf_dir: str, plan: dict, rows: dict,
           collected: dict, recipe) -> None:
    """Each stage's collected rows against its DuckDB oracle, by row
    count and value hash; the timed passes must return as many rows.
    The recipe's rows, when the run made them, against its DuckDB twin."""
    import duckdb

    from ts_data_pipeline_spark import recipes

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{os.path.join(sf_dir, t + '.parquet')}/*.parquet')"
        )
    for name, (_, sql) in plan.items():
        got = collected.get(name)
        if got is None:
            run.check(f"nightly:{name}", False, "no collected rows")
            continue
        t = time.perf_counter()
        want = con.execute(sql).df()
        t1 = time.perf_counter()
        ok, detail = core.compare(got, want)
        core.log(f"check {name}: oracle {t1 - t:.2f}s "
                 f"compare {time.perf_counter() - t1:.2f}s")
        if rows.get(name) != len(got):
            ok, detail = False, f"timed rows {rows.get(name)} != {len(got)}"
        run.check(f"nightly:{name}", ok and len(got) > 0, detail)
    if recipe is not None:
        ok, detail = core.compare(
            recipe, con.execute(recipes.build_training_corpus_sql()).df())
        run.check("nightly:recipe", ok and len(recipe) > 0, detail)
    con.close()
