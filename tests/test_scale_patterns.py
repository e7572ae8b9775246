"""Scale-pattern pins: bucketed co-located joins, QuerySpec on a
stream, Observation-based quality metrics.

These tests document and protect the 100 TB design claims: bucketing
removes the join shuffle entirely; the Telemetry evaluator's
expressions run unchanged under Structured Streaming; per-batch
quality counters ride the main job via Observation instead of a
second scan.
"""

from __future__ import annotations

import contextlib
import io as pyio

from pyspark.sql import Observation
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_twin_rows
from ts_data_pipeline_spark import io
from ts_data_pipeline_spark.plans.queryspec import (
    GroupByTime,
    NumericAggregation,
    QuerySpec,
    evaluate,
)
from ts_data_pipeline_spark.queries.telemetry import events_as_parameter_values


def _plan(df) -> str:
    buf = pyio.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the Exchange:
    the 100 TB co-location strategy for repeated fact-fact joins."""
    orders = io.load(spark, SF_DIR, "orders")
    lineitem = io.load(spark, SF_DIR, "lineitem")
    (
        orders.write.mode("overwrite")
        .option("path", str(tmp_path / "orders_b"))
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("t_orders_b")
    )
    (
        lineitem.write.mode("overwrite")
        .option("path", str(tmp_path / "lineitem_b"))
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("t_lineitem_b")
    )
    # At test SF the sides fit the broadcast threshold, which would
    # bypass the bucketed path entirely — disable it so the plan is
    # the one a 100 TB fact-fact join would get.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try:
        prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        prev_aqe = None
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        joined = ob.join(lb, F.col("o_orderkey") == F.col("l_orderkey")).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_extendedprice").alias("rev"))
        plan = _plan(joined)
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        # No shuffle below the join: bucket layout satisfies the
        # required distribution on both sides.
        assert "Exchange" not in join_section, join_section
        # Sanity: same result as the unbucketed join.
        plain = (
            orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        assert sorted((r.o_orderpriority, round(r.rev, 2)) for r in joined.collect()) == \
               sorted((r.o_orderpriority, round(r.rev, 2)) for r in plain.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_queryspec_expressions_run_streaming(spark, tmp_path):
    """The Telemetry evaluator is expression-only, so the same
    QuerySpec compiles on a streaming input (complete mode here;
    append needs only an upstream watermark)."""
    pv_batch = events_as_parameter_values(io.load(spark, SF_DIR, "events"))
    data_dir = str(tmp_path / "pv")
    pv_batch.write.mode("overwrite").parquet(data_dir)

    spec = QuerySpec(
        numeric_aggregations=[
            NumericAggregation("purchase", "Sum"),
            NumericAggregation("purchase", "Count"),
        ],
        from_ts="2024-01-01 00:00:00",
        to_ts="2024-01-31 00:00:00",
        group_by_time=GroupByTime("1 day"),
    )
    stream = spark.readStream.schema(pv_batch.schema).parquet(data_dir)
    agg = evaluate(stream, spec)
    q = (
        agg.writeStream.format("memory")
        .queryName("t_qs_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.bucket: (r.purchase_sum, r.purchase_count)
        for r in spark.table("t_qs_stream").collect()
    }
    want = {
        r.bucket: (r.purchase_sum, r.purchase_count)
        for r in evaluate(pv_batch, spec).collect()
    }
    assert got == want and len(got) > 0


def test_queryspec_streaming_append_finals(spark, tmp_path):
    """evaluate_stream: append-mode finals for closed buckets equal
    the batch result restricted to those buckets; open buckets are
    withheld (T3)."""
    from ts_data_pipeline_spark.plans.queryspec import evaluate_stream

    pv_batch = events_as_parameter_values(io.load(spark, SF_DIR, "events"))
    data_dir = str(tmp_path / "pv")
    # Two time-ordered files -> the second advances the watermark and
    # closes the first file's buckets.
    from pyspark.sql import Window

    chunks = pv_batch.withColumn("c", F.ntile(2).over(Window.orderBy("ts")))
    for i in (1, 2):
        chunks.filter(F.col("c") == i).drop("c").coalesce(1).write.mode(
            "append"
        ).parquet(data_dir)

    spec = QuerySpec(
        numeric_aggregations=[NumericAggregation("purchase", "Sum")],
        group_by_time=GroupByTime("1 day"),
    )
    stream = (
        spark.readStream.schema(pv_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    agg = evaluate_stream(stream, spec)
    q = (
        agg.writeStream.format("memory")
        .queryName("t_qs_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.bucket: r.purchase_sum for r in spark.table("t_qs_append").collect()}
    want = {r.bucket: r.purchase_sum for r in evaluate(pv_batch, spec).collect()}
    assert len(got) > 0
    for bucket, v in got.items():
        assert want[bucket] == v

    import pytest as _pytest

    with _pytest.raises(ValueError):
        evaluate_stream(stream, QuerySpec(
            numeric_aggregations=[NumericAggregation("purchase", "Sum")],
            from_ts="2024-01-02 00:00:00", to_ts="2024-01-12 00:00:00",
            group_by_time=GroupByTime("1 day", "Linear"),
        ))


def test_salted_sum_matches_plain_groupby(spark):
    """operators/skew.py two-phase salted agg is value-identical to
    the plain single-shuffle groupBy (integer sums are associative;
    the salt only changes physical placement)."""
    from ts_data_pipeline_spark.operators.skew import salted_sum

    li = io.load(spark, SF_DIR, "lineitem")
    plain = {
        (r.l_returnflag,): (r.qty, r.n_rows)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag,): (r.qty, r.n_rows)
        for r in salted_sum(
            li,
            ["l_returnflag"],
            {"qty": F.col("l_quantity").cast("bigint")},
            salt_buckets=8,
        ).collect()
    }
    assert plain == salted


def test_observation_quality_counters(spark):
    """Q1/Q2-style counters via Observation: metrics collected on the
    SAME pass as the main query — no second scan of the input."""
    events = io.load(spark, SF_DIR, "events")
    obs = Observation("quality")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("null_value"),
        F.max("ts").alias("max_ts"),
    )
    result = observed.groupBy("event_type").count().collect()
    metrics = obs.get
    assert metrics["n"] == events.count()
    assert metrics["null_value"] == 0
    assert len(result) == 5


def test_approx_count_distinct_tracks_exact(spark):
    """The A4 'ApproxCountDistinct' aggregation (the 100 TB form of
    CountDistinct: one-pass mergeable HLL++ sketch) must stay within
    5% relative error of the exact distinct count per bucket —
    engine-specific, so pinned here instead of an oracle row."""
    from ts_data_pipeline_spark.plans.queryspec import (
        GroupByTime,
        NumericAggregation,
        QuerySpec,
        evaluate,
    )
    from ts_data_pipeline_spark.queries.telemetry import events_as_parameter_values

    pv = events_as_parameter_values(io.load(spark, SF_DIR, "events"))

    def run(agg):
        spec = QuerySpec(
            numeric_aggregations=[NumericAggregation("click", agg)],
            group_by_time=GroupByTime("1 day"),
        )
        return {
            r["bucket"]: r[f"click_{agg.lower()}"]
            for r in evaluate(pv, spec).collect()
        }

    exact = run("CountDistinct")
    approx = run("ApproxCountDistinct")
    assert set(exact) == set(approx)
    assert exact and all(v > 0 for v in exact.values())
    for b, e in exact.items():
        assert abs(approx[b] - e) / e <= 0.05, (b, e, approx[b])


def test_zscore_anomalies_baseline_excludes_current_point(spark):
    """A single spike in an otherwise-flat series is flagged, its
    baseline never includes itself, and the points AFTER the spike
    are scored against a baseline now containing the spike (so they
    are not falsely flagged)."""
    import datetime as dt

    from ts_data_pipeline_spark.operators import quality as qops

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        v = 100.0 if i == 20 else 10.0 + (i % 3)  # mild wiggle + spike
        rows.append((i, 1, base + dt.timedelta(minutes=i), v))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    got = qops.rolling_zscore_anomalies(
        df, lookback=10, z_threshold=3.0, min_history=5
    ).collect()
    assert [r.event_id for r in got] == [20]
    assert got[0].z > 3.0


def test_approx_percentile_tracks_exact(spark):
    """The documented 100 TB form of P90/P99 (approx_percentile's
    one-pass mergeable sketch) stays within 2% relative error of the
    exact interpolating percentile on the telemetry values."""
    from pyspark.sql import functions as F

    ev = io.load(spark, SF_DIR, "events")
    row = ev.agg(
        F.percentile("value", F.lit(0.9)).alias("exact"),
        F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("approx"),
    ).collect()[0]
    assert row.exact > 0
    assert abs(row.approx - row.exact) / row.exact <= 0.02, row


def test_lookahead_windows_use_incremental_frames(spark):
    """The 'next matching event ahead' lookups (funnel_conversions,
    asof_join direction=forward) must compile to running
    unbounded-PRECEDING frames over a reversed ordering — Spark
    evaluates those incrementally (one buffer update per row) —
    never to an UnboundedFollowing frame, which is recomputed from
    scratch for EVERY row (O(n²) per key; ~10¹⁰ frame evaluations
    for one 100k-event hot key)."""
    import datetime as dt

    from ts_data_pipeline_spark.operators import asof, tsstats

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, i % 3, base + dt.timedelta(minutes=i),
          "view" if i % 2 == 0 else "purchase")
         for i in range(12)],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    fun = tsstats.funnel_conversions(ev, "view", "purchase", 30)
    assert "unboundedfollowing" not in _plan(fun).lower()
    # and the semantics survived the frame reversal
    got = {r.event_id: r.converted for r in fun.collect()}
    assert got[0] and got[6]           # next purchase within 30 min
    assert not got[10]                 # no later purchase for user 1
    assert len(got) == 6               # one row per from-event

    trades = spark.createDataFrame(
        [(1, "A", base + dt.timedelta(minutes=5))],
        "trade_id long, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [("A", base + dt.timedelta(minutes=7), 101.0)],
        "sym string, ts timestamp, bid double",
    )
    fwd = asof.asof_join(
        trades, quotes, key="sym", right_value_cols=["bid"],
        direction="forward",
    )
    assert "unboundedfollowing" not in _plan(fwd).lower()
    assert fwd.collect()[0].bid == 101.0

    # the Linear gap fill's "next non-null ahead" is the same shape
    from ts_data_pipeline_spark.queries.telemetry import (
        telemetry_interp_linear,
    )

    interp = telemetry_interp_linear(spark, SF_DIR)
    assert "unboundedfollowing" not in _plan(interp).lower()


def test_aqe_splits_skewed_join_partitions(spark):
    """SCALE.md leans on AQE skew-join handling for large-large
    joins ('stopword-shingle skew is AQE skew-join territory') —
    this pins that the mechanism actually FIRES here: a join against
    a 90%-hot-key fact, with the skew thresholds tuned to this data
    size, must show skew-split partitions in the final adaptive plan
    (`isSkew=true` / skewed-partition markers in AQEShuffleRead),
    and return exactly the unskewed-equivalent row count."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        # force a sort-merge join: broadcast would bypass skew logic
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # pin the partition count: the assertion expects both small
        # partitions (to coalesce) and a split hot one; an env-tuned
        # session (SPARK_GRAFT_SHUFFLE_PARTITIONS) must not change
        # what this test observes
        conf.set("spark.sql.shuffle.partitions", "32")

        # payloads must be incompressible: skew detection reads the
        # COMPRESSED map-output sizes, and a constant string deflates
        # the hot partition below any threshold (found empirically —
        # with "x"*64 the optimizer only coalesces)
        import random

        rnd = random.Random(1)
        n = 60_000
        fact = spark.createDataFrame(
            [Row(k=(0 if i % 10 != 9 else i % 97),
                 payload="".join(rnd.choices("abcdefghijklmnop", k=96)))
             for i in range(n)]
        ).repartition(8)
        dim = spark.createDataFrame(
            [Row(k=i, label=f"d{i}") for i in range(100)]
        ).repartition(8)

        joined = fact.join(dim, "k")
        # execute THIS dataframe (count() builds a different plan
        # object whose AQE result we could not inspect)
        cnt = len(joined.collect())

        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert "coalesced and skewed" in plan, plan[:2000]

        expect = fact.groupBy("k").count().join(dim, "k").agg(
            F.sum("count")
        ).collect()[0][0]
        assert cnt == expect
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


# ---------------------------------------------------------------------
# Pruning claims as MEASURED I/O (VERDICT r8 #2): PartitionFilters in
# the formatted plan proves the filter's position; these pins prove
# the bytes. scan_metrics sums the executed plan's filesSize/numFiles
# scan metrics (what the Spark UI shows); dir_bytes is the filesystem
# ground truth for what a pruned scan SHOULD have read.
# ---------------------------------------------------------------------


def test_ivf_index_query_bytes_read_equals_probed_cells(spark, tmp_path):
    """The IVF-cell-partitioned index query physically reads ONLY the
    probed cells' bytes: scan filesSize == sum of the probed
    cell=<id>/ directories' file sizes, strictly less than the whole
    codes relation — the nprobe/nlist I/O fraction measured, not
    inferred from the plan."""
    import os

    from ts_data_pipeline_spark.operators import similarity
    from ts_data_pipeline_spark.plans.scanmetrics import (
        dir_bytes,
        scan_metrics,
    )
    from ts_data_pipeline_spark.queries.llmdata import (
        ANN_QUERY_IDS,
        IVFPQ_COARSE_IDS,
        PQ_CODEBOOK_IDS,
    )

    emb = io.load(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivfidx")
    meta = similarity.ivfpq_build_index(
        emb, path, PQ_CODEBOOK_IDS, IVFPQ_COARSE_IDS,
        train_iters=1, coarse_train_iters=1,
    )
    nlist = meta["ivf"]["nlist"]
    qids = [int(ANN_QUERY_IDS[0])]
    nprobe = 2

    # recompute the probe set through the same ranking lane the query
    # uses, so the expectation is exact (cells are NOT equal-sized)
    cents = similarity._read_cents(spark, path)
    probed = sorted({
        int(r["ccid"])
        for r in similarity._cell_ranked(
            similarity._norm3(
                emb.filter(F.col("vec_id").isin(qids)),
                "vec_id", "embedding",
            ),
            cents, "vec_id",
        ).filter(F.col("crk") <= nprobe).select("ccid").collect()
    })
    assert 0 < len(probed) <= nprobe < nlist

    df = similarity.ivfpq_query_index(
        spark, path, emb, qids, k=5, nprobe=nprobe, rerank_factor=4
    )
    codes_dir = os.path.join(path, "codes")
    m = scan_metrics(df, path_contains=codes_dir)
    assert m["num_scans"] >= 1 and m["rows"] > 0
    expected = dir_bytes(codes_dir, [f"cell={c}" for c in probed])
    total = dir_bytes(codes_dir)
    assert m["bytes_read"] == expected > 0
    assert m["bytes_read"] < total
    # the ratio form of the claim (cells are near-balanced on this
    # corpus, so allow 2.5x the uniform-cell expectation)
    assert m["bytes_read"] <= (len(probed) / nlist) * total * 2.5


def test_zorder_rect_bytes_read_equals_planned_dirs(spark, tmp_path):
    """A rectangle query over the Z-ordered layout reads exactly the
    zdir directories zdirs_for_rect planned from the sidecar — the
    directory-skip claim as measured bytes."""
    from ts_data_pipeline_spark.operators import layout
    from ts_data_pipeline_spark.plans.scanmetrics import (
        dir_bytes,
        scan_metrics,
    )
    from ts_data_pipeline_spark.queries.olap import ZORDER_RECT

    orders = io.load(spark, SF_DIR, "orders")
    path = str(tmp_path / "zorders")
    stats = layout.zorder_write(orders, path, "o_custkey", "o_orderkey")
    dirs = layout.zdirs_for_rect(stats, **ZORDER_RECT)

    df = (
        spark.read.parquet(path)
        .filter(F.col("zdir").isin([int(d) for d in dirs]))
        .filter(
            F.col("o_custkey").between(
                ZORDER_RECT["x_lo"], ZORDER_RECT["x_hi"]
            )
            & F.col("o_orderkey").between(
                ZORDER_RECT["y_lo"], ZORDER_RECT["y_hi"]
            )
        )
    )
    m = scan_metrics(df, path_contains=path)
    expected = dir_bytes(path, [f"zdir={d}" for d in dirs])
    total = dir_bytes(path)
    assert m["bytes_read"] == expected > 0
    assert m["bytes_read"] < total
    # the planned rectangle is small vs the (custkey x orderkey) frame
    assert m["bytes_read"] <= 0.5 * total
    # and the pruned scan returns the same rows a full scan would
    full = (
        spark.read.parquet(path)
        .filter(
            F.col("o_custkey").between(
                ZORDER_RECT["x_lo"], ZORDER_RECT["x_hi"]
            )
            & F.col("o_orderkey").between(
                ZORDER_RECT["y_lo"], ZORDER_RECT["y_hi"]
            )
        ).count()
    )
    assert m["rows"] == full > 0


def test_date_partition_bytes_read_equals_one_day(spark, tmp_path):
    """Time-partitioned corpus layout (write_corpus partitionBy day):
    a one-day predicate reads exactly that day directory's bytes —
    the F4 time-range claim at the PARTITION level, measured."""
    from ts_data_pipeline_spark.operators import corpus_io
    from ts_data_pipeline_spark.plans.scanmetrics import (
        dir_bytes,
        scan_metrics,
    )

    events = io.load(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    corpus_io.write_corpus(events, path, partition_by=("day",))

    day = "2024-01-05"
    df = spark.read.parquet(path).filter(F.col("day") == F.lit(day))
    m = scan_metrics(df, path_contains=path)
    expected = dir_bytes(path, [f"day={day}"])
    total = dir_bytes(path)
    assert m["bytes_read"] == expected > 0
    assert m["bytes_read"] < total
    assert m["rows"] == events.filter(F.to_date("ts") == F.lit(day)).count() > 0


def test_clustered_embeddings_deterministic(spark):
    """The mixture-of-Gaussians fixture is a pure column expression
    over salted hashes: same parameters -> bit-identical rows on any
    partitioning (so index-build subtrees may re-derive it)."""
    from ts_data_pipeline_spark.operators.synth import clustered_embeddings

    a = {
        r.vec_id: (r.label, tuple(r.embedding))
        for r in clustered_embeddings(spark, 200, 16, 4, 2.0).collect()
    }
    b = {
        r.vec_id: (r.label, tuple(r.embedding))
        for r in clustered_embeddings(spark, 200, 16, 4, 2.0)
        .repartition(13).collect()
    }
    assert a == b and len(a) == 200
    assert {lab for lab, _ in a.values()} == set(range(4))


def test_clustered_corpus_ivf_pruning_loses_no_recall(spark, tmp_path):
    """On a CLUSTERED corpus (the regime IVF exists for — the
    driver's isotropic table is its worst case), probing 2 of 8 cells
    matches the flat full-scan PQ recall: the coarse quantizer aligns
    with true clusters, so the pruned 1/4 of the corpus contains the
    whole neighborhood. Complements the bytes-read pin above: same
    answers, a quarter of the I/O."""
    from ts_data_pipeline_spark.operators import similarity
    from ts_data_pipeline_spark.operators.synth import clustered_embeddings
    from ts_data_pipeline_spark.queries.llmdata import PQ_CODEBOOK_IDS

    emb = clustered_embeddings(spark, 2000, 64, 8, 4.0)
    qids = list(range(16, 26))
    k = 10
    truth = {
        (r.query_id, r.cand_id)
        for r in similarity.brute_force_topk(emb, qids, k=k).collect()
    }
    path = str(tmp_path / "clustidx")
    similarity.ivfpq_build_index(
        emb, path, PQ_CODEBOOK_IDS, list(range(8)),
        train_iters=3, coarse_train_iters=3,
    )
    pruned = {
        (r.query_id, r.cand_id)
        for r in similarity.ivfpq_query_index(
            spark, path, emb, qids, k=k, nprobe=2, rerank_factor=32
        ).collect()
    }
    flat = {
        (r.query_id, r.cand_id)
        for r in similarity.pq_query_index(
            spark, path, emb, qids, k=k, rerank_factor=32
        ).collect()
    }
    r_pruned = len(truth & pruned) / len(truth)
    r_flat = len(truth & flat) / len(truth)
    assert r_pruned >= r_flat - 0.05
    assert r_pruned >= 0.8


def test_bsign_index_coarse_scan_bytes_are_signature_sized(
    spark, oracle, tmp_path
):
    """The persisted 1-bit signature relation makes the sign-
    quantized coarse pass cheap IN BYTES, measured: the query's scan
    of the signature table reads exactly that table's file bytes, a
    small fraction of the float-vector relation it replaces (2 bigint
    words vs 64 floats per row here), and the index query's answers
    equal the DuckDB twin binary_sign_topk_sql (same packing, same
    tie-breaks)."""
    import os

    from ts_data_pipeline_spark.operators import similarity
    from ts_data_pipeline_spark.plans.scanmetrics import (
        dir_bytes,
        scan_metrics,
    )
    from ts_data_pipeline_spark.queries.llmdata import (
        ANN_QUERY_IDS,
        EMBEDDING_DIM,
    )

    emb = io.load(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "bsignidx")
    meta = similarity.bsign_index_write(emb, path, EMBEDDING_DIM)
    assert meta["n_words"] == 2

    def query():
        return similarity.bsign_query_index(
            spark, path, emb, ANN_QUERY_IDS, k=5, rerank_factor=8
        )

    assert assert_twin_rows(
        query(),
        oracle,
        similarity.binary_sign_topk_sql(
            ANN_QUERY_IDS, EMBEDDING_DIM, k=5, rerank_factor=8
        ),
    )

    sig_dir = os.path.join(path, "signatures")
    df = query()
    m = scan_metrics(df, path_contains=sig_dir)
    sig_bytes = dir_bytes(sig_dir)
    assert m["bytes_read"] == sig_bytes > 0
    # the compression claim, measured at rest: the signature table
    # is a small fraction of the raw embeddings parquet (float-list
    # parquet compresses poorly; allow a loose 0.35 bound — the
    # uncompressed-width ratio is 16/260 ~ 0.06)
    emb_bytes = os.path.getsize(
        os.path.join(SF_DIR, "embeddings.parquet")
    )
    assert sig_bytes < 0.35 * emb_bytes, (sig_bytes, emb_bytes)


def test_prefix_index_query_matches_twin_and_reads_prefix_bytes(
    spark, oracle, tmp_path
):
    """Stored rotated-prefix index (projection AT REST) under the
    power-iteration PCA basis: answers equal the DuckDB twin
    pca_power_prefix_topk_sql, which fits the same basis in SQL, and
    the coarse pass physically reads exactly the narrow prefix
    table's bytes (scanned ONCE — query rows re-literalized), a small
    fraction of the float-vector relation — closing the measured
    query-cost gap the r9 bench published for the on-the-fly
    projection."""
    import os

    from ts_data_pipeline_spark.operators import linalg, similarity
    from ts_data_pipeline_spark.plans.scanmetrics import (
        dir_bytes,
        scan_metrics,
    )
    from ts_data_pipeline_spark.queries.llmdata import (
        ANN_QUERY_IDS,
        EMBEDDING_DIM,
        PCA_POWER_ITERS,
    )

    emb = io.load(spark, SF_DIR, "embeddings")
    comps, mu = linalg.pca_power_basis(
        emb, "embedding", EMBEDDING_DIM, k=16, n_iter=PCA_POWER_ITERS
    )
    path = str(tmp_path / "prefidx")
    meta = similarity.prefix_index_write(emb, path, 16, basis=(comps, mu))
    assert meta["d_prefix"] == 16

    def query():
        return similarity.prefix_query_index(
            spark, path, emb, ANN_QUERY_IDS, k=5, rerank_factor=16
        )

    assert assert_twin_rows(
        query(),
        oracle,
        similarity.pca_power_prefix_topk_sql(
            ANN_QUERY_IDS, EMBEDDING_DIM, 16, n_iter=PCA_POWER_ITERS,
            k=5, rerank_factor=16,
        ),
    )

    pref_dir = os.path.join(path, "prefix")
    df = query()
    m = scan_metrics(df, path_contains=pref_dir)
    pref_bytes = dir_bytes(pref_dir)
    assert m["bytes_read"] == pref_bytes > 0
    emb_bytes = os.path.getsize(
        os.path.join(SF_DIR, "embeddings.parquet")
    )
    # 16 of 64 dims stored as doubles ~ half the float32 width; the
    # loose bound pins the at-rest narrowing without parquet-codec
    # sensitivity
    assert pref_bytes < 0.75 * emb_bytes, (pref_bytes, emb_bytes)
