"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Runs on local[$SPARK_GRAFT_CPUS] (default 32). Each query is timed
end-to-end (plan + execute + count) after a warm-up of the session.
Every query runs RUNS times and reports the per-query MEDIAN (the
"queries" map); value = total of medians. Per-query run-to-run spread
(max - min) is emitted under "spread" so jitter is visible instead of
being mistaken for regressions.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from ts_data_pipeline_spark import registry  # noqa: E402
from ts_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: pinned reference canary (r11's pre canary, BENCH_r11.json): the
#: fixed JVM-agg workload's duration on the host draw every drift
#: adjudication since r11 has normalized against. canary_ratio =
#: this run's pre canary / CANARY_REF_SEC — >1 means a slower host
#: than the reference draw, and queries_norm divides it out.
CANARY_REF_SEC = 0.477

#: pinned reference for the SECOND canary (r14, VERDICT r13 ask #1):
#: the fixed shuffle+local-disk workload's PRE-position duration on
#: the r14 builder host in normal state — measured IN-HARNESS (the
#: same early-session JIT position every future run reads it at; a
#: standalone-session pin read ~17% lower and would bias every ratio
#: high, same convention as CANARY_REF_SEC = r11's in-harness pre).
#: The CPU canary demonstrably under-measures I/O/memory-bandwidth
#: contention (it tracked ~7 points of a ~28% slowdown in r13,
#: BENCH_NOTES) — canary_io_ratio is the host-draw signal for
#: shuffle/scan-bound queries, published alongside canary_ratio so
#: adjudication can match each query's profile.
CANARY_IO_REF_SEC = 2.09

# Headline set: curated, scale-sensitive queries — the SAME 11
# workloads every round so totals stay comparable. Two of them
# (telemetry_interp_linear, dedup_exact) were folded into suite
# registry entries in round 3; the bench still times the member
# queries directly so per-query history lines up with r01/r02.
HEADLINE = [
    "flagship_option_window_agg",   # keyed tumbling window, 25 conditional aggs
    "telemetry_bucket_multi_agg",   # filter pushdown + bucketed multi-agg
    "telemetry_interp_linear",      # spine join + ignore-nulls window fill
    "kafka_wire_roundtrip",         # JSON encode/decode codegen path
    "dedup_exact",                  # hash groupBy dedup
    "dedup_minhash_lsh",            # shingle->minhash->band shuffle joins
    "ann_brute_topk",               # vector dot products + top-k
    "text_quality_features",        # string-function heavy scan
    "join_segment_top_orders",      # large-large shuffle join + rollup
    "asof_trade_quote",             # union+LOCF as-of join
    "pricing_summary",              # TPC-H Q1 wide-agg scan
]


def _resolve():
    """Headline name -> callable; suite members resolve directly."""
    from ts_data_pipeline_spark.queries.llmdata import dedup_exact
    from ts_data_pipeline_spark.queries.telemetry import telemetry_interp_linear

    extra = {
        "telemetry_interp_linear": telemetry_interp_linear,
        "dedup_exact": dedup_exact,
    }
    queries = registry.all_queries()
    out = {}
    for name in HEADLINE:
        fn = queries.get(name) or extra.get(name)
        if fn is None:
            print(f"# missing headline query: {name}", file=sys.stderr)
            continue
        out[name] = fn
    return out


def _skew_stress(spark) -> dict:
    """Time the flagship window agg on a hot-key input, unsalted vs
    salted (salt_buckets=8). Returns per-variant median seconds."""
    from pyspark.sql import functions as F

    from ts_data_pipeline_spark import io
    from ts_data_pipeline_spark.operators import trades, window_agg

    try:
        events = io.load(spark, SF_DIR, "events")
        # 80% of rows onto one symbol: the market-open hot key.
        hot = events.withColumn(
            "user_id",
            F.when(F.pmod("user_id", F.lit(5)) < 4, F.lit(1)).otherwise(
                F.col("user_id")
            ),
        )
        enriched = trades.events_as_option_trades(hot)
        from ts_data_pipeline_spark.operators import skew

        # join-side twin of the same trade: the hot-key events joined
        # to a per-user dim, plain hash join vs salted_join. AQE's
        # skew split usually absorbs this locally — the pair makes
        # the crossover a measured number (SCALE.md skew section).
        dim = (
            events.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        variants = {
            "flagship_hotkey_unsalted": lambda: window_agg.option_window_agg(enriched),
            "flagship_hotkey_salted": lambda: window_agg.option_window_agg(
                enriched, salt_buckets=8
            ),
            "join_hotkey_plain": lambda: hot.join(dim, "user_id")
            .groupBy("event_type")
            .count(),
            "join_hotkey_salted": lambda: skew.salted_join(
                hot, dim, ["user_id"], salt_buckets=8
            )
            .groupBy("event_type")
            .count(),
        }
        out = {}
        for name, mk in variants.items():
            mk().count()  # warm
            ts = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                mk().count()
                ts.append(time.perf_counter() - t0)
            out[name] = round(statistics.median(ts), 3)
        return out
    except Exception as exc:  # never let the stress section kill the artifact
        print(f"# skew stress failed: {exc}", file=sys.stderr)
        return {}


def _extras(spark) -> dict:
    """Round-5 operators, timed at SF_DIR (separate section — NOT in
    the headline total, which stays comparable across rounds)."""
    from ts_data_pipeline_spark import io as _io
    from ts_data_pipeline_spark.operators import similarity
    from ts_data_pipeline_spark.queries.llmdata import (
        ANN_QUERY_IDS,
        EMBEDDING_DIM,
        LSH_PLANE_IDS,
        bm25_topk,
        heavy_hitters,
    )
    from ts_data_pipeline_spark.queries.llmdata import vocab_coverage_curve
    from ts_data_pipeline_spark.queries.quality import (
        source_kl_drift,
        zscore_anomalies,
    )
    from ts_data_pipeline_spark.queries.timeseries import (
        cusum_drift_summary,
        drawdown_risk_features,
        funnel_multistage,
        rollup_multires,
    )
    from ts_data_pipeline_spark.queries.llmdata import (
        count_min_sketch,
        embedding_gram,
        inverted_index_build,
        quality_lr_trained,
    )
    from ts_data_pipeline_spark.queries.olap import zorder_zone_map
    from ts_data_pipeline_spark.queries.relational import bloom_semi_orders

    def ann_sq8(spark, sf_dir):
        return similarity.sq8_topk(
            _io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, EMBEDDING_DIM, k=5
        )

    def ann_multiprobe(spark, sf_dir):
        return similarity.lsh_multiprobe_topk(
            _io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, LSH_PLANE_IDS, k=5
        )

    def plain_semi_orders(spark, sf_dir):
        # the un-bloomed twin of bloom_semi_orders, timed so the
        # runtime-filter's local cost/benefit is a published number
        # (locally the extra build job usually LOSES — the win is
        # cluster shuffle bytes, same honesty as the salted join)
        from pyspark.sql import functions as FF

        building = _io.load(spark, sf_dir, "customer").filter(
            FF.col("c_mktsegment") == "BUILDING"
        ).select("c_custkey")
        return _io.load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).join(
            building,
            FF.col("o_custkey") == FF.col("c_custkey"),
            "left_semi",
        )

    def recipe_build_corpus(spark, sf_dir, stage_times=None):
        # the composed end-to-end recipe in the GATE's full r13
        # configuration (URL dedup -> charset repair -> HTML ->
        # line dedup -> decontamination -> gates -> ppl tail-drop ->
        # near-dup -> SemDeDup -> source+domain quotas -> resample ->
        # shuffle -> pack), timed so the composition cost is a
        # wall-clock number at bench SF. NOTE: before r13 this row
        # ran the bare r8 config (no front door) — values are not
        # comparable across that boundary.
        from ts_data_pipeline_spark import recipes
        from ts_data_pipeline_spark.queries.llmdata import (
            KMEANS_SEED_IDS,
            RECIPE_DECON_N,
            RECIPE_DECON_THRESHOLD,
            RECIPE_DOMAIN_CAP,
            RECIPE_DOMAIN_MEGA,
        )

        return recipes.build_training_corpus(
            _io.load(spark, sf_dir, "documents"),
            embeddings=_io.load(spark, sf_dir, "embeddings"),
            semdedup_seeds=KMEANS_SEED_IDS,
            source_cap=5000,
            domain_cap=RECIPE_DOMAIN_CAP * 100,
            domain_quota_mega_threshold=RECIPE_DOMAIN_MEGA,
            html_input=True,
            url_dedup=True,
            line_dedup_max=2,
            charset_input=True,
            decontaminate_n=RECIPE_DECON_N,
            decontaminate_threshold=RECIPE_DECON_THRESHOLD,
            stage_times=stage_times,
        )

    # PQ deployment split (r7): deployment trains once at build and
    # queries the persisted index. Publish both halves so the
    # amortization claim is measured.
    # r8: the shared index is the IVF-cell-PARTITIONED one — the flat
    # PQ query scans all its partitions, the ivfpq query prunes to the
    # probed cells, so the layout's I/O claim is a measured delta.
    _pq_idx: dict[str, str] = {}

    def _pq_index_path(spark, sf_dir):
        import tempfile

        from ts_data_pipeline_spark.queries.llmdata import (
            IVFPQ_COARSE_IDS,
            IVFPQ_COARSE_ITERS,
            PQ_CODEBOOK_IDS,
            PQ_TRAIN_ITERS,
        )

        if sf_dir not in _pq_idx:
            path = tempfile.mkdtemp(prefix="tsdp_pqidx_bench_")
            similarity.ivfpq_build_index(
                _io.load(spark, sf_dir, "embeddings"), path,
                PQ_CODEBOOK_IDS, IVFPQ_COARSE_IDS,
                train_iters=PQ_TRAIN_ITERS,
                coarse_train_iters=IVFPQ_COARSE_ITERS,
            )
            _pq_idx[sf_dir] = path
        return _pq_idx[sf_dir]

    def ann_pq_index_build(spark, sf_dir):
        # fresh build per timed run: the one-time train+encode+write.
        # The dir is consumed (count) and removed INSIDE the timed
        # body — leaving corpus-sized codes parquet under /tmp per
        # bench invocation would accumulate until the disk fills.
        import shutil
        import tempfile

        from ts_data_pipeline_spark.queries.llmdata import (
            PQ_CODEBOOK_IDS,
            PQ_TRAIN_ITERS,
        )

        path = tempfile.mkdtemp(prefix="tsdp_pqidx_build_")
        try:
            similarity.pq_build_index(
                _io.load(spark, sf_dir, "embeddings"), path,
                PQ_CODEBOOK_IDS, train_iters=PQ_TRAIN_ITERS,
            )
            n = spark.read.parquet(path + "/codes").count()
        finally:
            shutil.rmtree(path, ignore_errors=True)
        return spark.range(n)

    def ann_pq_index_query(spark, sf_dir):
        # the deployed steady state: query the persisted trained
        # index (built once in the warm call via _pq_index_path) —
        # flat PQ semantics, scans every cell partition
        from ts_data_pipeline_spark.queries.llmdata import (
            PQ_RERANK_FACTOR,
        )

        return similarity.pq_query_index(
            spark, _pq_index_path(spark, sf_dir),
            _io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=5,
            rerank_factor=PQ_RERANK_FACTOR,
        )

    def ann_ivfpq_index_query(spark, sf_dir):
        # the SAME index, cell-pruned: PartitionFilters restrict the
        # codes scan to the probed cells — this row vs
        # ann_pq_index_query is the storage-layout win as a number
        from ts_data_pipeline_spark.queries.llmdata import (
            IVFPQ_NPROBE,
            PQ_RERANK_FACTOR,
        )

        return similarity.ivfpq_query_index(
            spark, _pq_index_path(spark, sf_dir),
            _io.load(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=5,
            nprobe=IVFPQ_NPROBE, rerank_factor=PQ_RERANK_FACTOR,
        )

    def substring_dedup(spark, sf_dir):
        from ts_data_pipeline_spark.operators import dedup as dedup_ops
        from ts_data_pipeline_spark.queries.llmdata import SUBSTR_DEDUP_K

        return dedup_ops.substring_dedup_stats(
            _io.load(spark, sf_dir, "documents"), k=SUBSTR_DEDUP_K
        )

    def dedup_pagerank(spark, sf_dir):
        from ts_data_pipeline_spark.queries.llmdata import (
            dedup_pagerank as _pr,
        )

        return _pr(spark, sf_dir)

    def lexical_stats(spark, sf_dir):
        from ts_data_pipeline_spark.queries.llmdata import (
            lexical_stats as _lx,
        )

        return _lx(spark, sf_dir)

    def summary_state_merge(spark, sf_dir):
        from ts_data_pipeline_spark.queries.quality import (
            summary_state_merge as _ss,
        )

        return _ss(spark, sf_dir)

    def cep_streaming_funnel(spark, sf_dir):
        # the registered streaming-CEP gate run end-to-end at bench
        # SF: 4-micro-batch replay of the full events table through
        # applyInPandasWithState to availableNow completion — the
        # published throughput/latency point for CEP (r6 ask #8)
        from ts_data_pipeline_spark.queries.streaming import (
            streaming_funnel_finals,
        )

        return streaming_funnel_finals(spark, sf_dir)

    # r16 (VERDICT r15 ask #7): the cep row swung 17-56 s across
    # identical-code runs — one opaque number per round is not
    # attributable. A StreamingQueryListener captures per-micro-batch
    # durations (triggerExecution ms per batchId) during the SAME
    # timed run, so a future regression names its batch (state load?
    # first-batch Python worker spin-up? tail batch?) instead of
    # moving one blended total. Additive: the timed body is unchanged.
    cep_batches: list = []
    cep_ids: set = set()
    try:
        from pyspark.sql.streaming import StreamingQueryListener

        class _CepListener(StreamingQueryListener):
            # Other streams' batchIds also start at 0: keep only the
            # progress of the cep_streaming_funnel query (its replay
            # gate names it tsdp_cep_<hex>).
            def onQueryStarted(self, event):
                if (event.name or "").startswith("tsdp_cep_"):
                    cep_ids.add(str(event.id))

            def onQueryProgress(self, event):
                try:
                    p = event.progress
                    if str(p.id) in cep_ids:
                        cep_batches.append(
                            (p.batchId, p.durationMs.get("triggerExecution"))
                        )
                except Exception:
                    pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        _cep_listener = _CepListener()
        spark.streams.addListener(_cep_listener)
    except Exception as exc:
        _cep_listener = None
        print(f"# cep listener unavailable: {exc}", file=sys.stderr)

    extra = {
        "recipe_build_corpus": recipe_build_corpus,
        "cep_streaming_funnel": cep_streaming_funnel,
        "rollup_multires": rollup_multires,
        "bm25_topk": bm25_topk,
        "heavy_hitters": heavy_hitters,
        "zscore_anomalies": zscore_anomalies,
        "ann_sq8_topk": ann_sq8,
        "ann_lsh_multiprobe": ann_multiprobe,
        "ann_pq_index_build": ann_pq_index_build,
        "ann_pq_index_query": ann_pq_index_query,
        "ann_ivfpq_index_query": ann_ivfpq_index_query,
        "substring_dedup_stats": substring_dedup,
        # round-6 additions
        "cusum_drift_summary": cusum_drift_summary,
        "drawdown_risk_features": drawdown_risk_features,
        "vocab_coverage_curve": vocab_coverage_curve,
        "source_kl_drift": source_kl_drift,
        "funnel_multistage": funnel_multistage,
        # round-6 second batch
        "count_min_sketch": count_min_sketch,
        "embedding_gram": embedding_gram,
        "inverted_index_build": inverted_index_build,
        "quality_lr_trained": quality_lr_trained,
        "bloom_semi_orders": bloom_semi_orders,
        "plain_semi_orders": plain_semi_orders,
        "zorder_zone_map": zorder_zone_map,
        # round-8 additions
        "dedup_pagerank": dedup_pagerank,
        "lexical_stats": lexical_stats,
        "summary_state_merge": summary_state_merge,
    }
    # The composed recipe runs ~60 s at sf0.1 — a warmed median-of-3
    # would triple the bench budget for one number, so it is timed as
    # ONE un-warmed end-to-end run (the honest deployment shape: a
    # corpus build executes once, not hot-in-cache).
    single_run = {
        "recipe_build_corpus", "cep_streaming_funnel",
        "ann_pq_index_build",
    }
    out = {}
    for name, fn in extra.items():
        try:
            runs = 1 if name in single_run else RUNS
            if name not in single_run:
                fn(spark, SF_DIR).count()  # warm
            ts = []
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).count()
                ts.append(time.perf_counter() - t0)
            out[name] = round(statistics.median(ts), 3)
        except Exception as exc:  # never kill the artifact
            print(f"# extras {name} failed: {exc}", file=sys.stderr)
    if _cep_listener is not None:
        try:
            spark.streams.removeListener(_cep_listener)
        except Exception:
            pass
        if cep_batches:
            out["cep_funnel_batch_ms"] = {
                f"b{bid}": ms for bid, ms in cep_batches if ms is not None
            }
    # Per-stage attribution for the composed recipe (r15, VERDICT
    # r14 ask #5): a SECOND, instrumented run with localCheckpoint
    # barriers at every named stage. The barriers change the plan
    # (no cross-stage fusion), so the instrumented total is an upper
    # bound on the recipe_build_corpus row above — published side by
    # side, never mixed, so a future stage regression is attributable
    # to its stage instead of being one opaque delta.
    try:
        stage_times: dict = {}
        t0 = time.perf_counter()
        recipe_build_corpus(spark, SF_DIR, stage_times).count()
        total = time.perf_counter() - t0
        stage_times["shuffle_pack_tail"] = round(
            total - sum(stage_times.values()), 3
        )
        out["recipe_stage_times"] = stage_times
        out["recipe_instrumented_total"] = round(total, 3)
    except Exception as exc:
        print(f"# recipe stage times failed: {exc}", file=sys.stderr)
    if "cep_streaming_funnel" in out:
        # derived throughput: whole-table replay events per second
        n_ev = _io.load(spark, SF_DIR, "events").count()
        out["cep_streaming_funnel_events_per_s"] = round(
            n_ev / out["cep_streaming_funnel"]
        )
    # Measured I/O fraction of the cell-pruned index query — the
    # claim the partitioned layout exists to make, as executed-plan
    # scan bytes over the codes relation's on-disk size (r8 verdict:
    # plan-pinned -> metric-pinned). PER-QUERY fractions: a 10-query
    # batch at nprobe=6/nlist=8 unions to every cell (frac 1.0 —
    # true but not the claim); the deployment number is what ONE
    # query reads, at the registered operating point and at the
    # low-probe curve point.
    try:
        from ts_data_pipeline_spark.plans.scanmetrics import (
            dir_bytes,
            scan_metrics,
        )
        from ts_data_pipeline_spark.queries.llmdata import (
            IVFPQ_NPROBE,
            PQ_RERANK_FACTOR,
        )

        if SF_DIR in _pq_idx:
            idx = _pq_idx[SF_DIR]
            codes = os.path.join(idx, "codes")
            total = dir_bytes(codes)
            emb1 = _io.load(spark, SF_DIR, "embeddings")
            # empty/missing codes (a failed earlier build) -> nothing
            # to normalize by; skip BEFORE paying the two query
            # executions (r9 review finding)
            for label, np_ in (() if not total else (
                ("ivf_codes_bytes_read_frac_1q", IVFPQ_NPROBE),
                ("ivf_codes_bytes_read_frac_1q_nprobe2", 2),
            )):
                m = scan_metrics(
                    similarity.ivfpq_query_index(
                        spark, idx, emb1, ANN_QUERY_IDS[:1], k=5,
                        nprobe=np_, rerank_factor=PQ_RERANK_FACTOR,
                    ),
                    path_contains=codes,
                )
                out[label] = round(m["bytes_read"] / total, 4)
    except Exception as exc:
        print(f"# ivf bytes frac failed: {exc}", file=sys.stderr)
    # the reusable query-many index served its last timed run; don't
    # leave corpus-sized codes parquet in /tmp per bench invocation
    import shutil

    for path in _pq_idx.values():
        shutil.rmtree(path, ignore_errors=True)
    return out


def _sink_stress(spark) -> dict:
    """Measured number for the bucket-scoped upsert sink claim: time
    a 5-key micro-batch merged into a 100k-row keyed state with 64
    hash buckets (rewrites only the <=5 touched buckets) vs
    n_buckets=1 (the r5 full-state rewrite, kept as the degenerate
    configuration). Median over RUNS distinct batch ids — each
    iteration is a fresh commit, the deployment shape.

    Two metrics per configuration: seconds AND bytes physically
    written by the last commit. At this SF the state is small enough
    that the bucketed path's fixed overhead (per-bucket reads + the
    touched-bucket probe job) can exceed the cost of just rewriting
    everything — the same crossover as the salted flagship (SCALE.md)
    — while the BYTES ratio is the structural claim that scales:
    I/O proportional to touched buckets, not to the table."""
    import datetime as dt
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ts_data_pipeline_spark import io as _io
    from ts_data_pipeline_spark.streaming import upsert_sink

    try:
        ev = _io.load(spark, SF_DIR, "events").select(
            F.col("event_id").alias("key"), "ts", F.col("value").alias("val")
        )
        batch = ev.orderBy("key").limit(5).withColumn(
            "ts", F.lit(dt.datetime(2030, 1, 1)).cast("timestamp")
        )
        out = {}
        for label, nb in (("bucketed64", 64), ("full_rewrite", 1)):
            d = tempfile.mkdtemp(prefix="sinkbench_")
            upsert_sink.upsert_batch(
                spark, d, ev, 0, key_col="key", ts_col="ts", n_buckets=nb
            )
            ts = []
            for i in range(RUNS):
                t0 = time.perf_counter()
                upsert_sink.upsert_batch(
                    spark, d, batch, i + 1, key_col="key", ts_col="ts"
                )
                ts.append(time.perf_counter() - t0)
            out[f"upsert_5key_into_100k_{label}"] = round(
                statistics.median(ts), 3
            )
            last = os.path.join(d, f"b{RUNS}")
            out[f"upsert_write_bytes_{label}"] = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(last)
                for f in files
            )
            shutil.rmtree(d, ignore_errors=True)
        return out
    except Exception as exc:  # never let the stress section kill the artifact
        print(f"# sink stress failed: {exc}", file=sys.stderr)
        return {}


def _prune_metrics(spark) -> dict:
    """Published effectiveness numbers for the round-6 pruning
    operators (ratios, not seconds — the claims these structures
    exist to make): the bloom filter's fact-side survivor fraction
    and the Z-order zone map's cell skip fraction for the registered
    rectangle."""
    try:
        from ts_data_pipeline_spark import io as _io
        from ts_data_pipeline_spark.operators import bloom, layout
        from ts_data_pipeline_spark.queries.olap import ZORDER_RECT

        orders = _io.load(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_custkey"
        )
        building = _io.load(spark, SF_DIR, "customer").filter(
            "c_mktsegment = 'BUILDING'"
        )
        from pyspark.sql import functions as F

        words = bloom.bloom_build_words(building, "cast(c_custkey as string)")
        survivors = bloom.bloom_prune(
            orders, words, "cast(o_custkey as string)"
        ).count()
        total = orders.count()  # second scan is a cheap 2-col count

        zm = layout.zone_map_prune(
            _io.load(spark, SF_DIR, "orders"),
            "o_custkey", "o_orderkey", **ZORDER_RECT,
        ).agg(
            F.count(F.lit(1)).alias("cells"),
            F.sum(F.col("scanned").cast("int")).alias("scanned"),
        ).collect()[0]
        res = {
            "bloom_fact_survivor_frac": round(survivors / total, 4),
            "zorder_cells_skipped_frac": round(
                1 - zm["scanned"] / zm["cells"], 4
            ),
        }
        # The PHYSICAL form of the zone-map claim (r8 verdict:
        # metric-pin pruning): write the Z-ordered layout, query the
        # registered rectangle through the sidecar-planned zdir
        # IN-list, and report executed-plan scan bytes over the
        # layout's on-disk size. Own try/except (r9 advisor): a
        # failure here must not discard the already-computed bloom /
        # zone-map fractions above.
        try:
            import shutil
            import tempfile

            from ts_data_pipeline_spark.plans.scanmetrics import (
                dir_bytes,
                scan_metrics,
            )

            zdir_path = tempfile.mkdtemp(prefix="tsdp_zorder_bench_")
            try:
                stats = layout.zorder_write(
                    _io.load(spark, SF_DIR, "orders"), zdir_path,
                    "o_custkey", "o_orderkey",
                )
                dirs = layout.zdirs_for_rect(stats, **ZORDER_RECT)
                pruned = spark.read.parquet(zdir_path).filter(
                    F.col("zdir").isin([int(d) for d in dirs])
                ).filter(
                    F.col("o_custkey").between(
                        ZORDER_RECT["x_lo"], ZORDER_RECT["x_hi"]
                    )
                    & F.col("o_orderkey").between(
                        ZORDER_RECT["y_lo"], ZORDER_RECT["y_hi"]
                    )
                )
                m = scan_metrics(pruned, path_contains=zdir_path)
                zt = dir_bytes(zdir_path)
                if zt:
                    res["zorder_bytes_read_frac"] = round(
                        m["bytes_read"] / zt, 4
                    )
            finally:
                shutil.rmtree(zdir_path, ignore_errors=True)
        except Exception as exc:
            print(f"# zorder bytes-read metric failed: {exc}",
                  file=sys.stderr)
        return res
    except Exception as exc:
        print(f"# prune metrics failed: {exc}", file=sys.stderr)
        return {}


def _recall(spark) -> dict:
    """Measured recall@10 vs exact brute force at SF_DIR for every
    approximate ANN variant — so the recall-vs-cost tradeoff the
    extras time is a PUBLISHED number, not a pytest-only claim at
    sf0.001. Result sets are |queries| x k rows (100 here), so the
    driver-side set compare is broadcast-dim-sized by construction."""
    from ts_data_pipeline_spark import io as _io
    from ts_data_pipeline_spark.operators import linalg, similarity
    from ts_data_pipeline_spark.queries.llmdata import (
        ANN_QUERY_IDS,
        BSIGN_RERANK_FACTOR,
        EMBEDDING_DIM,
        IVFPQ_COARSE_IDS,
        IVFPQ_COARSE_ITERS,
        IVFPQ_NPROBE,
        LSH_PLANE_IDS,
        PQ_CODEBOOK_IDS,
        PQ_RERANK_FACTOR,
        PQ_TRAIN_ITERS,
    )
    from ts_data_pipeline_spark.queries.timeseries import IVF_CENTROID_IDS

    import shutil
    import tempfile

    idx = None
    try:
        emb = _io.load(spark, SF_DIR, "embeddings")
        k = 10
        truth = {
            (r.query_id, r.cand_id)
            for r in similarity.brute_force_topk(
                emb, ANN_QUERY_IDS, k=k
            ).collect()
        }
        # ONE trained cell-partitioned index serves every trained
        # pq/ivfpq recall point (train once, sweep cheaply); the
        # recall-vs-cost CURVE below is the r7 ask #2 artifact:
        # nprobe x rerank_factor under fixed training.
        idx = tempfile.mkdtemp(prefix="tsdp_recall_idx_")
        # every other index is written once here too, its write timed
        # apart from the recall_cost_sec query rows (*_store_sec)
        write_sec = {}

        def write(name, build):
            path = os.path.join(idx, name)
            t0 = time.perf_counter()
            build(path)
            write_sec[f"{name}_store_sec"] = round(
                time.perf_counter() - t0, 3
            )
            return path

        pq_sampled = write(
            "pq_sampled",
            lambda p: similarity.pq_build_index(emb, p, PQ_CODEBOOK_IDS),
        )
        prefix_raw = {
            d: write(
                f"mrl_prefix{d}",
                lambda p, d=d: similarity.prefix_index_write(
                    emb, p, d,
                    basis=(
                        [[1.0 if j == i else 0.0
                          for j in range(EMBEDDING_DIM)]
                         for i in range(d)],
                        [0.0] * EMBEDDING_DIM,
                    ),
                ),
            )
            for d in (16, 32)
        }
        bsign64 = write(
            "bsign64",
            lambda p: similarity.bsign_index_write(emb, p, EMBEDDING_DIM),
        )
        similarity.ivfpq_build_index(
            emb, idx, PQ_CODEBOOK_IDS, IVFPQ_COARSE_IDS,
            train_iters=PQ_TRAIN_ITERS,
            coarse_train_iters=IVFPQ_COARSE_ITERS,
        )
        # the residual (IVFADC) twin on THIS near-isotropic corpus —
        # published as the honest negative (residual variance is
        # ~2x the unit cloud's here, so it measures BELOW the raw
        # encoding; the clustered sweep shows where it wins)
        idx_r = os.path.join(idx, "residual_twin")
        similarity.ivfpq_build_index(
            emb, idx_r, PQ_CODEBOOK_IDS, IVFPQ_COARSE_IDS,
            train_iters=PQ_TRAIN_ITERS,
            coarse_train_iters=IVFPQ_COARSE_ITERS,
            residual=True,
        )
        approx = {
            "lsh_bucketed": similarity.lsh_bucketed_topk(
                emb, ANN_QUERY_IDS, LSH_PLANE_IDS, k=k
            ),
            "lsh_multiprobe": similarity.lsh_multiprobe_topk(
                emb, ANN_QUERY_IDS, LSH_PLANE_IDS, k=k
            ),
            "ivf_nprobe2": similarity.ivf_topk(
                emb, ANN_QUERY_IDS, IVF_CENTROID_IDS, k=k, nprobe=2
            ),
            "ivf_nprobe4": similarity.ivf_topk(
                emb, ANN_QUERY_IDS, IVF_CENTROID_IDS, k=k, nprobe=4
            ),
            "sq8_rerank": similarity.sq8_topk(
                emb, ANN_QUERY_IDS, EMBEDDING_DIM, k=k
            ),
            # the registered flat-PQ operating point (trained
            # codebooks, shortlist rerank_factor*k)
            "pq_rerank": similarity.pq_query_index(
                spark, idx, emb, ANN_QUERY_IDS, k=k,
                rerank_factor=PQ_RERANK_FACTOR,
            ),
            # the r6 default (sampled codebooks, shortlist 4k), kept
            # published so the training win is a measured delta
            "pq_rerank_sampled": similarity.pq_query_index(
                spark, pq_sampled, emb, ANN_QUERY_IDS, k=k
            ),
            # the r7 operating point, kept so the r8 movement is a
            # published delta; and the r8 REGISTERED point
            "ivfpq_nprobe4_rf16": similarity.ivfpq_query_index(
                spark, idx, emb, ANN_QUERY_IDS, k=k,
                nprobe=4, rerank_factor=16,
            ),
            "ivfpq_nprobe6_rf16": similarity.ivfpq_query_index(
                spark, idx, emb, ANN_QUERY_IDS, k=k,
                nprobe=6, rerank_factor=16,
            ),
            "ivfpq_nprobe4_rf32": similarity.ivfpq_query_index(
                spark, idx, emb, ANN_QUERY_IDS, k=k,
                nprobe=4, rerank_factor=32,
            ),
            "ivfpq_registered": similarity.ivfpq_query_index(
                spark, idx, emb, ANN_QUERY_IDS, k=k,
                nprobe=IVFPQ_NPROBE, rerank_factor=PQ_RERANK_FACTOR,
            ),
            "ivfpq_residual": similarity.ivfpq_query_index(
                spark, idx_r, emb, ANN_QUERY_IDS, k=k,
                nprobe=IVFPQ_NPROBE, rerank_factor=PQ_RERANK_FACTOR,
            ),
            # Matryoshka-style prefix scoring (the raw slice, stored
            # under the identity basis) on GENERIC (non-MRL)
            # embeddings — the published number is the honest caveat
            "mrl_prefix16": similarity.prefix_query_index(
                spark, prefix_raw[16], emb, ANN_QUERY_IDS, k=k,
                rerank_factor=8,
            ),
            "mrl_prefix32": similarity.prefix_query_index(
                spark, prefix_raw[32], emb, ANN_QUERY_IDS, k=k,
                rerank_factor=8,
            ),
            # r10: the 1-bit extreme of the quantization family —
            # 64 sign bits/vector (32x compression), hamming
            # shortlist, exact re-rank (the registered bsign leg's
            # operating point)
            "bsign_rf32": similarity.bsign_query_index(
                spark, bsign64, emb, ANN_QUERY_IDS, k=k,
                rerank_factor=BSIGN_RERANK_FACTOR,
            ),
            "bsign_rf16": similarity.bsign_query_index(
                spark, bsign64, emb, ANN_QUERY_IDS, k=k,
                rerank_factor=16,
            ),
        }
        # r11 (VERDICT r10 ask #3): the corpus-size signature rule —
        # bits grow one dim-block per 4x corpus above the 500-row
        # anchor (128 bits here at sf0.1's 2000 rows), pair-difference
        # hyperplane normals, queried through the PERSISTED signature
        # relation. Published next to the fixed-64-bit rows so the
        # closed recall cliff is a measured delta, with the build
        # time split out (train-once/query-many convention).
        from ts_data_pipeline_spark.queries.llmdata import (
            BSIGN_PLANE_START,
        )

        n_corpus = emb.count()
        rule_bits = similarity.bsign_bits_rule(n_corpus, EMBEDDING_DIM)
        bsidx = write(
            "bsign_rule",
            lambda p: similarity.bsign_index_write(
                emb, p, EMBEDDING_DIM,
                plane_pairs=similarity.bsign_plane_pairs(
                    rule_bits - EMBEDDING_DIM, BSIGN_PLANE_START
                ),
            ),
        )
        approx[f"bsign_rule{rule_bits}_rf32"] = similarity.bsign_query_index(
            spark, bsidx, emb, ANN_QUERY_IDS, k=k,
            rerank_factor=BSIGN_RERANK_FACTOR,
        )
        # r9: the same truncation AFTER a learned PCA rotation (the
        # standard fix for untrained prefixes) — recall published
        # next to the raw slice. ONE k=32 basis fit serves both
        # prefixes (top-16 = first 16 rows of top-32); d=16 runs at
        # rerank_factor=16, the measured >=0.6 operating point
        # (0.47 at rf=8 — these near-isotropic embeddings leave any
        # rotation little to recover; the shortlist is the lever).
        # r10 (VERDICT r9 ask #4): publish the train-once/query-many
        # SPLIT the way the PQ index rows do — the fit is timed ONCE
        # as mrl_pca_fit_sec, persisted as a sidecar beside the IVF
        # index, each projected prefix is stored once (timed apart),
        # and the recall_cost rows time queries of the stored prefix
        # (the deployed steady state).
        t0 = time.perf_counter()
        _comps, _vals, _mu = linalg.pca_components(
            emb, "embedding", EMBEDDING_DIM, k=32
        )
        fit_sec = time.perf_counter() - t0
        basis_path = os.path.join(idx, "_pca_basis.json")
        linalg.pca_basis_write(basis_path, _comps, _vals, _mu)
        pidx32 = write(
            "mrl_prefix32_pca",
            lambda p: similarity.prefix_index_write(
                emb, p, 32, basis_path=basis_path
            ),
        )
        approx["mrl_prefix32_pca"] = similarity.prefix_query_index(
            spark, pidx32, emb, ANN_QUERY_IDS, k=k, rerank_factor=8
        )
        # r10: projection AT REST — the stored narrow prefix relation
        # removes the per-query projection entirely (the build is
        # timed separately, the PQ-index convention); the query row
        # below is the steady-state cost the r9 VERDICT asked to get
        # within ~1.5x of the raw slice
        pidx = write(
            "mrl_prefix",
            lambda p: similarity.prefix_index_write(
                emb, p, 16, basis_path=basis_path
            ),
        )
        approx["mrl_prefix16_pca_stored"] = similarity.prefix_query_index(
            spark, pidx, emb, ANN_QUERY_IDS, k=k, rerank_factor=16
        )
        out = {
            "mrl_pca_fit_sec": round(fit_sec, 3),
            "bsign_rule_bits": rule_bits,
            **write_sec,
        }
        for name, df in approx.items():
            t0 = time.perf_counter()
            got = {(r.query_id, r.cand_id) for r in df.collect()}
            dt = time.perf_counter() - t0
            out[f"recall_at_{k}_{name}"] = round(
                len(truth & got) / len(truth), 3
            )
            # the cost row of the recall-vs-cost curve (single run —
            # the recall section is about operating points, not
            # steady-state medians)
            out[f"recall_cost_sec_{name}"] = round(dt, 3)
        return out
    except Exception as exc:  # never let recall kill the artifact
        print(f"# recall section failed: {exc}", file=sys.stderr)
        return {}
    finally:
        if idx is not None:
            shutil.rmtree(idx, ignore_errors=True)


def _clustered_ivf(spark) -> dict:
    """VERDICT r8 #3: measure the IVF claim in the regime it exists
    for. The driver's embeddings table is isotropic — coarse cells
    carry no neighborhood information, so recall tracks the probed
    fraction and the r8 curve honestly showed nlist=16 losing. Real
    embedding corpora are clustered. This sweep runs the SAME trained
    IVFPQ pipeline over the deterministic mixture-of-Gaussians
    fixture (operators/synth.py) at cluster separations 0 (isotropic
    control), 1 (weak), and 4 (real-corpus-like), nlist=16/nprobe=4 —
    a 4x I/O cut — publishing recall@10, the pruned-vs-flat query
    seconds over the same persisted index (the crossover), and the
    measured per-query codes bytes fraction."""
    import os
    import shutil
    import tempfile

    from ts_data_pipeline_spark.operators import similarity
    from ts_data_pipeline_spark.operators.synth import clustered_embeddings
    from ts_data_pipeline_spark.plans.scanmetrics import (
        dir_bytes,
        scan_metrics,
    )
    from ts_data_pipeline_spark.queries.llmdata import PQ_CODEBOOK_IDS

    n, dim, nlist, nprobe, k, rf = 10_000, 64, 16, 4, 10, 32
    qids = list(range(16, 26))
    out: dict = {}
    try:
        for sep in (0.0, 1.0, 4.0):
            tag = f"sep{sep:g}"
            emb = clustered_embeddings(spark, n, dim, nlist, sep)
            truth = {
                (r.query_id, r.cand_id)
                for r in similarity.brute_force_topk(
                    emb, qids, k=k
                ).collect()
            }
            idx = tempfile.mkdtemp(prefix="tsdp_clust_idx_")
            try:
                similarity.ivfpq_build_index(
                    emb, idx, PQ_CODEBOOK_IDS, list(range(nlist)),
                    train_iters=3, coarse_train_iters=3,
                )
                t0 = time.perf_counter()
                got = {
                    (r.query_id, r.cand_id)
                    for r in similarity.ivfpq_query_index(
                        spark, idx, emb, qids, k=k,
                        nprobe=nprobe, rerank_factor=rf,
                    ).collect()
                }
                out[f"clustered_{tag}_ivfpq_query_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                out[f"recall_at_10_ivfpq_clustered_{tag}"] = round(
                    len(truth & got) / len(truth), 3
                )
                t0 = time.perf_counter()
                flat = {
                    (r.query_id, r.cand_id)
                    for r in similarity.pq_query_index(
                        spark, idx, emb, qids, k=k, rerank_factor=rf
                    ).collect()
                }
                out[f"clustered_{tag}_pq_flat_query_sec"] = round(
                    time.perf_counter() - t0, 3
                )
                # attribution row: when ivfpq == flat recall, the
                # probed 4/16 cells lost NOTHING — the residual gap
                # to 1.0 is the PQ ADC stage, not the IVF pruning
                out[f"recall_at_10_pq_flat_clustered_{tag}"] = round(
                    len(truth & flat) / len(truth), 3
                )
                if sep == 4.0:
                    # rotated-prefix row on the corpus shape where a
                    # rotation has structure to find (vs the
                    # near-isotropic driver table)
                    from ts_data_pipeline_spark.operators import linalg

                    comps, _vals, mu = linalg.pca_components(
                        emb, "embedding", dim, k=16
                    )
                    pidx = os.path.join(idx, "pca_prefix16")
                    similarity.prefix_index_write(
                        emb, pidx, 16, basis=(comps, mu)
                    )
                    pca = {
                        (r.query_id, r.cand_id)
                        for r in similarity.prefix_query_index(
                            spark, pidx, emb, qids, k=k, rerank_factor=8
                        ).collect()
                    }
                    out[
                        f"recall_at_10_mrl_prefix16_pca_clustered_{tag}"
                    ] = round(len(truth & pca) / len(truth), 3)
                codes = os.path.join(idx, "codes")
                m = scan_metrics(
                    similarity.ivfpq_query_index(
                        spark, idx, emb, qids[:1], k=k,
                        nprobe=nprobe, rerank_factor=rf,
                    ),
                    path_contains=codes,
                )
                tot = dir_bytes(codes)
                if tot:
                    out[f"clustered_{tag}_bytes_read_frac_1q"] = round(
                        m["bytes_read"] / tot, 4
                    )
            finally:
                shutil.rmtree(idx, ignore_errors=True)
            # RESIDUAL (IVFADC) twin of the same index: codebooks
            # trained on per-cell residuals. Published across the
            # whole sweep so the story is complete — it beats even
            # the FLAT full scan where cells carry signal (sep >= 1:
            # 0.95 vs flat 0.75 at sep4/n10k) and LOSES on the
            # isotropic control (residual variance doubles there),
            # which is why residual=False stays the default for
            # generic corpora.
            idx = tempfile.mkdtemp(prefix="tsdp_clust_ridx_")
            try:
                similarity.ivfpq_build_index(
                    emb, idx, PQ_CODEBOOK_IDS, list(range(nlist)),
                    train_iters=3, coarse_train_iters=3, residual=True,
                )
                got_r = {
                    (r.query_id, r.cand_id)
                    for r in similarity.ivfpq_query_index(
                        spark, idx, emb, qids, k=k,
                        nprobe=nprobe, rerank_factor=rf,
                    ).collect()
                }
                out[f"recall_at_10_ivfpq_residual_clustered_{tag}"] = (
                    round(len(truth & got_r) / len(truth), 3)
                )
            finally:
                shutil.rmtree(idx, ignore_errors=True)
        return out
    except Exception as exc:  # never let the sweep kill the artifact
        print(f"# clustered ivf section failed: {exc}", file=sys.stderr)
        return out


def _maintenance(spark) -> dict:
    """VERDICT r10 ask #8: the compaction decision's cost model as
    PUBLISHED numbers — build an IVFPQ index from 60% of the corpus,
    fragment it with two appends, and measure the small-file penalty
    (file count + query latency fragmented vs compacted) and the
    compact cost itself. The query rows bracket the compact the way
    the upsert rows bracket the bucket surgery."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ts_data_pipeline_spark import io as _io
    from ts_data_pipeline_spark.operators import similarity
    from ts_data_pipeline_spark.queries.llmdata import (
        ANN_QUERY_IDS,
        IVFPQ_COARSE_IDS,
        IVFPQ_COARSE_ITERS,
        IVFPQ_NPROBE,
        PQ_CODEBOOK_IDS,
        PQ_RERANK_FACTOR,
        PQ_TRAIN_ITERS,
    )

    idx = None
    try:
        emb = _io.load(spark, SF_DIR, "embeddings")
        n = emb.count()
        seed_ids = set(PQ_CODEBOOK_IDS) | set(IVFPQ_COARSE_IDS)
        cut1, cut2 = int(n * 0.6), int(n * 0.8)
        head = emb.filter(
            (F.col("vec_id") < cut1) | F.col("vec_id").isin(list(seed_ids))
        )
        mid = emb.filter(
            (F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2)
        ).join(head.select("vec_id"), "vec_id", "left_anti")
        tail = emb.filter(F.col("vec_id") >= cut2).join(
            head.select("vec_id"), "vec_id", "left_anti"
        )
        idx = tempfile.mkdtemp(prefix="tsdp_maint_idx_")
        similarity.ivfpq_build_index(
            head, idx, PQ_CODEBOOK_IDS, IVFPQ_COARSE_IDS,
            train_iters=PQ_TRAIN_ITERS,
            coarse_train_iters=IVFPQ_COARSE_ITERS,
        )
        similarity.pq_index_append(spark, idx, mid)
        similarity.pq_index_append(spark, idx, tail)

        def q_sec() -> float:
            t0 = time.perf_counter()
            similarity.ivfpq_query_index(
                spark, idx, emb, ANN_QUERY_IDS, k=10,
                nprobe=IVFPQ_NPROBE, rerank_factor=PQ_RERANK_FACTOR,
            ).count()
            return round(time.perf_counter() - t0, 3)

        frag_stats = similarity.ivfpq_index_stats(spark, idx)
        frag_q = q_sec()
        t0 = time.perf_counter()
        comp = similarity.ivfpq_index_compact(spark, idx)
        compact_sec = round(time.perf_counter() - t0, 3)
        return {
            "ivfpq_files_fragmented": frag_stats["files_total"],
            "ivfpq_files_compacted": comp["files_after"],
            "ivfpq_query_sec_fragmented": frag_q,
            "ivfpq_query_sec_compacted": q_sec(),
            "ivfpq_compact_sec": compact_sec,
            "ivfpq_compact_rows": comp["rows_total"],
        }
    except Exception as exc:  # never let maintenance kill the artifact
        print(f"# maintenance section failed: {exc}", file=sys.stderr)
        return {}
    finally:
        if idx is not None:
            shutil.rmtree(idx, ignore_errors=True)


def _media(spark) -> dict:
    """r12: decode throughput of the stdlib media codecs through the
    real executor path (mapInPandas synth + full decode + feature
    extraction), docs/sec at SF_DIR — the measured number behind the
    'the Python codec is fast enough for the permissive ingest lane'
    claim. Baseline vs progressive JPEG are separate rows because
    progressive pays multi-scan entropy decode."""
    from ts_data_pipeline_spark import io as _io
    from ts_data_pipeline_spark.operators import multimodal as _mm

    out = {}
    docs = _io.load(spark, SF_DIR, "documents")
    n = docs.count()
    jobs = {
        "jpeg_baseline": lambda: _mm.jpeg_features(
            _mm.attach_jpeg_payload(docs)
        ).count(),
        "jpeg_progressive": lambda: _mm.jpeg_features(
            _mm.attach_progressive_jpeg_payload(docs)
        ).count(),
        "png": lambda: _mm.png_features(
            _mm.attach_png_payload(docs)
        ).count(),
    }
    for name, job in jobs.items():
        try:
            job()  # warm (Arrow init, codegen)
            t0 = time.perf_counter()
            rows = job()
            dt = time.perf_counter() - t0
            out[f"media_decode_{name}_docs_per_sec"] = round(rows / dt, 1)
        except Exception as exc:  # noqa: BLE001 — section-isolated
            print(f"# media {name} failed: {exc}", file=sys.stderr)
    return out


def _canary(spark) -> dict:
    """Fixed pure-JVM timing baseline (VERDICT r7 ask #7): a
    constant-size in-memory hash aggregate — no I/O, no Python, no
    data dependence — so cross-round headline deltas can be
    attributed: if the canary moved with the headline, it's host
    drift; if the headline moved alone, it's a plan change. Published
    as canary_jvm_agg_sec plus the canary-normalized headline total.
    Run TWICE per invocation — before the headline and after the
    extras — because contention can be transient (an r8 local run saw
    a 1.6x headline inflation from a neighboring JVM teardown that a
    single end-of-run canary missed entirely); normalization uses the
    PRE canary (it brackets the headline phase) and a pre/post split
    flags a noisy window."""
    from pyspark.sql import functions as F

    try:
        def mk():
            return (
                spark.range(0, 50_000_000, 1, 32)
                .select((F.col("id") % 997).alias("k"), F.col("id").alias("v"))
                .groupBy("k")
                .agg(F.sum("v").alias("s"), F.avg("v").alias("a"),
                     F.max("v").alias("m"))
            )

        mk().count()  # warm codegen
        ts = []
        for _ in range(max(RUNS, 5)):
            t0 = time.perf_counter()
            mk().count()
            ts.append(time.perf_counter() - t0)
        return {"canary_jvm_agg_sec": round(statistics.median(ts), 3)}
    except Exception as exc:
        print(f"# canary failed: {exc}", file=sys.stderr)
        return {}


def _canary_io(spark) -> dict:
    """Second fixed canary (r14, VERDICT r13 ask #1): a
    shuffle/write-bound workload — write a constant-size synthetic
    relation to LOCAL DISK as parquet, read it back, push the FULL
    payload through a 64-way exchange + within-partition sort, and
    write the sorted result back out. The terminal write is
    load-bearing, not decoration: under a bare count() Catalyst
    eliminates the sort and prunes the payload column out of the
    scan and shuffle entirely (caught by this round's review pass —
    the first cut timed md5 CPU + one write and nothing else);
    writing the sorted rows forces the read, the payload-wide
    exchange, and the sort to actually execute. Honest boundary
    (second review pass): the read-back scans files written
    milliseconds earlier IN the timed body, so the read half is
    page-cache-served and the writes are async writeback — what this
    canary actually tracks is write-issue + shuffle + sort + memory
    bandwidth, NOT cold-disk read latency (per-run dir recreation
    only prevents CROSS-run input caching). That is still the
    contention class the CPU canary is blind to; a host whose draw
    is purely cold-read-bound would move the headline's scan-heavy
    queries without moving either canary, and adjudication has the
    raw per-query values for that case."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    try:
        def run_once() -> float:
            d = tempfile.mkdtemp(prefix="tsdp_canary_io_")
            d2 = tempfile.mkdtemp(prefix="tsdp_canary_io2_")
            try:
                t0 = time.perf_counter()
                (
                    spark.range(0, 2_000_000, 1, 32)
                    .select(
                        F.col("id"),
                        # ~64-byte incompressible-ish payload so the
                        # bytes moved are real, not RLE'd away
                        F.concat(
                            F.md5(F.col("id").cast("string")),
                            F.md5((F.col("id") + 1).cast("string")),
                        ).alias("payload"),
                    )
                    .write.mode("overwrite")
                    .parquet(d)
                )
                (
                    spark.read.parquet(d)
                    .repartition(64, F.col("id") % 997)
                    .sortWithinPartitions("payload")
                    .write.mode("overwrite")
                    .parquet(d2)
                )
                return time.perf_counter() - t0
            finally:
                shutil.rmtree(d, ignore_errors=True)
                shutil.rmtree(d2, ignore_errors=True)

        run_once()  # warm (codegen + committer init)
        # median of 5 (not RUNS=3): the canary IS the measuring
        # stick, so its own noise floor must sit below the band it
        # exists to tighten
        ts = [run_once() for _ in range(max(RUNS, 5))]
        return {"canary_io_sec": round(statistics.median(ts), 3)}
    except Exception as exc:
        print(f"# io canary failed: {exc}", file=sys.stderr)
        return {}


def main() -> None:
    spark = get_spark("ts-data-pipeline-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    resolved = _resolve()
    # JMH-style warmup: one untimed pass of each headline query at
    # SF_DIR itself, so Catalyst analysis + Janino codegen AND any
    # operator-level caches (e.g. the minhash shingle table) are
    # materialized outside the timed region — the timings below
    # measure steady state. (r4 warmed at sf0.001, so the first timed
    # run paid the SF_DIR cache materialization and spread read ~2x
    # the median.)
    spark.range(1).count()
    canary_pre = _canary(spark)
    canary_io_pre = _canary_io(spark)
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", SF_DIR)
    for name, fn in resolved.items():
        try:
            fn(spark, warm_dir).count()
        except Exception as exc:  # warmup is best-effort
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    # One broken query must never zero out the whole artifact
    # (VERDICT r03: an unguarded crash left BENCH_r03.json with
    # parsed=null): each timed run is isolated, failures are recorded
    # per-query under "errors", and the JSON line still prints with
    # the surviving totals.
    samples: dict[str, list[float]] = {n: [] for n in resolved}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    for run in range(RUNS):
        for name, fn in resolved.items():
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                rows[name] = fn(spark, SF_DIR).count()
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                samples[name] = []
                print(f"# ERROR {name}: {errors[name]}", file=sys.stderr)
                continue
            samples[name].append(time.perf_counter() - t0)

    # r16 (VERDICT r15 ask #6): COLD-cache twin of every headline row.
    # The JMH warmup above deliberately materializes operator-level
    # caches (minhash shingles, sq8 codes) outside the timed region so
    # the medians measure steady state — which understates the cold
    # cost of cache-heavy queries. This section publishes that number:
    # clearCache() before EACH query, one timed run, so every query
    # pays its own cache build (and no query inherits a neighbor's).
    # Additive only — the steady-state medians above are untouched and
    # stay comparable across rounds.
    queries_cold: dict[str, float] = {}
    for name, fn in resolved.items():
        if name in errors:
            continue
        try:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            queries_cold[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # never kill the artifact
            print(f"# cold {name} failed: {exc}", file=sys.stderr)

    # Skew stress (separate section; NOT part of the headline total,
    # which must stay comparable across rounds): the flagship agg on
    # a hot-key-distorted input — 80% of trades funneled onto one
    # symbol — with and without the two-phase salt, so the salted
    # plan's effect is a measured number rather than a claim. Values
    # are oracle-pinned identical (tests/test_parity, flagship_salted);
    # this measures the physical plans only.
    # Section gate: SPARK_GRAFT_BENCH_SECTIONS=headline skips the
    # skew/recall/prune/maintenance sections — the mode
    # tools/bench_ab.py uses for interleaved A/B drift bisects, where
    # only the cross-round-comparable headline set matters and a full
    # pass per sample would cost 20 min each.
    sections = os.environ.get("SPARK_GRAFT_BENCH_SECTIONS", "all")
    skew: dict = {}
    extras: dict = {}
    if sections != "headline":
        skew = _skew_stress(spark)
        extras = _extras(spark)
        extras.update(_recall(spark))
        extras.update(_clustered_ivf(spark))
        extras.update(_prune_metrics(spark))
        extras.update(_sink_stress(spark))
        extras.update(_maintenance(spark))
        extras.update(_media(spark))
    canary = _canary(spark)
    canary_io_post = _canary_io(spark)

    timings = {n: round(statistics.median(s), 3) for n, s in samples.items() if s}
    spread = {n: round(max(s) - min(s), 3) for n, s in samples.items() if s}
    for name in timings:
        print(
            f"# {name}: median={timings[name]}s spread={spread[name]}s "
            f"({rows[name]} rows, {RUNS} runs)",
            file=sys.stderr,
        )

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "runs": RUNS,
        "spread": spread,
        "queries_cold": queries_cold,
        "skew": skew,
        "extras": extras,
        "errors": errors,
    }
    if canary.get("canary_jvm_agg_sec"):
        payload.update(canary)
        if canary_pre.get("canary_jvm_agg_sec"):
            payload["canary_jvm_agg_sec_pre"] = canary_pre[
                "canary_jvm_agg_sec"
            ]
        # dimensionless: headline total in canary units — host drift
        # moves both, so THIS number is the cross-round comparable.
        # Normalize by the PRE canary (it brackets the headline
        # phase); the post canary is published so a pre/post split
        # flags a noisy window.
        ref = canary_pre.get(
            "canary_jvm_agg_sec", canary["canary_jvm_agg_sec"]
        )
        payload["value_per_canary"] = round(total / ref, 2)
    if canary_io_pre.get("canary_io_sec"):
        payload["canary_io_sec_pre"] = canary_io_pre["canary_io_sec"]
    if canary_io_post.get("canary_io_sec"):
        payload["canary_io_sec"] = canary_io_post["canary_io_sec"]
    print(json.dumps(payload))
    # The driver records a FIXED-SIZE TAIL of stdout, and the full
    # line above grows every round (extras/recall sections) — r7 and
    # r8 both lost the headline numbers to that truncation. So the
    # LAST line is a compact summary carrying only the cross-round
    # comparable signal: headline total, per-query medians, and the
    # canary pair that attributes host drift. Tail capture always
    # retains the last line.
    # Second-to-last line: the EXTRAS that grade the round — recall/
    # cost curves, prune fractions, maintenance economics. r11's
    # bsign-rule recall curve fell off the big payload line under the
    # driver's 2000-char tail cap and survived only in BENCH_NOTES.md
    # (VERDICT r11 ask #2b); this curated line plus headline_compact
    # fit the cap together, so BENCH_r{N}.json alone suffices.
    keep_exact = {
        "zorder_bytes_read_frac",
        "zorder_cells_skipped_frac",
        "bloom_fact_survivor_frac",
        "ivfpq_files_fragmented",
        "ivfpq_files_compacted",
        "ivfpq_query_sec_fragmented",
        "ivfpq_query_sec_compacted",
        "ivfpq_compact_sec",
        "upsert_write_bytes_bucketed64",
        "upsert_write_bytes_full_rewrite",
    }
    keep_legs = (
        "ivfpq_registered",
        "ivfpq_residual",
        "pq_rerank",
        "mrl_prefix16_pca_stored",
        "sq8_rerank",
        "ivf_nprobe4",
        "lsh_multiprobe",
    )
    extras_compact = {
        "metric": "extras_compact",
        **{
            k: v
            for k, v in {**skew, **extras}.items()
            if k in keep_exact
            or "bsign" in k
            or k.startswith("media_decode_")
            or any(k == f"recall_at_10_{leg}" for leg in keep_legs)
        },
    }
    print(json.dumps(extras_compact, separators=(",", ":")))
    compact = {
        "metric": "headline_compact",
        "headline_total": total,
        "queries": timings,
        # per-query MIN alongside the median: min is the least
        # host-noise-contaminated sample, so a "regression" whose min
        # also moved is real while a median-only bump is load (the
        # r10/r11 drift post-mortem's decision rule, now in-artifact).
        "queries_min": {
            n: round(min(s), 3) for n, s in samples.items() if s
        },
        "runs": RUNS,
        "sf": sf_val,
        "errors": sorted(errors),
        # cold-cache values as a LIST in "queries" key order (map form
        # lives on the big payload line; the list keeps this line
        # inside the driver's ~2 kB tail cap, same trade as qnorm)
        "qcold": [queries_cold.get(n) for n in timings],
    }
    for k in (
        "canary_jvm_agg_sec_pre",
        "canary_jvm_agg_sec",
        "value_per_canary",
        "canary_io_sec_pre",
        "canary_io_sec",
    ):
        if k in payload:
            compact[k] = payload[k]
    # Self-normalizing headline (r13, VERDICT r12 ask #6): publish the
    # host draw as an explicit ratio against a PINNED reference canary
    # (r11's pre canary, 0.477 s — the value every drift adjudication
    # since has normalized against), plus canary-normalized per-query
    # values, so a driver archive ALONE separates host draw from code
    # drift: canary_ratio far from 1.0 = slow/fast host; a query whose
    # NORMALIZED value moved is code.
    if canary_pre.get("canary_jvm_agg_sec"):
        ratio = round(
            canary_pre["canary_jvm_agg_sec"] / CANARY_REF_SEC, 3
        )
        compact["canary_ratio"] = ratio
        compact["headline_total_norm"] = round(total / ratio, 3)
        # qnorm: canary-normalized per-query medians as a LIST in the
        # same order as the "queries" keys — keyed values would push
        # extras_compact + headline_compact past the driver's
        # 2000-char tail cap (measured: ~2.06 kB keyed, ~1.82 kB as a
        # list).
        compact["qnorm"] = [round(t / ratio, 2) for t in timings.values()]
    # r14 (VERDICT r13 ask #1): the second, shuffle/I/O-bound host
    # ratio, and a blended normalization (equal-weight mean of the two
    # ratios — the headline set is roughly half CPU-bound expressions,
    # half shuffle/scan work). Both raw ratios stay published so
    # adjudication can pick the profile that fits a given query.
    if canary_io_pre.get("canary_io_sec"):
        io_ratio = round(
            canary_io_pre["canary_io_sec"] / CANARY_IO_REF_SEC, 3
        )
        compact["canary_io_ratio"] = io_ratio
        if "canary_ratio" in compact:
            blend = (compact["canary_ratio"] + io_ratio) / 2
            compact["headline_total_norm_blend"] = round(total / blend, 3)
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
