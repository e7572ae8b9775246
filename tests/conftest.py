"""Shared fixtures: one SparkSession per test run + DuckDB oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# Spark's python workers (fresh interpreters) must be able to import
# both the package and the test modules that define closures shipped
# to executors (e.g. user reducers in test_custom_state).
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (
        _REPO,
        os.path.join(_REPO, "tests"),
        os.environ.get("PYTHONPATH", ""),
    ) if p
)

from ts_data_pipeline_spark import io  # noqa: E402
from ts_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("ts-data-pipeline-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the synthetic tables as views."""
    con = duckdb.connect()
    for t in io.TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{io.table_path(SF_DIR, t)}'"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Emulate the driver's compare: sort columns by name, then rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last")
    return df.reset_index(drop=True)


def assert_parity(spark_df, oracle_con, sql: str) -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(oracle_con.execute(sql).df())
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
    )


def assert_twin_rows(spark_df, oracle_con, sql: str) -> list[tuple]:
    """Assert a top-k result's (query_id, cand_id, cos_sim, rank) rows
    equal its DuckDB twin's exactly, and return them sorted."""
    got = sorted(
        (int(r.query_id), int(r.cand_id), float(r.cos_sim), int(r.rank))
        for r in spark_df.collect()
    )
    want = sorted(
        (int(q), int(c), float(s), int(k))
        for q, c, s, k in oracle_con.execute(sql).fetchall()
    )
    assert got == want
    return got


def identity_basis(d_prefix: int, dim: int):
    """The identity (components, mean) basis: ``prefix_index_write``
    under it stores the raw first-``d_prefix`` slice bit-exactly."""
    return (
        [[1.0 if j == i else 0.0 for j in range(dim)] for i in range(d_prefix)],
        [0.0] * dim,
    )


# ---------------------------------------------------------------------
# Slow-tier marking (r16, VERDICT r15 ask #2). Node ids measured
# >= 10 s in the full-suite durations run (plans/r16; 52 tests,
# ~29 of the suite's ~40 minutes). pytest.ini deselects the marker by
# default so the driver-visible run completes inside its window;
# `-m slow` runs the tier, `-m ""` runs everything. Names are matched
# by nodeid so parametrized cases can be tiered individually.
# ---------------------------------------------------------------------
_SLOW_NODEIDS = {
    "tests/test_asof.py::test_asof_expression_and_pandas_forms_agree",
    "tests/test_classifier.py::test_lr_more_rounds_do_not_worsen_fit",
    "tests/test_custom_state.py::test_progress_monitor_collects_batch_metrics",
    "tests/test_custom_state.py::test_push_hub_as_streaming_sink",
    "tests/test_custom_state.py::test_user_reduce_flushes_at_exact_watermark_boundary",
    "tests/test_custom_state.py::test_user_reducer_matches_declarative_finals",
    "tests/test_llmdata.py::test_bsign_index_append_pinned_frame_and_idempotent",
    "tests/test_llmdata.py::test_build_training_corpus_recipe",
    "tests/test_llmdata.py::test_compact_pointer_commit_is_crash_safe",
    "tests/test_llmdata.py::test_index_maintenance_through_fs_api_on_file_uri",
    "tests/test_llmdata.py::test_ivfpq_index_compact_and_maintenance_decision",
    "tests/test_llmdata.py::test_ivfpq_index_matches_twin_and_prunes",
    "tests/test_llmdata.py::test_ivfpq_residual_append_idempotent",
    "tests/test_llmdata.py::test_ivfpq_residual_auto_selects_by_measured_anisotropy",
    "tests/test_llmdata.py::test_ivfpq_residual_index_roundtrip",
    "tests/test_llmdata.py::test_pq_index_append_is_delta_scoped_and_queryable",
    "tests/test_llmdata.py::test_pq_index_trained_roundtrip_matches_twin",
    "tests/test_llmdata.py::test_pq_topk_guarantees",
    "tests/test_llmdata.py::test_prefix_and_bsign_filtered_search_semantics",
    "tests/test_llmdata.py::test_recipe_durable_staging_matches_and_resumes",
    "tests/test_llmdata.py::test_recipe_optional_clean_and_eval_split",
    "tests/test_llmdata.py::test_recipe_source_cap_bounds_every_source",
    "tests/test_parity.py::test_query_matches_oracle[ann_lsh_ivf_topk]",
    "tests/test_parity.py::test_query_matches_oracle[dedup_exact_simhash]",
    "tests/test_parity.py::test_query_matches_oracle[multimodal_features]",
    "tests/test_parity.py::test_query_matches_oracle[olap_pivot_suite]",
    "tests/test_parity.py::test_query_matches_oracle[recipe_training_corpus]",
    "tests/test_parity.py::test_query_matches_oracle[streaming_finals_suite]",
    "tests/test_parity.py::test_query_matches_oracle[text_stats_suite]",
    "tests/test_partitioning.py::test_streaming_dedup_within_watermark",
    "tests/test_plan_lint.py::test_all_registered_queries_plan_scale_clean",
    "tests/test_properties.py::test_queryspec_differential_fuzz",
    "tests/test_rollup.py::test_streaming_rollup_into_versioned_table",
    "tests/test_scale_patterns.py::test_clustered_corpus_ivf_pruning_loses_no_recall",
    "tests/test_streaming.py::test_append_emits_at_exact_watermark_boundary",
    "tests/test_streaming.py::test_append_mode_emits_closed_windows_and_drops_late",
    "tests/test_streaming.py::test_cep_state_rows_bounded_by_live_keys",
    "tests/test_streaming.py::test_checkpoint_resume_no_double_count",
    "tests/test_streaming.py::test_interval_join_state_bounded_by_range_condition",
    "tests/test_streaming.py::test_stream_stream_time_bounded_join",
    "tests/test_streaming.py::test_streaming_cusum_alerts_match_batch",
    "tests/test_streaming.py::test_streaming_dedup_within_watermark",
    "tests/test_streaming.py::test_streaming_finals_match_batch_for_closed_windows",
    "tests/test_streaming.py::test_streaming_funnel_drops_late_beyond_horizon",
    "tests/test_streaming.py::test_streaming_funnel_hot_key_dense_horizon",
    "tests/test_streaming.py::test_streaming_funnel_matches_batch_verdicts",
    "tests/test_streaming.py::test_streaming_heartbeat_alerts_silences_once",
    "tests/test_streaming.py::test_streaming_multistage_funnel_matches_batch",
    "tests/test_streaming.py::test_streaming_session_windows_match_batch",
    "tests/test_streaming.py::test_streaming_zscore_alerts_match_batch",
    "tests/test_streaming.py::test_streaming_zscore_null_values_match_batch",
    "tests/test_streaming.py::test_upsert_sink_exactly_once_keyed_merge",
}


def _named_nodeids(config) -> set[str]:
    """Node ids named on the command line (``path::name`` arguments),
    made relative to the rootdir as ``item.nodeid`` is."""
    named = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            path = os.path.relpath(
                os.path.join(config.invocation_params.dir, path), config.rootpath
            )
            named.add(path.replace(os.sep, "/") + "::" + rest)
    return named


def pytest_collection_modifyitems(config, items):
    # A slow test named explicitly (or its parametrized function) runs
    # without `-m`; the default run's deselection is unchanged.
    named = _named_nodeids(config)
    for item in items:
        if item.nodeid in _SLOW_NODEIDS and not (
            item.nodeid in named or item.nodeid.partition("[")[0] in named
        ):
            item.add_marker(pytest.mark.slow)
