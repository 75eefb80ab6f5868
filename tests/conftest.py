"""Shared fixtures: one local SparkSession + a DuckDB oracle connection.

The oracle-compare helper replicates the driver's check: run the Spark
query and the DuckDB SQL on the same parquet, sort columns by name,
sort rows, compare values exactly (both sides pre-round doubles).
"""

from __future__ import annotations

import contextlib
import math
import os

import duckdb
import pytest

from cmsspark_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "cmsspark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf_dir in {SF_SMOKE, SF_ORACLE}:
        schema = "sf" + sf_dir.rstrip("/").split("sf")[-1].replace(".", "_")
        con.execute(f"CREATE SCHEMA IF NOT EXISTS {schema}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {schema}.{t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
    yield con
    con.close()


@contextlib.contextmanager
def jobs_submitted(spark):
    """Count the Spark jobs submitted while the block runs, from the DAG
    scheduler's next job id: ``with jobs_submitted(spark) as jobs: ...``
    then ``jobs()``. Jobs from other threads count too."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.nextJobId()
    end = None

    def count() -> int:
        return (dag.nextJobId() if end is None else end) - start

    yield count
    end = dag.nextJobId()


def duck_schema_for(sf_dir: str) -> str:
    return "sf" + sf_dir.rstrip("/").split("sf")[-1].replace(".", "_")


def _canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # both sides round explicitly in the queries; format defensively
        return f"{v:.9g}"
    return str(v)


def canonical_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def compare_query(spark, duck, name, fn, sql, sf_dir):
    """Run Spark fn and DuckDB sql; return (ok, detail)."""
    sdf = fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    schema = duck_schema_for(sf_dir)
    duck.execute(f"SET schema = '{schema}'")
    res = duck.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    sc, sr = canonical_rows(s_cols, s_rows)
    dc, dr = canonical_rows(d_cols, d_rows)
    if sc != dc:
        return False, f"column mismatch: spark={sc} duck={dc}"
    if len(sr) != len(dr):
        return False, f"row count mismatch: spark={len(sr)} duck={len(dr)}"
    if sr != dr:
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:5]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, f"{len(sr)} rows"


# ---------------------------------------------------------------------------
# Slow-tier marking (round 14, VERDICT r13 item 6). The driver's
# default run (`pytest tests/ -x -q`) excludes these via pytest.ini's
# `addopts = -m "not slow"`; the full suite runs with `-m ""`.
# Provenance: every test measuring >=8 s in the full 43-min
# `--durations=80` run at 2026-08-18 HEAD (767 passed). Marked
# centrally by nodeid so parametrized cases (oracle_parity[...]) can
# be tiered individually without touching their param sources.
SLOW_TESTS = {
    "tests/test_plans.py::test_no_query_shuffles_raw_text",
    "tests/test_oracle_parity.py::test_oracle_parity[bm25_index_blockmax_serve]",
    "tests/test_retrieval.py::test_compaction_preserves_serving_and_later_appends",
    "tests/test_properties.py::test_bm25_blockmax_equals_exact_topk",
    "tests/test_streaming.py::test_stream_events_job_cron_drain_and_state_carryover",
    "tests/test_properties.py::test_bm25_maxscore_equals_exact_topk",
    "tests/test_skew_stateful.py::test_stateful_sessionization_evicts_idle_state",
    "tests/test_oracle_parity.py::test_oracle_parity[bm25_index_tombstone_serve]",
    "tests/test_skew_stateful.py::test_stateful_funnel_matches_batch_walk",
    "tests/test_skew_stateful.py::test_stateful_sessionization_across_batches",
    "tests/test_oracle_parity.py::test_oracle_parity[bm25_index_incremental_serve]",
    "tests/test_retrieval.py::test_compaction_crash_before_meta_flip_is_invisible",
    "tests/test_retrieval.py::test_append_then_serve_equals_full_rebuild",
    "tests/test_retrieval.py::test_boolean_phrase_serve_and_pins",
    "tests/test_oracle_parity.py::test_oracle_parity[bm25_index_maxscore_serve]",
    "tests/test_properties.py::test_lsh_hot_bucket_star_reduction_preserves_components",
    "tests/test_streaming.py::test_funnel_stream_to_osearch_sink_exactly_once",
    "tests/test_properties.py::test_exact_dedup_deterministic_and_idempotent",
    "tests/test_oracle_parity.py::test_oracle_parity[dedup_simhash]",
    "tests/test_properties.py::test_snapshot_psi_nonnegative_and_zero_iff_identical",
    "tests/test_retrieval.py::test_build_index_cli_e2e",
    "tests/test_oracle_parity.py::test_oracle_parity[bpe_byte_packing_efficiency]",
    "tests/test_properties.py::test_as_of_join_matches_naive_semantics",
    "tests/test_retrieval.py::test_partlog_to_snapshot_to_index_pipeline",
    "tests/test_retrieval.py::test_bm25_index_sink_streaming_maintenance",
    "tests/test_oracle_parity.py::test_oracle_parity[dedup_simhash_weighted]",
    "tests/test_retrieval.py::test_compaction_folds_tombstones_into_base",
    "tests/test_snapshots.py::test_cdc_stream_initial_snapshot_and_admission",
    "tests/test_retrieval.py::test_tombstones_serve_exactly_like_live_corpus",
    "tests/test_snapshots.py::test_snapshot_cdc_source_streaming_exactly_once",
    "tests/test_snapshots.py::test_cdc_replication_tracks_source_table",
    "tests/test_workflows.py::test_clean_corpus_near_dup_policy",
    "tests/test_oracle_parity.py::test_oracle_parity[embed_lsh_quality_report]",
    "tests/test_properties.py::test_identical_texts_always_minhash_candidates",
    "tests/test_snapshots.py::test_rewrite_manifests_folds_metadata",
    "tests/test_properties.py::test_strip_repeated_spans_conservation",
    "tests/test_plots.py::test_campaign_report_pie_composition",
    "tests/test_properties.py::test_full_outer_coverage_partitions_key_space",
    "tests/test_retrieval.py::test_consume_removals_as_tombstones",
    "tests/test_oracle_parity.py::test_oracle_parity[bm25_phrase_serve]",
    "tests/test_oracle_parity.py::test_oracle_parity[bpe_length_profile_by_source]",
    "tests/test_properties.py::test_count_min_overcounts_never_undercounts",
    "tests/test_oracle_parity.py::test_oracle_parity[kmeans_assign_increment]",
    "tests/test_oracle_parity.py::test_oracle_parity[dedup_lsh_screened_verified]",
    "tests/test_retrieval.py::test_consume_equality_delete_version_tombstones",
    "tests/test_oracle_parity.py::test_oracle_parity[dedup_lsh_quality_report]",
    "tests/test_retrieval.py::test_consume_crash_mid_staging_resumes_cleanly",
    "tests/test_properties.py::test_repeated_span_stats_matches_python_reference",
    "tests/test_retrieval.py::test_snapshot_pinned_index_consumes_versions_exactly_once",
    "tests/test_snapshots.py::test_cdc_source_equals_engine_cdc_over_lifecycle",
    "tests/test_oracle_parity.py::test_oracle_parity[cluster_consistent_split]",
    "tests/test_workflows.py::test_clean_corpus_job_end_to_end",
    "tests/test_properties.py::test_hamming_near_pairs_equals_brute_force",
    "tests/test_retrieval.py::test_zero_token_docs_count_toward_n",
    "tests/test_retrieval.py::test_first_consume_crash_windows_recover",
    "tests/test_retrieval.py::test_serve_hash_join_fallback_identical",
    "tests/test_oracle_parity.py::test_oracle_parity[bpe_vocab_merges]",
    "tests/test_oracle_parity.py::test_oracle_parity[bm25_boolean_prune_report]",
    "tests/test_workflows.py::test_split_assign_increment_inherits_cluster_split",
    "tests/test_properties.py::test_union_by_name_aligns_columns",
    "tests/test_pipeline.py::test_near_dup_losers_policies",
    "tests/test_workflows.py::test_assign_splits_snapshot_pinned_state",
    "tests/test_oracle_parity.py::test_oracle_parity[dedup_span_strip]",
    "tests/test_layout.py::test_rowgroup_bloom_manifest_prunes_to_true_rowgroup",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
