from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from glue_table_cache_spark.catalog import LocalMetadataStore, PartitionKey  # noqa: E402
from glue_table_cache_spark.session import build_session  # noqa: E402

TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001"))
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# ---------------------------------------------------------------------------
# Slow tier (see pytest.ini): the default selection must fit an
# automated verify window.  The list below is evidence-based — every
# entry measured ≥ ~15 s in the full-suite duration profile after the
# r15 fixture-write fix (suite 94 → 40 min; these entries carry ~14 of
# the remaining 40).  Each fuzz FAMILY keeps its seed-0 / first-batch
# arm in the default tier so the differential machinery always runs;
# the extra seeds move to the slow tier.  Entries are exact node ids
# (``file::test[params]``); collecting a whole module that lacks one of
# its entries fails the run.  Run everything with
# `pytest tests/ -m "slow or not slow"`.
# ---------------------------------------------------------------------------
_SLOW_NODEIDS = frozenset((
    # fuzz sweeps — seed 0 / first batch stays in the default tier
    "test_dml_fuzz.py::test_dml_fuzz_delta_matches_duckdb[1]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_matches_duckdb[2]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_matches_duckdb[3]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_matches_duckdb[4]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_matches_duckdb[5]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_matches_duckdb[6]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_matches_duckdb[7]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_mapped_matches_duckdb[1]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_mapped_matches_duckdb[2]",
    "test_dml_fuzz.py::test_dml_fuzz_delta_mapped_matches_duckdb[3]",
    "test_dml_fuzz.py::test_dml_fuzz_iceberg_matches_duckdb[1]",
    "test_dml_fuzz.py::test_dml_fuzz_iceberg_matches_duckdb[2]",
    "test_dml_fuzz.py::test_dml_fuzz_iceberg_matches_duckdb[3]",
    "test_dml_fuzz.py::test_dml_fuzz_iceberg_partitioned_matches_duckdb[1]",
    "test_dml_fuzz.py::test_dml_fuzz_iceberg_partitioned_matches_duckdb[2]",
    "test_dml_fuzz.py::test_dml_fuzz_iceberg_partitioned_matches_duckdb[3]",
    "test_dml_fuzz.py::test_dml_fuzz_hudi_matches_duckdb[1]",
    "test_dml_fuzz.py::test_dml_fuzz_hudi_matches_duckdb[2]",
    "test_dml_fuzz.py::test_dml_fuzz_hudi_matches_duckdb[3]",
    "test_dml_fuzz.py::test_dml_fuzz_cdf_replay_reconstructs_state[1]",
    "test_dml_fuzz.py::test_dml_fuzz_cdf_replay_reconstructs_state[2]",
    "test_dml_fuzz.py::test_dml_fuzz_cdf_replay_reconstructs_state[3]",
    "test_sql_fuzz.py::test_fuzz_matches_duckdb[seeds_25_50]",
    "test_sql_fuzz.py::test_fuzz_matches_duckdb[seeds_50_75]",
    "test_sql_fuzz.py::test_fuzz_matches_duckdb[seeds_75_100]",
    "test_sql_fuzz.py::test_fuzz_matches_duckdb[seeds_100_125]",
    "test_sql_fuzz.py::test_fuzz_matches_duckdb[seeds_125_150]",
    "test_sql_fuzz.py::test_fuzz_matches_duckdb[seeds_150_175]",
    "test_sql_fuzz.py::test_fuzz_matches_duckdb[seeds_175_200]",
    # fixture-heavy / streaming integration (≥ ~15 s measured)
    "test_dml.py::test_sql_dml_on_hudi_mor",
    "test_dml.py::test_sql_insert_overwrite_all_formats",
    "test_dml.py::test_ctas_and_drop_all_formats",
    "test_dml.py::test_sql_restore_all_formats",
    "test_dml.py::test_sql_history_and_tblproperties",
    "test_dml.py::test_sql_reorg_apply_purge",
    "test_dml.py::test_describe_detail_all_formats",
    "test_dml.py::test_table_changes_iceberg_update_and_replay",
    "test_dml.py::test_hudi_mor_partitioned_merge_inserts",
    "test_dml.py::test_apply_changes_cross_format_cdc",
    "test_dml.py::test_alter_rename_and_drop_column_iceberg",
    "test_dml.py::test_apply_changes_scd_type2",
    "test_dml.py::test_apply_changes_scd_type2_cross_format",
    "test_dml.py::test_apply_changes_scd2_late_delete_retires_version",
    "test_engine.py::test_concurrent_sql_different_filters",
    "test_operators.py::"
    "test_sessionize_stream_event_time_timeout_flushes_open_sessions",
    "test_operators.py::test_minhash_dedup_transitive_collapses_chains",
    "test_sinks.py::test_optimize_delta_compacts_and_preserves_rows",
    "test_sinks.py::test_optimize_delta_aborts_on_conflicting_race",
    "test_sinks.py::test_vacuum_delta_lists_then_deletes_only_unreferenced",
    "test_sinks.py::test_optimize_iceberg_carries_untouched_partition",
    "test_sinks.py::test_optimize_delta_writes_checkpoint",
    "test_sinks.py::test_hudi_log_writer_upsert_delete_compact_clean",
    "test_sinks.py::test_iceberg_stream_cdf_mode",
    "test_sinks.py::test_streaming_cdc_mirror_apply_changes",
    "test_sinks.py::test_streaming_scd2_mirror",
    "test_sinks.py::test_iceberg_stream_cdf_delete_file_removal_resurrects",
    "test_hudi.py::test_hudi_table_changes_mor_deltacommit",
    "test_hudi.py::test_mor_delete_of_log_born_key_survives_compaction",
))


def _short_id(nodeid: str) -> str:
    """``tests/test_x.py::test_y[p]`` → ``test_x.py::test_y[p]``."""
    path, sep, rest = nodeid.partition("::")
    return path.rpartition("/")[2] + sep + rest


def pytest_collection_modifyitems(config, items):
    collected = {_short_id(item.nodeid): item for item in items}
    for key in _SLOW_NODEIDS & collected.keys():
        collected[key].add_marker(pytest.mark.slow)
    # An entry that names no test would silently move a renamed test
    # into the default tier.  Checked for every module collected
    # whole; a run of chosen node ids, and ``--lf`` (which cuts a
    # module down to its failed tests while collecting it), collect
    # modules in part.
    partial = any("::" in arg for arg in config.args)
    if partial or config.getoption("lf", False):
        return
    modules = {key.partition("::")[0] for key in collected}
    stale = sorted(
        key
        for key in _SLOW_NODEIDS - collected.keys()
        if key.partition("::")[0] in modules
    )
    if stale:
        raise pytest.UsageError(
            "tests/conftest.py _SLOW_NODEIDS names no collected test: "
            + ", ".join(stale)
        )


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="gtc-spark-tests",
        shuffle_partitions=8,
        # tests build hundreds of tiny createDataFrame frames; each
        # becomes a Python `parallelize` RDD with defaultParallelism
        # slices, and every action on it pays one Python-worker
        # round-trip per slice (32 on this host).  4 slices keeps the
        # suite's fixed per-action overhead ~8x lower without touching
        # any DataFrame-level parallelism (joins/aggregates use
        # spark.sql.shuffle.partitions).  Test-session-only knob.
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def store():
    """Metadata store exposing every driver testdata table as
    ``tpch.<name>`` (unpartitioned single parquet files)."""
    s = LocalMetadataStore()
    for name in TABLES:
        p = TESTDATA / f"{name}.parquet"
        if p.exists():
            s.register_parquet_dir("tpch", name, str(p))
    return s


@pytest.fixture(scope="session")
def hive_orders_dir(spark, tmp_path_factory):
    """orders rewritten as a hive-partitioned directory
    (year=YYYY/month=MM) — the reference's flights-table shape
    (FIXTURES.md F1/F2)."""
    out = tmp_path_factory.mktemp("hive") / "orders_part"
    df = spark.read.parquet(str(TESTDATA / "orders.parquet"))
    (
        df.withColumn("year", F.date_format("o_orderdate", "yyyy"))
        .withColumn("month", F.date_format("o_orderdate", "MM"))
        .write.partitionBy("year", "month")
        .mode("overwrite")
        .parquet(str(out))
    )
    return out


@pytest.fixture()
def hive_store(store, hive_orders_dir):
    store.register_parquet_dir(
        "tpch",
        "orders_part",
        str(hive_orders_dir),
        partition_keys=[PartitionKey("year"), PartitionKey("month")],
    )
    return store
