"""The explicit-list read path for HIVE / UNPARTITIONED / projection
tables: cached, prefix-pruned listing → ``prune_files`` → explicit
paths (plus ``basePath`` for hive layouts), with the inferred scan
schema cached beside the listing.  Each test pairs it with the
directory-scan arm (``max_explicit_files=0``) or with a known answer."""

from __future__ import annotations

import uuid

from glue_table_cache_spark.catalog import LocalMetadataStore, PartitionKey
from glue_table_cache_spark.config import EngineConfig
from glue_table_cache_spark.engine import GlueSparkEngine
from glue_table_cache_spark.listing import list_table_files
from glue_table_cache_spark.projection import extractors_for


def _jobs_during(spark, fn) -> list[int]:
    """Spark job ids started by ``fn`` on this thread."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _int_projection_table(spark, base):
    """Integer-projected table: ``<base>/<k>/part-*.parquet``, k in 0..3,
    rows ``id`` = 10 * k + i."""
    for k in range(4):
        spark.createDataFrame(
            [(10 * k + i,) for i in range(3)], "id long"
        ).coalesce(1).write.parquet(str(base / str(k)))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db",
        "proj",
        str(base),
        partition_keys=[PartitionKey("bucket")],
        parameters={
            "projection.enabled": "true",
            "projection.bucket.type": "integer",
            "projection.bucket.range": "0,3",
        },
    )
    return store


def test_warm_query_starts_no_spark_job(spark, hive_store, tmp_path):
    """After a first call, an identical ``engine.sql()`` on a Hive and
    on a projection table starts no Spark job between the call and its
    return: the listing and the scan schema both come from the cache.
    ``invalidate_table`` drops the schema with the listing, so the next
    call infers it again."""
    hive_q = (
        "SELECT count(*) AS n FROM glue.tpch.orders_part "
        "WHERE year = '1995' AND month = '03'"
    )
    eng = GlueSparkEngine(spark, hive_store)
    first = eng.sql(hive_q)
    assert _jobs_during(spark, lambda: eng.sql(hive_q)) == []
    assert eng.sql(hive_q).first().n == first.first().n > 0
    eng.invalidate_table("tpch", "orders_part")
    assert not [
        k for k in eng._listing_cache.keys() if "#schema:" in k
    ]
    assert _jobs_during(spark, lambda: eng.sql(hive_q))

    store = _int_projection_table(spark, tmp_path / "proj")
    peng = GlueSparkEngine(spark, store)
    proj_q = "SELECT id FROM glue.db.proj WHERE bucket = 2"
    peng.sql(proj_q)
    assert _jobs_during(spark, lambda: peng.sql(proj_q)) == []
    assert sorted(r.id for r in peng.sql(proj_q).collect()) == [
        20, 21, 22
    ]
    peng.invalidate_table("db", "proj")
    assert _jobs_during(spark, lambda: peng.sql(proj_q))


def test_cached_schema_matches_inferred(spark, hive_store):
    """A scan served from the schema cache has the columns, types and
    rows of the scan that inferred it."""
    q = (
        "SELECT * FROM glue.tpch.orders_part "
        "WHERE year = '1996' AND month IN ('01', '02')"
    )
    eng = GlueSparkEngine(spark, hive_store)
    cold = eng.sql(q)
    warm = eng.sql(q)
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_hidden_paths_stay_out_of_explicit_lists(spark, tmp_path):
    """Spark's hidden-path rule applies to the engine's own listing: a
    stray ``_temporary/0/part-*.parquet`` (an aborted write) or a
    ``.staging/`` directory below the location never enters the file
    list, so the explicit result equals the directory scan's."""
    base = tmp_path / "t"
    spark.createDataFrame(
        [(i, "2024" if i % 2 else "2023") for i in range(10)],
        "id long, y string",
    ).write.partitionBy("y").parquet(str(base))
    stray = spark.createDataFrame([(99,)], "id long").coalesce(1)
    stray.write.parquet(str(base / "_temporary" / "0"))
    stray.write.parquet(str(base / "y=2024" / ".staging"))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(base), partition_keys=[PartitionKey("y")]
    )
    listed = list_table_files(
        str(base), extractors_for([PartitionKey("y")], {})
    )
    assert listed and not any(
        "_temporary" in f.path or ".staging" in f.path for f in listed
    )
    native = GlueSparkEngine(
        spark, store, EngineConfig(max_explicit_files=0)
    )
    explicit = GlueSparkEngine(spark, store)
    for q in (
        "SELECT id FROM glue.db.t",
        "SELECT id FROM glue.db.t WHERE y = '2024'",
    ):
        want = sorted(r.id for r in native.sql(q).collect())
        assert sorted(r.id for r in explicit.sql(q).collect()) == want
        assert 99 not in want


def test_projection_under_digit_directory(spark, tmp_path):
    """Integer projection reads the value from the path BELOW the table
    location: a table under ``…/2024/…`` must not read every file as
    partition 2024."""
    store = _int_projection_table(spark, tmp_path / "2024" / "proj")
    eng = GlueSparkEngine(spark, store)
    out = eng.sql("SELECT id, bucket FROM glue.db.proj WHERE bucket = 1")
    assert sorted((r.id, r.bucket) for r in out.collect()) == [
        (10, 1), (11, 1), (12, 1)
    ]
    total = eng.sql("SELECT count(*) AS n FROM glue.db.proj").first().n
    assert total == 12


def test_hive_under_key_named_directory(spark, tmp_path):
    """A ``p=`` component of the location itself is not a partition
    value: a Hive table under ``…/p=9/…`` prunes and answers by its own
    ``p=<k>`` directories, on both read paths."""
    base = tmp_path / "p=9" / "t"
    spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id long, p int"
    ).write.partitionBy("p").parquet(str(base))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(base), partition_keys=[PartitionKey("p", "int")]
    )
    files = list_table_files(
        str(base), extractors_for([PartitionKey("p")], {})
    )
    assert {f.partition_values["p"] for f in files} == {"0", "1", "2"}
    q = "SELECT id FROM glue.db.t WHERE p = 1"
    for eng in (
        GlueSparkEngine(spark, store),
        GlueSparkEngine(spark, store, EngineConfig(max_explicit_files=0)),
    ):
        assert sorted(r.id for r in eng.sql(q).collect()) == [1, 4, 7, 10]


def test_tracked_keys_capped_with_schema_keys(spark, hive_store):
    """Schema keys are scoped keys: at the per-table cap the side-map
    evicts them too (from the cache first), so it stays bounded and
    every live scoped cache entry keeps its invalidation record."""
    eng = GlueSparkEngine(spark, hive_store)
    eng._MAX_TRACKED_KEYS = 4
    for month in ("01", "02", "03", "04", "05", "06"):
        eng.sql(
            "SELECT count(*) AS n FROM glue.tpch.orders_part "
            f"WHERE year = '1995' AND month = '{month}'"
        )
    tracked = eng._listing_keys["tpch_orders_part"]
    assert len(tracked) <= 4
    assert any("#schema:" in k for k in tracked)
    scoped = {
        k
        for k in eng._listing_cache.keys()
        if "#schema:" in k or "#w:" in k
    }
    assert scoped <= set(tracked)


def test_tracked_keys_concurrent_record_and_retire():
    """Concurrent sql() calls record keys while others retire them:
    the side-map must stay bounded, never raise mid-iteration, and
    every live scoped cache entry must keep its record."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from glue_table_cache_spark.catalog import CatalogTable

    eng = GlueSparkEngine(None, LocalMetadataStore(), EngineConfig())
    eng._MAX_TRACKED_KEYS = 8
    tbl = CatalogTable("db", "t", "/nowhere/t", [], {})
    bare = "/nowhere/t:"

    def worker(w: int) -> None:
        for i in range(400):
            for key in (f"{bare}#w:{w}-{i}", f"/nowhere/t|#schema:{w}-{i}"):
                eng._listing_cache.get_or_load(key, lambda: i)
                eng._track_listing_key(tbl, key)
            if i % 7 == 0:
                eng._drop_pruned_keys(tbl, bare)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            for fut in [pool.submit(worker, w) for w in range(8)]:
                fut.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    tracked = eng._listing_keys["db_t"]
    assert len(tracked) <= 8
    live = {k for k in eng._listing_cache.keys() if "#" in k}
    assert live <= set(tracked)


def test_cold_hive_sql_serializes_once(spark, hive_store, monkeypatch):
    """Ref resolution, partition-predicate extraction and the
    metadata-prune fingerprint share one DuckDB serialization of a
    statement's text."""
    import duckdb

    from glue_table_cache_spark.transformer import serialize_sql

    calls = []
    real = duckdb.sql

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    serialize_sql.cache_clear()
    monkeypatch.setattr(duckdb, "sql", counting)
    eng = GlueSparkEngine(spark, hive_store)
    q = (
        "SELECT count(*) AS n FROM glue.tpch.orders_part "
        "WHERE year = '1995' AND month = '03' /* serialize-once */"
    )
    assert eng.sql(q).first().n > 0
    assert len(calls) == 1
