"""End-to-end engine tests over the driver testdata (sf0.001), mirroring
the reference's integration suite (/root/reference/test/integration-test.ts)."""

from __future__ import annotations

import pytest

from glue_table_cache_spark.catalog import (
    CatalogTable,
    LocalMetadataStore,
    PartitionKey,
)
from glue_table_cache_spark.config import EngineConfig
from glue_table_cache_spark.engine import GlueSparkEngine
from glue_table_cache_spark.errors import (
    NoStorageLocationError,
    TableNotFoundError,
)


@pytest.fixture()
def engine(spark, store):
    return GlueSparkEngine(spark, store)


def test_simple_scan(engine):
    df = engine.sql("SELECT * FROM glue.tpch.region")
    assert df.count() == 5


def test_filter_and_projection(engine):
    df = engine.sql(
        "SELECT n_name FROM glue.tpch.nation WHERE n_regionkey = 0"
    )
    assert df.columns == ["n_name"]
    assert df.count() > 0


def test_join_two_glue_tables(engine):
    df = engine.sql(
        """
        SELECT r.r_name, count(*) AS nations
        FROM glue.tpch.nation n JOIN glue.tpch.region r
          ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
        """
    )
    rows = df.collect()
    assert len(rows) == 5
    assert sum(r.nations for r in rows) == 25


def test_cte_flagship(engine):
    """The reference's flagship shape: 2 CTEs → join → derived % →
    ORDER BY → LIMIT (integration-test.ts:136-168)."""
    df = engine.sql(
        """
        WITH monthly AS (
            SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
                   count(*) AS cnt, sum(o_totalprice) AS total
            FROM glue.tpch.orders GROUP BY 1, 2
        ),
        yearly AS (
            SELECT yr, sum(cnt) AS year_cnt FROM monthly GROUP BY yr
        )
        SELECT m.yr, m.mon, m.cnt,
               round(100.0 * m.cnt / y.year_cnt, 2) AS pct_of_year
        FROM monthly m JOIN yearly y ON m.yr = y.yr
        ORDER BY m.yr DESC, m.mon ASC LIMIT 5
        """
    )
    rows = df.collect()
    assert len(rows) == 5
    assert all(0 < r.pct_of_year <= 100 for r in rows)


def test_table_not_found(engine):
    with pytest.raises(TableNotFoundError):
        engine.sql("SELECT * FROM glue.tpch.nope")


def test_no_storage_location(engine, store):
    store.register_table(
        CatalogTable(database="tpch", name="homeless", location=None)
    )
    with pytest.raises(NoStorageLocationError):
        engine.sql("SELECT * FROM glue.tpch.homeless")


def test_empty_location_gives_empty_relation(spark, store, tmp_path):
    empty = tmp_path / "empty_tbl"
    empty.mkdir()
    store.register_parquet_dir("tpch", "empty_tbl", str(empty))
    engine = GlueSparkEngine(spark, store)
    df = engine.sql("SELECT * FROM glue.tpch.empty_tbl")
    assert df.count() == 0  # reference: SELECT NULL LIMIT 0 view


class TestHivePartitioned:
    def test_native_scan_partition_pruning(self, spark, hive_store):
        from glue_table_cache_spark.plans.explain import partition_filters

        engine = GlueSparkEngine(
            spark, hive_store, EngineConfig(max_explicit_files=0)
        )
        df = engine.sql(
            "SELECT * FROM glue.tpch.orders_part WHERE year = '1995'"
        )
        # Catalyst must prune at the scan (PruneFileSourcePartitions)
        assert "1995" in partition_filters(df)
        assert df.count() > 0

    def test_explicit_list_mode_prunes(self, spark, hive_store):
        engine = GlueSparkEngine(spark, hive_store)
        all_df = engine.sql("SELECT * FROM glue.tpch.orders_part")
        pruned_df = engine.sql(
            "SELECT * FROM glue.tpch.orders_part "
            "WHERE year = '1995' AND month IN ('01','02')"
        )
        assert len(pruned_df.inputFiles()) < len(all_df.inputFiles())
        assert all(
            "year=1995" in f and ("month=01" in f or "month=02" in f)
            for f in pruned_df.inputFiles()
        )
        # values must match the native path
        native = GlueSparkEngine(
            spark, hive_store, EngineConfig(max_explicit_files=0)
        ).sql(
            "SELECT count(*) AS c FROM glue.tpch.orders_part "
            "WHERE year = '1995' AND month IN ('01','02')"
        )
        assert pruned_df.count() == native.collect()[0].c

    def test_explicit_list_or_filter_not_overpruned(self, spark, hive_store):
        """The reference's OR→AND hazard must not reproduce here."""
        engine = GlueSparkEngine(spark, hive_store)
        df = engine.sql(
            "SELECT count(*) AS c FROM glue.tpch.orders_part "
            "WHERE year = '1995' OR year = '1996'"
        )
        native = GlueSparkEngine(
            spark, hive_store, EngineConfig(max_explicit_files=0)
        ).sql(
            "SELECT count(*) AS c FROM glue.tpch.orders_part "
            "WHERE year = '1995' OR year = '1996'"
        )
        assert df.collect()[0].c == native.collect()[0].c > 0


def test_cache_hits_metadata_store_once(spark, store):
    calls = {"n": 0}

    class CountingStore:
        def get_table(self, db, tbl):
            calls["n"] += 1
            return store.get_table(db, tbl)

    engine = GlueSparkEngine(spark, CountingStore())
    engine.sql("SELECT * FROM glue.tpch.region").count()
    engine.sql("SELECT * FROM glue.tpch.region WHERE r_regionkey=1").count()
    assert calls["n"] == 1
    engine.invalidate_table("tpch", "region")
    engine.sql("SELECT * FROM glue.tpch.region").count()
    assert calls["n"] == 2


def test_concurrent_sql_different_filters(spark, hive_store):
    """ADVICE r1: two concurrent queries on the same table with
    different WHERE clauses must not swap each other's views."""
    from concurrent.futures import ThreadPoolExecutor

    engine = GlueSparkEngine(spark, hive_store)

    def run(year: str) -> int:
        return (
            engine.sql(
                "SELECT count(*) AS c FROM glue.tpch.orders_part "
                f"WHERE year = '{year}'"
            ).collect()[0].c
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        seq = ["1995", "1996"] * 8
        counts = list(pool.map(run, seq))
    c95, c96 = run("1995"), run("1996")
    assert c95 != c96  # the two filters are distinguishable
    assert counts == [c95, c96] * 8


def test_invalidate_table_drops_listing(spark, store):
    listing_calls = {"n": 0}

    class CountingFS:
        def list_files(self, location):
            listing_calls["n"] += 1
            from glue_table_cache_spark.listing import LocalFileSystem

            return LocalFileSystem().list_files(location)

    engine = GlueSparkEngine(spark, store, filesystem=CountingFS())
    engine.sql("SELECT * FROM glue.tpch.region").count()
    engine.sql("SELECT * FROM glue.tpch.region").count()
    assert listing_calls["n"] == 1  # cached
    engine.invalidate_table("tpch", "region")
    engine.sql("SELECT * FROM glue.tpch.region").count()
    # ADVICE r1: the listing key is location-based; invalidate_table
    # must resolve it and actually drop the listing
    assert listing_calls["n"] == 2


def test_sql_does_not_leak_temp_views(spark, store):
    engine = GlueSparkEngine(spark, store)

    def glue_views() -> set[str]:
        return {
            r.viewName
            for r in spark.sql("SHOW VIEWS").collect()
            if r.viewName.startswith("glue__")
        }

    before = glue_views()
    engine.sql("SELECT * FROM glue.tpch.region").count()
    engine.sql("SELECT * FROM glue.tpch.nation WHERE n_regionkey=1").count()
    assert glue_views() == before


def test_mixed_layout_not_prune(spark, store, tmp_path):
    """A table mixing hive dirs with a stray non-hive dir: pruning must
    keep the keyless file (Unknown), basePath discovery must not crash
    (CONFLICTING_DIRECTORY_STRUCTURES), and row-level semantics rule."""
    from pyspark.sql import functions as F

    from tests.conftest import TESTDATA

    base = tmp_path / "mixed"
    od = spark.read.parquet(str(TESTDATA / "orders.parquet"))
    (
        od.withColumn("year", F.date_format("o_orderdate", "yyyy"))
        .where(F.col("year").isin("1995", "1996"))
        .write.partitionBy("year")
        .parquet(str(base))
    )
    od.where(F.year("o_orderdate") == 1997).write.parquet(
        str(base / "no_year_dir")
    )
    store.register_parquet_dir(
        "tpch", "mixed_tbl", str(base), partition_keys=[PartitionKey("year")]
    )
    engine = GlueSparkEngine(spark, store)
    df = engine.sql(
        "SELECT * FROM glue.tpch.mixed_tbl WHERE NOT (year = '1995')"
    )
    # stray file survives pruning; year=1995 files are pruned
    assert any("no_year" in f for f in df.inputFiles())
    assert not any("year=1995" in f for f in df.inputFiles())
    # row-level: only 1996 rows qualify (1997 rows have NULL year)
    expected = od.where(F.year("o_orderdate") == 1996).count()
    assert df.count() == expected


def test_max_explicit_files_reroutes_to_native(spark, hive_store):
    engine = GlueSparkEngine(
        spark,
        hive_store,
        EngineConfig(max_explicit_files=1),
    )
    df = engine.sql(
        "SELECT count(*) AS c FROM glue.tpch.orders_part WHERE year = '1995'"
    )
    explicit = GlueSparkEngine(spark, hive_store).sql(
        "SELECT count(*) AS c FROM glue.tpch.orders_part WHERE year = '1995'"
    )
    assert df.collect()[0].c == explicit.collect()[0].c > 0


def test_max_explicit_files_raises_for_projection(spark, store, tmp_path):
    from glue_table_cache_spark.errors import GlueSparkError

    base = tmp_path / "proj"
    (base / "s1").mkdir(parents=True)
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    df.write.mode("overwrite").parquet(str(base / "s1"))
    store.register_parquet_dir(
        "tpch", "tiny_proj", str(base),
        partition_keys=[PartitionKey("src")],
        parameters={
            "projection.enabled": "true",
            "projection.src.type": "enum",
            "projection.src.values": "s1",
        },
    )
    engine = GlueSparkEngine(
        spark, store, EngineConfig(max_explicit_files=0)
    )
    with pytest.raises(GlueSparkError, match="max_explicit_files"):
        engine.sql("SELECT * FROM glue.tpch.tiny_proj").count()


def test_read_batches(spark, store):
    engine = GlueSparkEngine(spark, store)
    df = engine.sql("SELECT n_nationkey FROM glue.tpch.nation")
    batches = list(engine.read_batches(df, batch_size=10))
    assert [len(b) for b in batches] == [10, 10, 5]
    assert {r.n_nationkey for b in batches for r in b} == set(range(25))


def test_listing_dataframe(spark, hive_store):
    engine = GlueSparkEngine(spark, hive_store)
    ldf = engine.listing_dataframe("tpch", "orders_part")
    assert ldf.columns == ["path", "year", "month"]
    years = {r.year for r in ldf.select("year").distinct().collect()}
    assert "1995" in years
    assert ldf.count() == len(
        engine.list_table_files_cached(
            engine.get_table_metadata_cached("tpch", "orders_part")
        )
    )


def test_join_against_empty_glue_table(spark, store, tmp_path):
    """Reference parity: a query *joining* an empty glue table must run
    and produce the outer side (src/sql-transformer.ts:320-322)."""
    empty = tmp_path / "empty_join_tbl"
    empty.mkdir()
    store.register_parquet_dir("tpch", "empty_join", str(empty))
    engine = GlueSparkEngine(spark, store)
    df = engine.sql(
        """SELECT r.r_name, e.null AS nothing
           FROM glue.tpch.region r LEFT JOIN glue.tpch.empty_join e
             ON true"""
    )
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.nothing is None for r in rows)


def test_invalidate_after_metadata_expiry_still_drops_listing(spark, store):
    """ADVICE r2: if the metadata entry TTL-expired while the listing
    survives, invalidate_table must still resolve and drop the
    listing (peek() alone would miss → stale listing keeps serving)."""
    import time

    listing_calls = {"n": 0}

    class CountingFS:
        def list_files(self, location):
            listing_calls["n"] += 1
            from glue_table_cache_spark.listing import LocalFileSystem

            return LocalFileSystem().list_files(location)

    engine = GlueSparkEngine(
        spark,
        store,
        EngineConfig(
            table_metadata_ttl_ms=30,       # metadata expires quickly...
            s3_listing_ttl_ms=3_600_000,    # ...the listing does not
        ),
        filesystem=CountingFS(),
    )
    engine.sql("SELECT * FROM glue.tpch.region").count()
    assert listing_calls["n"] == 1
    time.sleep(0.05)  # metadata entry is now expired
    engine.invalidate_table("tpch", "region")
    engine.sql("SELECT * FROM glue.tpch.region").count()
    assert listing_calls["n"] == 2  # listing was really invalidated


# -- format dispatch (classification parameter) ------------------------------


def test_json_classified_table_scan(spark, tmp_path):
    """classification=json dispatches the scan to spark.read.json —
    format support past the reference's parquet-only scanner."""
    data = tmp_path / "jtbl"
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
        "id long, grp string, v long",
    ).write.json(str(data))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "jtbl", str(data), parameters={"classification": "json"}
    )
    out = (
        GlueSparkEngine(spark, store)
        .sql("SELECT grp, CAST(sum(v) AS BIGINT) AS s FROM glue.db.jtbl GROUP BY grp")
        .collect()
    )
    assert {(r.grp, r.s) for r in out} == {("a", 40), ("b", 20)}


def test_orc_classified_table_scan(spark, tmp_path):
    """classification=orc dispatches to spark.read.orc — the format
    BASELINE.json names alongside parquet; previously it silently
    fell through to the parquet reader."""
    data = tmp_path / "otbl"
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
        "id long, grp string, v long",
    ).write.orc(str(data))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "otbl", str(data), parameters={"classification": "orc"}
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "SELECT grp, CAST(sum(v) AS BIGINT) AS s "
        "FROM glue.db.otbl GROUP BY grp"
    ).collect()
    assert {(r.grp, r.s) for r in out} == {("a", 40), ("b", 20)}
    # filters still work (pruned-to-zero empties type via the same
    # dispatch, not a parquet footer read)
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.otbl WHERE grp = 'zzz'"
    ).first().n == 0


def test_unknown_classification_refuses(spark, tmp_path):
    """An unrecognized classification (avro, a typo, ...) must refuse
    loudly instead of silently scanning the files as parquet."""
    from glue_table_cache_spark.errors import GlueSparkError

    data = tmp_path / "atbl"
    spark.createDataFrame([(1,)], "id long").write.parquet(str(data))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "atbl", str(data), parameters={"classification": "avro"}
    )
    eng = GlueSparkEngine(spark, store)
    with pytest.raises(GlueSparkError, match="classification='avro'"):
        eng.sql("SELECT * FROM glue.db.atbl").collect()


def test_csv_classified_table_scan(spark, tmp_path):
    """classification=csv honors the crawler's delimiter and
    skip.header.line.count parameters."""
    data = tmp_path / "ctbl"
    data.mkdir()
    (data / "part-0.csv").write_text("id|grp|v\n1|a|10\n2|b|20\n3|a|30\n")
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db",
        "ctbl",
        str(data),
        parameters={
            "classification": "csv",
            "delimiter": "|",
            "skip.header.line.count": "1",
        },
    )
    out = (
        GlueSparkEngine(spark, store)
        .sql("SELECT grp, CAST(sum(v) AS BIGINT) AS s FROM glue.db.ctbl GROUP BY grp")
        .collect()
    )
    assert {(r.grp, r.s) for r in out} == {("a", 40), ("b", 20)}


def test_csv_multi_line_header_rejected(spark, tmp_path):
    """skip.header.line.count > 1 must raise (Spark's csv header option
    can only drop one line per file) — silently ingesting the extra
    header lines as data would corrupt every downstream result."""
    import pytest

    from glue_table_cache_spark.errors import GlueSparkError

    data = tmp_path / "ctbl2"
    data.mkdir()
    (data / "part-0.csv").write_text("x\ny\n1\n2\n")
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db",
        "ctbl2",
        str(data),
        parameters={
            "classification": "csv",
            "skip.header.line.count": "2",
        },
    )
    with pytest.raises(GlueSparkError, match="skip.header.line.count"):
        GlueSparkEngine(spark, store).sql(
            "SELECT * FROM glue.db.ctbl2"
        ).collect()


def test_explicit_mode_json_table(spark, tmp_path):
    """The explicit-file-list path also dispatches on classification."""
    data = tmp_path / "jex"
    spark.createDataFrame(
        [(1, 5), (2, 7)], "id long, v long"
    ).write.json(str(data))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "jex", str(data), parameters={"classification": "json"}
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "SELECT CAST(sum(v) AS BIGINT) AS s FROM glue.db.jex"
    ).collect()
    assert out[0].s == 12


def test_failed_query_does_not_leak_temp_views(spark, store):
    """Analysis failures must still drop the per-query-unique views."""
    import pyspark.errors

    eng = GlueSparkEngine(spark, store)
    before = {v.name for v in spark.catalog.listTables()}
    with pytest.raises(pyspark.errors.AnalysisException):
        eng.sql("SELECT no_such_column FROM glue.tpch.region").collect()
    after = {v.name for v in spark.catalog.listTables()}
    assert after == before


def test_failed_meta_and_cdf_refs_do_not_leak_views(spark, store):
    """A metadata-table or table_changes() builder that refuses
    (non-Iceberg .snapshots, non-Delta TVF) raises AFTER the
    per-query scan views were registered — those must still drop."""
    from glue_table_cache_spark.errors import GlueSparkError

    eng = GlueSparkEngine(spark, store)
    before = {v.name for v in spark.catalog.listTables()}
    with pytest.raises(GlueSparkError, match="Iceberg"):
        eng.sql(
            "SELECT r.r_name FROM glue.tpch.region r "
            "JOIN glue.tpch.nation.snapshots s ON 1=1"
        )
    with pytest.raises(GlueSparkError, match="table_changes"):
        eng.sql(
            "SELECT r.r_name FROM glue.tpch.region r "
            "JOIN table_changes(glue.tpch.nation, 0) c ON 1=1"
        )
    after = {v.name for v in spark.catalog.listTables()}
    assert after == before


def test_table_format_walks_are_cached_and_invalidated(
    spark, tmp_path, monkeypatch
):
    """Delta/Iceberg/Hudi metadata walks go through the listing
    LRU+TTL cache — the reference's caching posture for what IS the
    format's own file listing — and invalidate_table drops them."""
    import glue_table_cache_spark.sources.delta as delta_mod
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.sources.delta_fixture import (
        build_delta_table,
    )

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    base = build_delta_table(tmp_path / "cached", [{"add": [df]}])
    calls = {"n": 0}
    real = delta_mod.delta_scan_info

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(delta_mod, "delta_scan_info", counting)
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "c", str(base),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql("SELECT * FROM glue.db.c").collect()
    eng.sql("SELECT id FROM glue.db.c WHERE id = 1").collect()
    assert calls["n"] == 1  # second query served from the cache
    eng.invalidate_table("db", "c")
    eng.sql("SELECT * FROM glue.db.c").collect()
    assert calls["n"] == 2  # invalidation forces a fresh walk


def test_misclassified_format_location_refuses(spark, tmp_path):
    """A catalog entry that lost its Delta/Hudi format markers must
    not silently scan the directory as raw parquet (every historical
    file: deleted rows resurrect, rewritten rows duplicate) — the
    guard refuses with the registration fix, and the documented
    opt-out forces the raw scan."""
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    dloc = str(tmp_path / "d")
    write_delta_append(
        spark.createDataFrame([(1,)], "id long"), dloc
    )
    hloc = str(tmp_path / "h")
    write_hudi_append(
        spark.createDataFrame([(2,)], "id long"), hloc
    )
    store = LocalMetadataStore()
    store.register_parquet_dir("db", "d", dloc)  # markers lost
    store.register_parquet_dir("db", "h", hloc)
    eng = GlueSparkEngine(spark, store)
    with pytest.raises(GlueSparkError, match="_delta_log"):
        eng.sql("SELECT * FROM glue.db.d")
    with pytest.raises(GlueSparkError, match="hoodie"):
        eng.sql("SELECT * FROM glue.db.h")
    # opt-out scans raw, as documented
    loose = GlueSparkEngine(
        spark,
        store,
        EngineConfig(misclassified_format_guard=False),
    )
    assert loose.sql("SELECT * FROM glue.db.d").count() >= 1


def test_pruned_to_zero_lakehouse_scan_keeps_schema(spark, tmp_path):
    """Zone-map skipping / partition pruning that drops EVERY file must
    yield an empty relation with the REAL schema — a filtered query
    over it is an empty RESULT, not an UNRESOLVED_COLUMN analysis
    error.  (The reference's SELECT NULL LIMIT 0 shape is reserved for
    tables that never held a file.)"""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, tag string"
    )
    store = LocalMetadataStore()
    write_delta_append(df.coalesce(1), str(tmp_path / "d"))
    store.register_parquet_dir(
        "db", "d", str(tmp_path / "d"),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    write_iceberg_append(df.coalesce(1), str(tmp_path / "i"))
    store.register_parquet_dir(
        "db", "i", str(tmp_path / "i"),
        parameters={"table_type": "ICEBERG"},
    )
    write_hudi_append(df.coalesce(1), str(tmp_path / "h"))
    store.register_parquet_dir(
        "db", "h", str(tmp_path / "h"),
        parameters={"hoodie.table.name": "h"},
    )
    eng = GlueSparkEngine(spark, store)
    for t in ("d", "i", "h"):
        # id > 100 provably matches no file's zone map — all skipped;
        # the filter on `tag` must still resolve
        out = eng.sql(
            f"SELECT tag FROM glue.db.{t} WHERE id > 100 AND tag = 'a'"
        )
        assert out.collect() == []
        assert "tag" in out.columns
