"""Prefix-pruned, parallel hive listing (r14, VERDICT r13 #1): the
query's partition predicate prunes directory PREFIXES before their
leaves are ever listed, surviving prefixes fan out concurrently, and
the result is provably the flat listing minus files the engine's own
driver prune would drop anyway (parity tests below)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_table_cache_spark.catalog import (
    LocalMetadataStore,
    PartitionKey,
)
from glue_table_cache_spark.config import EngineConfig
from glue_table_cache_spark.engine import GlueSparkEngine
from glue_table_cache_spark.listing import (
    ListingStats,
    list_table_files,
    list_table_files_pruned,
)
from glue_table_cache_spark.projection import extractors_for
from glue_table_cache_spark.pruning import (
    extract_partition_predicate,
    prune_files,
)

KEYS = [PartitionKey("year"), PartitionKey("month")]


def _extractors():
    return extractors_for(KEYS, {})


def _predicate(sql: str):
    return extract_partition_predicate(
        sql, ["year", "month"], {"orders_part"}
    )


def test_pruned_listing_parity_with_flat(hive_orders_dir):
    flat = list_table_files(str(hive_orders_dir), _extractors())
    years = sorted({f.partition_values["year"] for f in flat})
    assert len(years) > 1
    pred = _predicate(
        f"SELECT * FROM orders_part WHERE year = '{years[0]}'"
    )
    stats = ListingStats()
    pruned = list_table_files_pruned(
        str(hive_orders_dir), _extractors(), pred, stats=stats
    )
    # parity: pruned ⊆ flat, and the engine's own prune over either
    # input yields the identical final set
    assert {f.path for f in pruned} <= {f.path for f in flat}
    assert {f.path for f in prune_files(pruned, pred)} == {
        f.path for f in prune_files(flat, pred)
    }
    # the walk actually pruned prefixes and listed fewer objects —
    # every surviving file is in the wanted year
    assert stats.prefixes_pruned >= len(years) - 1
    assert stats.files_listed < len(flat)
    assert all(
        f.partition_values["year"] == years[0] for f in pruned
    )


def test_pruned_listing_or_predicate_not_overpruned(hive_orders_dir):
    """OR across keys: a prefix is pruned only when the WHOLE tree
    evaluates False from its prefix values — ``year=X OR month=07``
    must keep every year (month unknown at the year level)."""
    flat = list_table_files(str(hive_orders_dir), _extractors())
    years = sorted({f.partition_values["year"] for f in flat})
    pred = _predicate(
        f"SELECT * FROM orders_part WHERE year = '{years[0]}' "
        "OR month = '07'"
    )
    stats = ListingStats()
    pruned = list_table_files_pruned(
        str(hive_orders_dir), _extractors(), pred, stats=stats
    )
    assert {f.path for f in prune_files(pruned, pred)} == {
        f.path for f in prune_files(flat, pred)
    }
    # every year's 07 leaf survived
    kept_years = {
        f.partition_values["year"]
        for f in pruned
        if f.partition_values.get("month") == "07"
    }
    assert kept_years == {
        f.partition_values["year"]
        for f in flat
        if f.partition_values.get("month") == "07"
    }


def test_pruned_listing_distributed_fanout(
    spark, hive_orders_dir, monkeypatch
):
    import glue_table_cache_spark.listing as L

    monkeypatch.setattr(L, "DISTRIBUTED_LISTING_MIN_PREFIXES", 2)
    monkeypatch.setattr(L, "LISTING_POOL_WORKERS", 2)
    flat = list_table_files(str(hive_orders_dir), _extractors())
    years = sorted({f.partition_values["year"] for f in flat})
    pred = _predicate(
        f"SELECT * FROM orders_part WHERE year >= '{years[1]}'"
    )
    stats = ListingStats()
    pruned = list_table_files_pruned(
        str(hive_orders_dir),
        _extractors(),
        pred,
        stats=stats,
        spark=spark,
    )
    assert stats.distributed
    # year fully decides this predicate, so the prefix prune alone
    # already yields the exact final set
    assert {f.path for f in pruned} == {
        f.path for f in prune_files(flat, pred)
    }
    assert {f.path for f in prune_files(pruned, pred)} == {
        f.path for f in prune_files(flat, pred)
    }


def test_engine_scan_uses_pruned_listing(spark, hive_store):
    """End-to-end: the explicit-list engine result matches the native
    scan, the listing cache holds a predicate-fingerprint entry, and
    a later unfiltered query loads the full listing (retiring the
    pruned entries, same contract as the format walks)."""
    eng = GlueSparkEngine(spark, hive_store)
    native = GlueSparkEngine(
        spark, hive_store, EngineConfig(max_explicit_files=0)
    )
    flat_years = native.sql(
        "SELECT DISTINCT year FROM glue.tpch.orders_part ORDER BY year"
    ).collect()
    year = flat_years[0].year
    q = (
        "SELECT count(*) AS n FROM glue.tpch.orders_part "
        f"WHERE year = '{year}'"
    )
    assert (
        eng.sql(q).first().n == native.sql(q).first().n
    )
    tkey = "tpch_orders_part"
    wkeys = [k for k in eng._listing_keys[tkey] if "#w:" in k]
    assert wkeys, "pruned listing should cache under a fingerprint"
    # unfiltered query: full listing under the bare key, #w retired
    full = eng.sql(
        "SELECT count(*) AS n FROM glue.tpch.orders_part"
    ).first().n
    assert full == native.sql(
        "SELECT count(*) AS n FROM glue.tpch.orders_part"
    ).first().n
    assert not [k for k in eng._listing_keys[tkey] if "#w:" in k]


def test_engine_pruned_to_zero_keeps_schema(spark, hive_store):
    eng = GlueSparkEngine(spark, hive_store)
    out = eng.sql(
        "SELECT o_orderkey FROM glue.tpch.orders_part "
        "WHERE year = '1800'"
    )
    assert out.count() == 0
    assert out.columns == ["o_orderkey"]


def test_projection_enum_prefix_not_trusted(spark, tmp_path):
    """The enum extractor is end-anchored (the LAST path component),
    so its value is NOT prefix-provable — the pruned walk must keep
    descending (no unsound prefix prune) and the driver prune still
    filters correctly at the leaves."""
    base = tmp_path / "enumtbl"
    for src, rows in (("s1", [(1,)]), ("s2", [(2,)])):
        d = base / src
        spark.createDataFrame(rows, "id long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db",
        "enumtbl",
        str(base),
        partition_keys=[PartitionKey("src")],
        parameters={
            "projection.enabled": "true",
            "projection.src.type": "enum",
            "projection.src.values": "s1,s2",
        },
    )
    tbl = store.get_table("db", "enumtbl")
    extractors = extractors_for(tbl.partition_keys, tbl.projection)
    pred = extract_partition_predicate(
        "SELECT * FROM enumtbl WHERE src = 's1'", ["src"], {"enumtbl"}
    )
    stats = ListingStats()
    pruned = list_table_files_pruned(
        str(base), extractors, pred, stats=stats
    )
    flat = list_table_files(str(base), extractors)
    # no prefix was (unsoundly) pruned; leaf-level prune is correct
    assert {f.path for f in pruned} == {f.path for f in flat}
    kept = prune_files(pruned, pred)
    assert all(f.partition_values["src"] == "s1" for f in kept)
    eng = GlueSparkEngine(spark, store)
    out = eng.sql("SELECT id FROM glue.db.enumtbl WHERE src = 's1'")
    assert [r.id for r in out.collect()] == [1]


def test_fs_without_list_dir_falls_back_flat(hive_orders_dir):
    from glue_table_cache_spark.listing import LocalFileSystem

    class FlatOnly:
        def list_files(self, location):
            return LocalFileSystem().list_files(location)

    pred = _predicate(
        "SELECT * FROM orders_part WHERE year = '1996'"
    )
    got = list_table_files_pruned(
        str(hive_orders_dir), _extractors(), pred, fs=FlatOnly()
    )
    flat = list_table_files(str(hive_orders_dir), _extractors())
    assert {f.path for f in got} == {f.path for f in flat}


def test_missing_location_parity_returns_empty(spark, tmp_path):
    """A registered-but-absent location: the flat lister returns []
    (reference empty view); the pruned walk must too, not raise
    FileNotFoundError (r14 review fix)."""
    missing = str(tmp_path / "never_written")
    pred = _predicate(
        "SELECT * FROM orders_part WHERE year = '1996'"
    )
    assert (
        list_table_files_pruned(missing, _extractors(), pred) == []
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "absent", missing, partition_keys=[PartitionKey("year")]
    )
    eng = GlueSparkEngine(spark, store)
    # never-held-a-file parity: both the filtered and unfiltered
    # query get the reference's SELECT NULL LIMIT 0 view — a WHERE
    # on it is the same UNRESOLVED_COLUMN analysis error the flat
    # path has always produced, never a raw FileNotFoundError
    out = eng.sql("SELECT * FROM glue.db.absent")
    assert out.count() == 0 and out.columns == ["null"]
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        eng.sql(
            "SELECT * FROM glue.db.absent WHERE year = '1996'"
        ).collect()


def test_injected_fs_used_for_fanout_stage(hive_orders_dir, monkeypatch):
    """An injected filesystem must serve EVERY stage of the pruned
    walk — the whole-subtree fan-out included (r14 review fix: it
    previously rebuilt a default filesystem per prefix)."""
    import glue_table_cache_spark.listing as L

    calls = {"n": 0}

    class Counting(L.LocalFileSystem):
        def list_dir(self, location):
            calls["n"] += 1
            return super().list_dir(location)

    # force the fan-out stage immediately
    monkeypatch.setattr(L, "LISTING_POOL_WORKERS", 1)
    pred = _predicate("SELECT * FROM orders_part WHERE month = '07'")
    fs = Counting()
    files = list_table_files_pruned(
        str(hive_orders_dir), _extractors(), pred, fs=fs
    )
    flat = list_table_files(str(hive_orders_dir), _extractors())
    # month=07 cannot prune at the year level, so every object lists
    # — and every list_dir went through the injected fs (root + each
    # year dir + each month dir)
    assert {f.path for f in prune_files(files, pred)} == {
        f.path for f in prune_files(flat, pred)
    }
    years = {f.partition_values["year"] for f in flat}
    # with LISTING_POOL_WORKERS=1 the BFS stage is skipped entirely,
    # so EVERY list_dir of the walk (root + each year + each
    # surviving month=07 dir) went through the injected fs
    assert calls["n"] == 1 + len(years) * 2


def test_projection_date_prefix_pruning(spark, tmp_path):
    """A single-component date projection (yyyy-MM-dd) prunes at its
    directory level; a SLASHED format (yyyy/MM/dd) cannot match a
    shallow prefix (fixed-length regex spans levels) so the walk
    descends safely and prunes only where the full pattern resolves."""
    from glue_table_cache_spark.catalog import ProjectionPattern
    from glue_table_cache_spark.projection import (
        projection_extractor,
    )

    base = tmp_path / "dated"
    for d in ("2024-01-01", "2024-01-02", "2024-02-01"):
        (base / d).mkdir(parents=True)
        (base / d / "part-0.parquet").touch()
    ex = [
        projection_extractor(
            ProjectionPattern(
                column="dt", type="date", format="yyyy-MM-dd"
            )
        )
    ]
    pred = extract_partition_predicate(
        "SELECT * FROM t WHERE dt = '2024-01-02'", ["dt"], {"t"}
    )
    stats = ListingStats()
    got = list_table_files_pruned(str(base), ex, pred, stats=stats)
    assert [f.partition_values["dt"] for f in got] == ["2024-01-02"]
    assert stats.prefixes_pruned == 2
    # slashed format: shallow prefixes yield no value (Unknown) —
    # every level descends, the leaf-level values still extract
    base2 = tmp_path / "slashed"
    for y, m in (("2024", "01"), ("2024", "02"), ("2023", "12")):
        (base2 / y / m).mkdir(parents=True)
        (base2 / y / m / "part-0.parquet").touch()
    ex2 = [
        projection_extractor(
            ProjectionPattern(
                column="dt", type="date", format="yyyy/MM"
            )
        )
    ]
    pred2 = extract_partition_predicate(
        "SELECT * FROM t WHERE dt = '2024/02'", ["dt"], {"t"}
    )
    stats2 = ListingStats()
    got2 = list_table_files_pruned(
        str(base2), ex2, pred2, stats=stats2
    )
    flat2 = list_table_files(str(base2), ex2)
    # parity with flat + engine prune; the month level DID prune
    # (the full yyyy/MM pattern resolves there)
    assert {f.path for f in prune_files(got2, pred2)} == {
        f.path for f in prune_files(flat2, pred2)
    }
    assert [
        f.partition_values["dt"] for f in prune_files(got2, pred2)
    ] == ["2024/02"]
    assert stats2.prefixes_pruned >= 1
