"""Iceberg manifest walk (sources/iceberg.py) + avro_lite codec tests,
mirroring /root/reference/test/util.iceberg.test.ts and the listing
hygiene of /root/reference/test/integration-test.ts:185-211."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_table_cache_spark.catalog import LocalMetadataStore
from glue_table_cache_spark.engine import GlueSparkEngine
from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.sources.avro_lite import read_avro, write_avro
from glue_table_cache_spark.sources.iceberg import iceberg_data_files
from glue_table_cache_spark.sources.iceberg_fixture import build_iceberg_table
from tests.conftest import TESTDATA


def test_avro_roundtrip(tmp_path):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "maybe", "type": ["null", "long"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "props", "type": {"type": "map", "values": "int"}},
            {"name": "ratio", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "path", "type": "string"}],
                },
            },
        ],
    }
    records = [
        {
            "s": "héllo",
            "n": -(2**40),
            "maybe": None,
            "tags": ["a", "b"],
            "props": {"x": 1, "y": -2},
            "ratio": 0.25,
            "flag": True,
            "nested": {"path": "s3://b/k"},
        },
        {
            "s": "",
            "n": 0,
            "maybe": 7,
            "tags": [],
            "props": {},
            "ratio": -1.5,
            "flag": False,
            "nested": {"path": ""},
        },
    ]
    p = tmp_path / "t.avro"
    write_avro(p, schema, records)
    assert read_avro(p) == records


def test_avro_aware_datetime_encodes_as_utc_instant(tmp_path):
    """A timezone-aware datetime encodes the INSTANT (converted to
    UTC), not its local wall clock; a naive one keeps the documented
    naive-as-UTC convention — the same instant expressed at +05:00
    and naive-UTC round-trips to identical micros."""
    import datetime as dt

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }
    off = dt.timezone(dt.timedelta(hours=5))
    aware = dt.datetime(2024, 3, 1, 15, 30, 0, 250, tzinfo=off)
    naive_utc = dt.datetime(2024, 3, 1, 10, 30, 0, 250)  # same instant
    p1, p2 = tmp_path / "aware.avro", tmp_path / "naive.avro"
    write_avro(p1, schema, [{"ts": aware}])
    write_avro(p2, schema, [{"ts": naive_utc}])
    assert read_avro(p1) == read_avro(p2)


def test_avro_empty_file(tmp_path):
    schema = {"type": "record", "name": "e",
              "fields": [{"name": "x", "type": "long"}]}
    p = tmp_path / "empty.avro"
    write_avro(p, schema, [])
    assert read_avro(p) == []


@pytest.fixture(scope="module")
def iceberg_table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ice") / "orders_iceberg"
    orders = spark.read.parquet(str(TESTDATA / "orders.parquet"))
    even = orders.where(F.col("o_orderkey") % 2 == 0)
    odd = orders.where(F.col("o_orderkey") % 2 == 1)
    # orphan duplicates snapshot 1 — a directory listing would
    # double-count; the manifest walk must ignore it
    build_iceberg_table(base, [even, odd], orphan=even)
    return base


def test_manifest_walk_excludes_orphans(iceberg_table):
    files = iceberg_data_files(str(iceberg_table))
    assert len(files) == 2
    assert all("orphan" not in f for f in files)
    assert {f.rsplit("/", 1)[-1] for f in files} == {
        "part-1.parquet", "part-2.parquet",
    }


def test_version_offset_time_travel(iceberg_table):
    files = iceberg_data_files(str(iceberg_table), version_offset=1)
    assert [f.rsplit("/", 1)[-1] for f in files] == ["part-1.parquet"]
    with pytest.raises(GlueSparkError):
        iceberg_data_files(str(iceberg_table), version_offset=5)


def test_engine_scans_iceberg_current_snapshot(spark, iceberg_table):
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "tpch", "orders_ice", str(iceberg_table),
        parameters={"table_type": "ICEBERG"},
    )
    engine = GlueSparkEngine(spark, store)
    got = engine.sql(
        "SELECT count(*) AS c FROM glue.tpch.orders_ice"
    ).collect()[0].c
    expected = spark.read.parquet(str(TESTDATA / "orders.parquet")).count()
    # orphan not scanned → exactly the full orders rowcount, not more
    assert got == expected


def test_manifest_partition_pruning(spark, tmp_path):
    """Partition predicates prune data files from the MANIFEST's
    partition tuples before the reader sees their paths."""
    from glue_table_cache_spark.catalog import PartitionKey
    from glue_table_cache_spark.sources.iceberg import iceberg_scan_info

    # identity partitioning: the partition column also lives in the
    # data files, the manifest records its value per file
    a = spark.createDataFrame(
        [(1, "1996"), (2, "1996")], "id long, year string"
    )
    b = spark.createDataFrame([(3, "1997")], "id long, year string")
    c = spark.createDataFrame(
        [(4, "1998"), (5, "1998")], "id long, year string"
    )
    base = build_iceberg_table(
        tmp_path / "it",
        [
            {"add": a, "partition": {"year": "1996"}},
            {"add": b, "partition": {"year": "1997"}},
            {"add": c, "partition": {"year": "1998"}},
        ],
    )
    entries, dels = iceberg_scan_info(str(base))
    assert {pv["year"] for _p, pv in entries} == {"1996", "1997", "1998"}
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "pice", str(base),
        partition_keys=[PartitionKey("year", "string")],
        parameters={"table_type": "ICEBERG"},
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql("SELECT id FROM glue.db.pice WHERE year = '1997'")
    # NOTE: iceberg data paths carry no k=v dirs, so the partition
    # column itself is not a scan column — the predicate's ONLY
    # effect is manifest-level file pruning
    files = [f for f in out.inputFiles() if f.endswith(".parquet")]
    assert len(files) == 1 and files[0].endswith("part-2.parquet")
    assert sorted(r.id for r in out.collect()) == [3]
    both = eng.sql(
        "SELECT id FROM glue.db.pice "
        "WHERE year = '1996' OR year = '1998' ORDER BY id"
    )
    assert [r.id for r in both.collect()] == [1, 2, 4, 5]


def test_empty_iceberg_table_gives_empty_relation(spark, tmp_path):
    """Zero snapshots → the reference's SELECT NULL LIMIT 0 view, not an
    UNABLE_TO_INFER_SCHEMA crash."""
    import json

    base = tmp_path / "ice_empty"
    (base / "metadata").mkdir(parents=True)
    (base / "metadata" / "v1.metadata.json").write_text(
        json.dumps({"last-sequence-number": 1, "snapshots": []})
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "tpch", "ice_empty", str(base), parameters={"table_type": "ICEBERG"}
    )
    engine = GlueSparkEngine(spark, store)
    assert engine.sql("SELECT * FROM glue.tpch.ice_empty").count() == 0


def test_deleted_manifest_entries_skipped(spark, tmp_path):
    """A rewritten manifest's status=2 (DELETED) entries left the table
    in that snapshot and must not be scanned — the reference's walk
    reads data_file paths unconditionally (iceberg.ts:31-33), a bug its
    own fixtures never trip."""
    a = spark.createDataFrame([(1,)], "id long")
    b = spark.createDataFrame([(2,)], "id long")
    base = build_iceberg_table(
        tmp_path / "it",
        [a, b, {"add": None, "delete": ["part-1.parquet"]}],
    )
    names = {p.rsplit("/", 1)[1] for p in iceberg_data_files(str(base))}
    assert names == {"part-2.parquet"}
    # time travel to before the delete still sees both
    prev = {
        p.rsplit("/", 1)[1]
        for p in iceberg_data_files(str(base), version_offset=1)
    }
    assert prev == {"part-1.parquet", "part-2.parquet"}


def test_row_level_delete_manifest_refused(spark, tmp_path):
    """A content=1 (delete) manifest whose entries are NOT marked as
    position/equality delete files is malformed — refusing loudly
    beats scanning it as data or ignoring it (either resurrects or
    invents rows).  Position deletes have their own supported path
    (test_position_deletes_*); equality deletes always refuse."""
    a = spark.createDataFrame([(1,)], "id long")
    base = build_iceberg_table(
        tmp_path / "it",
        [a, {"add": None, "delete": ["zzz"], "delete_manifest": True}],
    )
    with pytest.raises(GlueSparkError, match="unknown delete content"):
        iceberg_data_files(str(base))


def test_equality_deletes_refused_when_malformed(spark, tmp_path):
    """content=2 with no equality_ids is unapplyable — refuse, never
    guess or skip (both resurrect or invent deletions)."""
    a = spark.createDataFrame([(1,)], "id long")
    base = build_iceberg_table(
        tmp_path / "it", [a, {"add": None, "eq_delete": True}]
    )
    with pytest.raises(GlueSparkError, match="EQUALITY delete"):
        iceberg_data_files(str(base), with_deletes=True)


def test_equality_deletes_refused_by_path_api(spark, tmp_path):
    """A WELL-FORMED equality delete still refuses through the
    path-list APIs: their return shape drops the per-file sequence
    numbers the delete's scoping needs."""
    a = spark.createDataFrame([(1, "x")], "id long, k string")
    base = build_iceberg_table(
        tmp_path / "it",
        [
            a,
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 1}]},
            },
        ],
    )
    with pytest.raises(GlueSparkError, match="EQUALITY delete"):
        iceberg_data_files(str(base), with_deletes=True)


def test_equality_deletes_applied_with_seq_scoping(spark, tmp_path):
    """The v2 contract end-to-end: an equality delete removes matching
    rows ONLY from data files with a strictly smaller data sequence
    number — a matching row re-inserted AFTER the delete survives."""
    from glue_table_cache_spark.sources.iceberg import (
        apply_equality_deletes,
        iceberg_scan_details,
    )

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    b = spark.createDataFrame([(4, "d")], "id long, v string")
    # snapshot 3: delete id in (2, 4); snapshot 4 re-inserts id=2
    reinsert = spark.createDataFrame([(2, "b2")], "id long, v string")
    base = build_iceberg_table(
        tmp_path / "it",
        [
            a,
            b,
            {
                "add": None,
                "eq_delete": {
                    "columns": ["id"],
                    "rows": [{"id": 2}, {"id": 4}],
                },
            },
            reinsert,
        ],
    )
    entries, pos, eq = iceberg_scan_details(str(base))
    assert pos == [] and len(eq) == 1
    assert eq[0]["columns"] == ["id"] and eq[0]["seq"] == 3
    seqs = {p.rsplit("/", 1)[1]: s for p, _pv, s in entries}
    assert seqs == {
        "part-1.parquet": 1, "part-2.parquet": 2, "part-4.parquet": 4,
    }
    df = spark.read.parquet(*[p for p, _pv, _s in entries])
    out = apply_equality_deletes(df, entries, eq)
    got = sorted((r.id, r.v) for r in out.collect())
    # ids 2 and 4 deleted from the older files; the post-delete
    # re-insert of id=2 survives
    assert got == [(1, "a"), (2, "b2"), (3, "c")]
    assert "__data_seq" not in out.columns


def test_equality_deletes_null_matches_null(spark, tmp_path):
    """Per spec, equality deletes match null to null."""
    from glue_table_cache_spark.sources.iceberg import (
        apply_equality_deletes,
        iceberg_scan_details,
    )

    a = spark.createDataFrame(
        [(1, None), (2, "b")], "id long, v string"
    )
    base = build_iceberg_table(
        tmp_path / "it",
        [
            a,
            {
                "add": None,
                "eq_delete": {"columns": ["v"], "rows": [{"v": None}]},
            },
        ],
    )
    entries, _pos, eq = iceberg_scan_details(str(base))
    df = spark.read.parquet(*[p for p, _pv, _s in entries])
    out = apply_equality_deletes(df, entries, eq)
    assert sorted(r.id for r in out.collect()) == [2]


def test_engine_scans_iceberg_with_equality_deletes(spark, tmp_path):
    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    base = build_iceberg_table(
        tmp_path / "it",
        [
            a,
            {
                "add": None,
                "eq_delete": {
                    "columns": ["id", "v"],
                    "rows": [{"id": 2, "v": "b"}, {"id": 3, "v": "X"}],
                },
            },
        ],
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "eqice", str(base), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql("SELECT id, v FROM glue.db.eqice ORDER BY id")
    # (2,'b') matches both columns → deleted; (3,'X') matches no row
    # (v differs) → id=3 survives: ALL delete columns must match
    assert [(r.id, r.v) for r in out.collect()] == [
        (1, "a"), (3, "c"),
    ]


def test_position_deletes_masked(spark, tmp_path):
    """Format-v2 position deletes: default mode refuses; with_deletes
    returns the delete files and apply_position_deletes masks exactly
    the named (file, pos) rows via the distributed anti-join."""
    from glue_table_cache_spark.sources.iceberg import (
        apply_position_deletes,
    )

    a = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    b = spark.createDataFrame([(4,), (5,)], "id long")
    base = build_iceberg_table(
        tmp_path / "it",
        [
            a,
            b,
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"].isin([2, 3]),
                    "part-2.parquet": lambda pdf: pdf["id"] == 5,
                },
            },
        ],
    )
    with pytest.raises(GlueSparkError, match="position delete"):
        iceberg_data_files(str(base))
    data, dels = iceberg_data_files(str(base), with_deletes=True)
    assert len(data) == 2 and len(dels) == 2
    out = apply_position_deletes(spark.read.parquet(*data), dels)
    assert sorted(r.id for r in out.collect()) == [1, 4]
    # time travel to before the deletes sees everything
    prev = iceberg_data_files(str(base), version_offset=1)
    assert sorted(
        r.id for r in spark.read.parquet(*prev).collect()
    ) == [1, 2, 3, 4, 5]
    # the incremental feed reports the new delete files as added
    from glue_table_cache_spark.sources.iceberg import iceberg_changes

    added, removed = iceberg_changes(str(base), versions_back=1)
    assert {p.rsplit("/", 1)[1] for p in added} == {
        "pos-delete-3-0.parquet",
        "pos-delete-3-1.parquet",
    }
    assert removed == []


def test_iceberg_changes_incremental_feed(spark, tmp_path):
    from glue_table_cache_spark.sources.iceberg import iceberg_changes

    a = spark.createDataFrame([(1,)], "id long")
    b = spark.createDataFrame([(2,)], "id long")
    base = build_iceberg_table(
        tmp_path / "it",
        [a, b, {"add": None, "delete": ["part-1.parquet"]}],
    )
    added, removed = iceberg_changes(str(base), versions_back=1)
    assert [p.rsplit("/", 1)[1] for p in added] == []
    assert [p.rsplit("/", 1)[1] for p in removed] == ["part-1.parquet"]
    added2, removed2 = iceberg_changes(str(base), versions_back=2)
    assert [p.rsplit("/", 1)[1] for p in added2] == ["part-2.parquet"]
    assert [p.rsplit("/", 1)[1] for p in removed2] == ["part-1.parquet"]


def test_timestamp_time_travel(spark, tmp_path):
    """as_of_timestamp_ms picks the newest snapshot at or before the
    instant (fixture stamps snapshot i at 1700000000000 + i)."""
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    a = spark.createDataFrame([(1,)], "id long")
    b = spark.createDataFrame([(2,)], "id long")
    base = build_iceberg_table(tmp_path / "it", [a, b])
    t0 = 1700000000000

    def names(ms):
        entries, _p, _e = iceberg_scan_details(
            str(base), as_of_timestamp_ms=ms
        )
        return {p.rsplit("/", 1)[1] for p, _pv, _s in entries}

    assert names(t0 + 1) == {"part-1.parquet"}
    assert names(t0 + 2) == {"part-1.parquet", "part-2.parquet"}
    with pytest.raises(GlueSparkError, match="at or before"):
        names(t0)


def test_iceberg_snapshots(spark, tmp_path):
    from glue_table_cache_spark.sources.iceberg import iceberg_snapshots

    a = spark.createDataFrame([(1,)], "id long")
    b = spark.createDataFrame([(2,)], "id long")
    base = build_iceberg_table(tmp_path / "it", [a, b])
    rows = iceberg_snapshots(spark, str(base)).collect()
    assert [(r.snapshot_id, r.sequence_number) for r in rows] == [
        (1001, 1), (1002, 2),
    ]
    assert all(r.manifest_list.endswith(".avro") for r in rows)


def test_iceberg_cdf_rows(spark, tmp_path):
    from glue_table_cache_spark.sources.iceberg import iceberg_cdf

    a = spark.createDataFrame([(1,), (2,)], "id long")
    b = spark.createDataFrame([(3,)], "id long")
    base = build_iceberg_table(
        tmp_path / "it",
        [a, b, {"add": None, "delete": ["part-1.parquet"]}],
    )
    # window: last snapshot only — part-1 removed
    out = iceberg_cdf(spark, str(base), versions_back=1)
    assert sorted((r.id, r._change_type) for r in out.collect()) == [
        (1, "delete"), (2, "delete"),
    ]
    # window: both changes — b inserted, a's file removed
    out2 = iceberg_cdf(spark, str(base), versions_back=2)
    assert sorted((r.id, r._change_type) for r in out2.collect()) == [
        (1, "delete"), (2, "delete"), (3, "insert"),
    ]


def test_iceberg_cdf_synthesizes_position_delete_windows(
    spark, tmp_path
):
    """A position-delete window no longer refuses: the deleted row
    reads back from the prior state's file at its (file, pos) target
    (r11, delegated to the table_changes walk)."""
    from glue_table_cache_spark.sources.iceberg import iceberg_cdf

    a = spark.createDataFrame([(1,), (2,)], "id long")
    base = build_iceberg_table(
        tmp_path / "it",
        [
            a,
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
            },
        ],
    )
    out = iceberg_cdf(spark, str(base), versions_back=1)
    assert [(r.id, r._change_type) for r in out.collect()] == [
        (2, "delete")
    ]
    with pytest.raises(GlueSparkError, match="versions_back"):
        iceberg_cdf(spark, str(base), versions_back=0)


def test_sql_version_as_of_iceberg(spark, tmp_path):
    """`VERSION AS OF <sequence-number>` steers the manifest walk."""
    from glue_table_cache_spark.engine import GlueSparkEngine

    a = spark.createDataFrame([(1,), (2,)], "id long")
    b = spark.createDataFrame([(3,)], "id long")
    base = build_iceberg_table(tmp_path / "ttsql", [a, b])
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "tt", str(base), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.tt").collect()
    ) == [1, 2, 3]
    assert sorted(
        r.id
        for r in eng.sql(
            "SELECT id FROM glue.db.tt VERSION AS OF 1"
        ).collect()
    ) == [1, 2]


def test_engine_partitioned_iceberg_recovers_partition_columns(
    spark, tmp_path
):
    """The repo's writer partitions hive-style, so the partition value
    lives in the directory name, not the data file; a leaf-file scan
    must re-attach it (typed) from the manifest partition tuple — and
    keep doing so after OPTIMIZE moves files out of ``k=v`` dirs,
    where the MANIFEST is the only remaining source of the value."""
    from glue_table_cache_spark.catalog import PartitionKey
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = str(tmp_path / "pice")
    df = spark.createDataFrame(
        [(1, "a", 1996), (2, "b", 1996), (3, "c", 1997)],
        "id long, v string, year int",
    )
    write_iceberg_append(df, loc, partition_by=["year"])

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db",
        "t",
        loc,
        parameters={"table_type": "ICEBERG"},
        partition_keys=[PartitionKey("year", "int")],
    )
    eng = GlueSparkEngine(spark, store)

    out = eng.sql("SELECT id, v, year FROM glue.db.t ORDER BY id")
    assert dict(out.dtypes)["year"] == "int"  # metadata-typed
    assert [(r.id, r.year) for r in out.collect()] == [
        (1, 1996),
        (2, 1996),
        (3, 1997),
    ]
    # partition predicates still prune AND filter correctly
    assert sorted(
        r.id
        for r in eng.sql(
            "SELECT id FROM glue.db.t WHERE year = 1996"
        ).collect()
    ) == [1, 2]

    # OPTIMIZE rewrites files into data/ root: no k=v path segment
    # remains, only the manifest partition tuple
    write_iceberg_append(
        spark.createDataFrame(
            [(4, "d", 1997)], "id long, v string, year int"
        ),
        loc,
        partition_by=["year"],
    )
    assert optimize_iceberg(spark, loc, min_files_per_partition=2)
    eng.invalidate_table("db", "t")
    out2 = eng.sql("SELECT id, year FROM glue.db.t ORDER BY id")
    assert [(r.id, r.year) for r in out2.collect()] == [
        (1, 1996),
        (2, 1996),
        (3, 1997),
        (4, 1997),
    ]


def test_engine_iceberg_scan_uses_metadata_schema_for_evolution(
    spark, tmp_path
):
    """Old data files lack evolved columns: the engine scans with the
    metadata schema, so they surface as nulls regardless of which file
    inference would have sampled — and tables whose data files DO
    carry identity partition columns keep reading them from the data
    (no manifest attach, no behavior change)."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = str(tmp_path / "ev")
    write_iceberg_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    write_iceberg_append(
        spark.createDataFrame(
            [(2, "b", 9)], "id long, v string, extra long"
        ),
        loc,
        merge_schema=True,
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "ev", loc, parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    rows = {
        r.id: r.extra
        for r in eng.sql("SELECT id, extra FROM glue.db.ev").collect()
    }
    assert rows == {1: None, 2: 9}


def test_iceberg_optimize_preserves_evolved_columns(spark, tmp_path):
    """OPTIMIZE on an evolved table rewrites through the metadata
    schema: a group mixing pre- and post-evolution files must not
    infer from the old file and drop the evolved column's data."""
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = str(tmp_path / "evopt")
    write_iceberg_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    write_iceberg_append(
        spark.createDataFrame(
            [(2, "b", 9)], "id long, v string, extra long"
        ),
        loc,
        merge_schema=True,
    )
    assert optimize_iceberg(spark, loc, min_files_per_partition=2)
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "evopt", loc, parameters={"table_type": "ICEBERG"}
    )
    rows = {
        r.id: r.extra
        for r in GlueSparkEngine(spark, store)
        .sql("SELECT id, extra FROM glue.db.evopt")
        .collect()
    }
    assert rows == {1: None, 2: 9}


# ---------------------------------------------------------------------------
# Hidden partitioning: transform-aware pruning (sources/iceberg_partitioning)
# ---------------------------------------------------------------------------


def test_transform_values_match_spec_examples():
    """The worked examples from the Iceberg spec's partition-transform
    table (day 17486 for 2017-11-16, month 574, year 47, negative
    pre-epoch days, bucket[16] murmur3 of int 34 → 3 and of
    'iceberg' → 9, truncate floor semantics incl. negatives)."""
    from glue_table_cache_spark.sources.iceberg_partitioning import (
        bucket_value,
        temporal_value,
        transform_value,
    )

    assert temporal_value("day", "2017-11-16") == 17486
    assert temporal_value("day", "2017-11-16 22:31:08") == 17486
    assert temporal_value("month", "2017-11-16") == 574
    assert temporal_value("year", "2017-11-16") == 47
    assert (
        temporal_value("hour", "2017-11-16 22:31:08") == 17486 * 24 + 22
    )
    assert temporal_value("day", "1969-12-31 23:59:59") == -1
    assert bucket_value(34, 16) == 3
    assert bucket_value("iceberg", 16) == 9
    assert transform_value("truncate", 10, -1) == -10  # floor, not trunc
    assert transform_value("truncate", 3, "iceberg") == "ice"
    assert transform_value("day", None, 12345) is None  # ambiguous


def test_transform_predicate_rewrite_soundness():
    """Monotone bounds, bucket equality, and the negation push-down:
    != and NOT-wrapped over-approximations must degrade to keep."""
    from glue_table_cache_spark.pruning import (
        Comparison,
        Not,
        TruePredicate,
    )
    from glue_table_cache_spark.sources.iceberg_partitioning import (
        transform_partition_predicate,
    )

    fields = [{"name": "ts_day", "transform": "day", "source": "ts"}]
    # ts > L  →  ts_day >= day(L): the boundary day must stay
    p = transform_partition_predicate(
        Comparison("ts", "COMPARE_GREATERTHAN", "2017-11-16 22:00:00"),
        fields,
    )
    assert p.evaluate({"ts_day": "17486"}) is True  # same day kept
    assert p.evaluate({"ts_day": "17485"}) is False
    # equality on a lossy transform keeps the whole day
    p = transform_partition_predicate(
        Comparison("ts", "COMPARE_EQUAL", "2017-11-16 01:00:00"), fields
    )
    assert p.evaluate({"ts_day": "17486"}) is True
    assert p.evaluate({"ts_day": "17487"}) is False
    # != can never prune through a lossy transform
    p = transform_partition_predicate(
        Comparison("ts", "COMPARE_NOTEQUAL", "2017-11-16 01:00:00"),
        fields,
    )
    assert isinstance(p, TruePredicate)
    # NOT(ts <= L) pushes down to ts > L BEFORE mapping (sound);
    # NOT(= L) degrades to keep
    p = transform_partition_predicate(
        Not(
            Comparison(
                "ts", "COMPARE_LESSTHANOREQUALTO", "2017-11-16 22:00:00"
            )
        ),
        fields,
    )
    assert p.evaluate({"ts_day": "17486"}) is True
    assert p.evaluate({"ts_day": "17485"}) is False
    p = transform_partition_predicate(
        Not(Comparison("ts", "COMPARE_EQUAL", "2017-11-16 01:00:00")),
        fields,
    )
    assert isinstance(p, TruePredicate)
    # bucket: equality prunes, ranges keep
    bf = [{"name": "id_bucket", "transform": "bucket[16]", "source": "id"}]
    p = transform_partition_predicate(
        Comparison("id", "COMPARE_EQUAL", 34), bf
    )
    assert p.evaluate({"id_bucket": "3"}) is True
    assert p.evaluate({"id_bucket": "4"}) is False
    p = transform_partition_predicate(
        Comparison("id", "COMPARE_GREATERTHAN", 34), bf
    )
    assert isinstance(p, TruePredicate)


def test_engine_hidden_partition_pruning(spark, tmp_path):
    """End-to-end: a day-transform + bucket-transform table registered
    with NO catalog partition keys (the common Glue shape for Iceberg)
    prunes manifest entries from predicates on the SOURCE columns, and
    the result is still exactly correct."""
    import datetime as dt

    store = LocalMetadataStore()
    nov = spark.createDataFrame(
        [(34, dt.datetime(2017, 11, 16, 10, 0, 0)),
         (35, dt.datetime(2017, 11, 16, 11, 0, 0))],
        "id long, ts timestamp",
    )
    dec = spark.createDataFrame(
        [(40, dt.datetime(2017, 12, 1, 9, 0, 0))],
        "id long, ts timestamp",
    )
    base = build_iceberg_table(
        tmp_path / "hp",
        [
            {"add": nov, "partition": {"ts_day": "17486"}},
            {"add": dec, "partition": {"ts_day": "17501"}},
        ],
        partition_specs=[
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "ts_day",
                        "transform": "day",
                        "source-id": 2,
                        "field-id": 1000,
                    }
                ],
            }
        ],
    )
    store.register_parquet_dir(
        "db", "hp", str(base), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "SELECT id FROM glue.db.hp WHERE ts >= TIMESTAMP '2017-12-01 00:00:00'"
    )
    assert len(out.inputFiles()) == 1  # November file pruned
    assert sorted(r.id for r in out.collect()) == [40]
    # boundary-day predicate keeps the day file and filters exactly
    out2 = eng.sql(
        "SELECT id FROM glue.db.hp "
        "WHERE ts > TIMESTAMP '2017-11-16 10:30:00'"
    )
    assert sorted(r.id for r in out2.collect()) == [35, 40]


def test_partition_fields_union_across_specs():
    """Spec EVOLUTION: pruning fields are the union of every spec the
    table has used — old-spec files carry old-spec names in their
    manifest tuples, and a missing name is Unknown (keep), so deriving
    for all specs prunes every file generation.  Names with
    conflicting meanings are dropped; v1 ``void`` replacements do not
    conflict (void-era tuple values are null → Unknown)."""
    from glue_table_cache_spark.sources.iceberg_partitioning import (
        iceberg_partition_fields,
    )

    meta = {
        "schemas": [
            {
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "type": "long"},
                    {"id": 2, "name": "ts", "type": "timestamp"},
                ],
            }
        ],
        "current-schema-id": 0,
        "default-spec-id": 1,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "ts_month", "transform": "month",
                     "source-id": 2, "field-id": 1000},
                ],
            },
            {
                "spec-id": 1,
                "fields": [
                    {"name": "ts_day", "transform": "day",
                     "source-id": 2, "field-id": 1001},
                ],
            },
        ],
    }
    fields = iceberg_partition_fields(meta)
    # default spec first, then the old spec's extra field
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("ts_day", "day"), ("ts_month", "month"),
    ]
    # conflicting meaning for one name → that name is dropped, the
    # rest survive
    meta["partition-specs"][0]["fields"].append(
        {"name": "ts_day", "transform": "hour", "source-id": 2,
         "field-id": 1002}
    )
    fields = iceberg_partition_fields(meta)
    assert [f["name"] for f in fields] == ["ts_month"]
    # a v1 void replacement of the same name is NOT a conflict
    meta["partition-specs"][0]["fields"][-1]["transform"] = "void"
    fields = iceberg_partition_fields(meta)
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("ts_day", "day"), ("ts_month", "month"),
    ]
    # exact duplicate across specs dedups
    meta["partition-specs"][0]["fields"][-1] = {
        "name": "ts_day", "transform": "day", "source-id": 2,
        "field-id": 1002,
    }
    fields = iceberg_partition_fields(meta)
    assert [f["name"] for f in fields] == ["ts_day", "ts_month"]


def test_engine_prunes_across_evolved_specs(spark, tmp_path):
    """End-to-end spec evolution: a file written under the OLD
    month-transform spec and a file under the NEW day-transform spec
    both prune from one predicate on the source column, and results
    stay exact."""
    import datetime as dt

    store = LocalMetadataStore()
    nov = spark.createDataFrame(
        [(34, dt.datetime(2017, 11, 16, 10, 0, 0)),
         (35, dt.datetime(2017, 11, 16, 11, 0, 0))],
        "id long, ts timestamp",
    )
    dec = spark.createDataFrame(
        [(40, dt.datetime(2017, 12, 1, 9, 0, 0))],
        "id long, ts timestamp",
    )
    base = build_iceberg_table(
        tmp_path / "evo",
        [
            # written while spec-0 (month) was current: tuple keyed
            # ts_month; 2017-11 → (2017-1970)*12 + 10 = 574
            {"add": nov, "partition": {"ts_month": "574"}},
            # written under the NEW day spec: 2017-12-01 → 17501
            {"add": dec, "partition": {"ts_day": "17501"}},
        ],
        partition_specs=[
            {
                "spec-id": 1,
                "fields": [
                    {"name": "ts_day", "transform": "day",
                     "source-id": 2, "field-id": 1001},
                ],
            },
            {
                "spec-id": 0,
                "fields": [
                    {"name": "ts_month", "transform": "month",
                     "source-id": 2, "field-id": 1000},
                ],
            },
        ],
    )
    store.register_parquet_dir(
        "db", "evo", str(base), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    # prunes the OLD-spec November file via its month tuple
    out = eng.sql(
        "SELECT id FROM glue.db.evo "
        "WHERE ts >= TIMESTAMP '2017-12-01 00:00:00'"
    )
    assert len(out.inputFiles()) == 1
    assert sorted(r.id for r in out.collect()) == [40]
    # prunes the NEW-spec December file via its day tuple
    out2 = eng.sql(
        "SELECT id FROM glue.db.evo "
        "WHERE ts <= TIMESTAMP '2017-11-30 00:00:00'"
    )
    assert len(out2.inputFiles()) == 1
    assert sorted(r.id for r in out2.collect()) == [34, 35]


def test_iceberg_timestamp_without_zone_maps_to_ntz():
    """Spec: 'timestamp' is zoneless, only 'timestamptz' is an
    instant.  Mapping both to session-zone TimestampType would shift
    NTZ values on non-UTC sessions and disagree with the
    iceberg_lite streaming source's mapping."""
    from pyspark.sql import types as T

    from glue_table_cache_spark.sources.iceberg import (
        iceberg_spark_schema,
    )

    meta = {
        "schemas": [
            {
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "ts_ntz", "type": "timestamp"},
                    {"id": 2, "name": "ts_tz", "type": "timestamptz"},
                ],
            }
        ],
        "current-schema-id": 0,
    }
    sch = iceberg_spark_schema(meta)
    by_name = {f.name: f.dataType for f in sch.fields}
    assert isinstance(by_name["ts_ntz"], T.TimestampNTZType)
    assert isinstance(by_name["ts_tz"], T.TimestampType)


def test_iceberg_multi_file_position_deletes(spark, tmp_path):
    """Row-level deletes stage DISTRIBUTED and MULTI-FILE: with AQE
    partition-coalescing off, a delete spanning several target files
    produces several pos-delete parquets, ALL listed in the one
    DELETE manifest — the scan masks them all, and OPTIMIZE purges
    every one."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "mfd"
    # 4 data files (4 appends), ids 0..39
    for i in range(4):
        write_iceberg_append(
            spark.createDataFrame(
                [(i * 10 + j, float(j)) for j in range(10)],
                "id long, v double",
            ).coalesce(1),
            str(loc),
        )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        # every file loses its even ids → the match spans all 4 files
        out = eng.sql(
            "DELETE FROM glue.db.t WHERE id % 2 = 0"
        ).first()
    finally:
        spark.conf.set(coalesce_key, prev)
    assert out.rows_deleted == 20
    dels = sorted(
        (loc / "data").glob("pos-delete-*.parquet")
    )
    assert len(dels) > 1, "expected multi-file delete staging"
    # every delete file masks: the scan sees exactly the odd ids
    got = sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.t").collect()
    )
    assert got == [i for i in range(40) if i % 2 == 1]
    # the manifest carries per-file record counts summing to 20
    import pyarrow.parquet as pq

    assert (
        sum(pq.ParquetFile(p).metadata.num_rows for p in dels) == 20
    )
    # OPTIMIZE rewrites the masked files and purges EVERY delete file
    optimize_iceberg(spark, str(loc))
    eng.invalidate_table("db", "t")
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.t").collect()
    ) == got
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    entries, pos_dels, _eq = iceberg_scan_details(str(loc))
    assert not pos_dels
    assert not any("pos-delete" in p for p, _pv, _s in entries)


def test_distributed_manifest_decode_matches_driver(
    spark, tmp_path, monkeypatch
):
    """The executor-side manifest decode (``mapInPandas`` running the
    avro_lite codec on the workers, r12) yields byte-identical scan
    state to the driver walk — data entries with stats, position- and
    equality-delete files, sequence inheritance included."""
    import glue_table_cache_spark.sources.iceberg as ice

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    b = spark.createDataFrame([(4, "d")], "id long, v string")
    base = build_iceberg_table(
        tmp_path / "distmani",
        [
            a,
            {
                "add": b,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
            },
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 3}]},
            },
        ],
    )
    drv = ice.iceberg_scan_details(str(base), with_stats=True)
    monkeypatch.setattr(ice, "DISTRIBUTED_MANIFEST_MIN_BYTES", 0)
    dist = ice.iceberg_scan_details(str(base), with_stats=True)
    assert dist == drv
    assert dist[0], "fixture should have data entries"
    assert dist[1], "fixture should have position deletes"
    assert dist[2], "fixture should have equality deletes"


def test_table_changes_eq_window_with_prior_pos_and_eq(
    spark, tmp_path
):
    """An equality-delete window whose PRIOR state already carries
    both position AND equality deletes synthesizes correctly: the
    prior kills mask (each at most one _metadata reference deep —
    the tag-once identity columns make the chain join-safe), and
    only the still-live matching row emits."""
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_table_changes,
    )

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    base = build_iceberg_table(
        tmp_path / "priorboth",
        [
            a,  # seq 1
            {   # seq 2: position-delete id=1
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 1
                },
            },
            {   # seq 3: equality-delete id=2
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },
            {   # seq 4: equality-delete ids {1,2,3} — 1 and 2 are
                # already dead, only 3 emits
                "add": None,
                "eq_delete": {
                    "columns": ["id"],
                    "rows": [{"id": 1}, {"id": 2}, {"id": 3}],
                },
            },
        ],
    )
    w = iceberg_table_changes(spark, str(base), 4, 4)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w.collect()
    ) == [(3, "c", "delete")]


def test_table_changes_dual_kind_delete_emits_once(spark, tmp_path):
    """A snapshot committing BOTH a position delete and an equality
    delete targeting the same row (the Flink upsert-sink pattern)
    emits that row's delete exactly once: the position synthesis owns
    it, and the equality synthesis masks the same-snapshot position
    targets out of its kill set."""
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_table_changes,
    )

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    base = build_iceberg_table(
        tmp_path / "dualkill",
        [
            a,  # seq 1
            {   # seq 2: position-delete row id=2 (pos 1 of part-1)
                # AND equality-delete id=2 — both kinds, one snapshot
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
                "eq_delete": {
                    "columns": ["id"],
                    "rows": [{"id": 2}],
                },
            },
        ],
    )
    w2 = iceberg_table_changes(spark, str(base), 2, 2)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w2.collect()
    ) == [(2, "b", "delete")]


def test_table_changes_delete_file_removal_resurrects(
    spark, tmp_path
):
    """A snapshot REMOVING delete files outside a replace (external
    maintenance) synthesizes the resurrected rows as inserts: the
    previously-masked rows of the kept data files come back; a
    refusal remains only when other equality deletes stay active."""
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_table_changes,
    )

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    # position-delete removal
    base = build_iceberg_table(
        tmp_path / "resurrect_pos",
        [
            a,
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
            },
            {"add": None, "drop_deletes": True},
        ],
    )
    w = iceberg_table_changes(spark, str(base), 3, 3)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w.collect()
    ) == [(2, "b", "insert")]
    # equality-delete removal, with seq scoping
    base2 = build_iceberg_table(
        tmp_path / "resurrect_eq",
        [
            a,
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },
            {"add": None, "drop_deletes": True},
        ],
    )
    w2 = iceberg_table_changes(spark, str(base2), 3, 3)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w2.collect()
    ) == [(2, "b", "insert")]
    # removal alongside a data-file removal: the masked row was
    # already dead via the dropped delete, the file's OTHER rows die
    # now, and nothing resurrects (no kept file carries the target)
    base3 = build_iceberg_table(
        tmp_path / "resurrect_dangling",
        [
            a,
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
            },
            {"add": None, "delete": ["part-1.parquet"]},
        ],
    )
    w3 = iceberg_table_changes(spark, str(base3), 3, 3)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w3.collect()
    ) == [(1, "a", "delete"), (3, "c", "delete")]
    # dual-kind removal: a row masked by BOTH a removed position
    # delete and a removed equality delete resurrects exactly ONCE
    # (the position direction owns it)
    base5 = build_iceberg_table(
        tmp_path / "resurrect_dual",
        [
            a,
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },
            {"add": None, "drop_deletes": True},
        ],
    )
    w5 = iceberg_table_changes(spark, str(base5), 3, 3)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w5.collect()
    ) == [(2, "b", "insert")]
    # a snapshot REMOVING a data file while adding an equality
    # delete matching its rows: the rows die once via the file
    # removal — the eq synthesis must not re-emit them
    b_df = spark.createDataFrame([(4, "d")], "id long, v string")
    base6 = build_iceberg_table(
        tmp_path / "removal_plus_eq",
        [
            a,       # part-1: ids 1-3
            b_df,    # part-2: id 4
            {
                "add": None,
                "delete": ["part-1.parquet"],
                "eq_delete": {"columns": ["id"], "rows": [{"id": 1}]},
            },
        ],
    )
    w6 = iceberg_table_changes(spark, str(base6), 3, 3)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w6.collect()
    ) == [
        (1, "a", "delete"),
        (2, "b", "delete"),
        (3, "c", "delete"),
    ]
    # removal while OTHER equality deletes remain active (r13;
    # previously refused): the pos-deleted row resurrects because the
    # new eq file does not mask it, and the new eq file's own kill
    # emits as a delete
    base4 = build_iceberg_table(
        tmp_path / "resurrect_surviving",
        [
            a,
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
            },
            {
                "add": None,
                "drop_deletes": True,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 3}]},
            },
        ],
    )
    w4 = iceberg_table_changes(spark, str(base4), 3, 3)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w4.collect()
    ) == [(2, "b", "insert"), (3, "c", "delete")]


def test_table_changes_removal_with_surviving_eq_deletes(
    spark, tmp_path
):
    """Two equality-delete files, one removed (r13; previously
    refused): the window emits only rows the REMAINING file does not
    still mask — surviving seq-scoped kills subtract from the
    resurrection candidates in both the eq and pos removal
    directions."""
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_table_changes,
    )

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    # remaining file masks a DIFFERENT row: the candidate resurrects
    base = build_iceberg_table(
        tmp_path / "eq_partial_drop",
        [
            a,  # seq 1
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },  # seq 2 (eq-manifest-2)
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 3}]},
            },  # seq 3 (eq-manifest-3)
            {"add": None, "drop_deletes": ["eq-manifest-2"]},  # seq 4
        ],
    )
    w = iceberg_table_changes(spark, str(base), 4, 4)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w.collect()
    ) == [(2, "b", "insert")]
    # remaining file masks the SAME row: nothing became visible,
    # nothing emits
    base2 = build_iceberg_table(
        tmp_path / "eq_still_masked",
        [
            a,
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },
            {
                "add": None,
                "eq_delete": {
                    "columns": ["id"],
                    "rows": [{"id": 2}, {"id": 3}],
                },
            },
            {"add": None, "drop_deletes": ["eq-manifest-2"]},
        ],
    )
    w2 = iceberg_table_changes(spark, str(base2), 4, 4)
    assert w2.count() == 0
    # position removal under a surviving eq file that masks the
    # targeted row: still masked, still invisible
    base3 = build_iceberg_table(
        tmp_path / "pos_under_eq",
        [
            a,
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
            },
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },
            {"add": None, "drop_deletes": ["pos-delete", "delete-manifest"]},
        ],
    )
    w3 = iceberg_table_changes(spark, str(base3), 4, 4)
    assert w3.count() == 0


def test_table_changes_synthesizes_equality_delete_windows(
    spark, tmp_path
):
    """A window that ADDS equality-delete files synthesizes its
    per-row delta: the PRIOR state's live rows matching the delete
    values (null-safe, per equality-column set) emit as delete rows
    — same-snapshot adds are exempt per the spec's strictly-less
    sequence scoping, and rows an OLDER delete already killed never
    re-emit."""
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_table_changes,
    )

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    reinsert = spark.createDataFrame([(2, "B2")], "id long, v string")
    base = build_iceberg_table(
        tmp_path / "eqtc",
        [
            a,  # seq 1
            {   # seq 2: delete id=2 AND re-add it in the same
                # snapshot — the re-add survives (strictly-less)
                "add": reinsert,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },
            {   # seq 3: delete id=2 again (kills the re-add) and
                # id=1; id=2's ORIGINAL row already died at seq 2
                # and must not re-emit
                "add": None,
                "eq_delete": {
                    "columns": ["id"],
                    "rows": [{"id": 1}, {"id": 2}],
                },
            },
        ],
    )
    w2 = iceberg_table_changes(spark, str(base), 2, 2)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w2.collect()
    ) == [(2, "B2", "insert"), (2, "b", "delete")]
    w3 = iceberg_table_changes(spark, str(base), 3, 3)
    assert sorted(
        (r.id, r.v, r._change_type) for r in w3.collect()
    ) == [(1, "a", "delete"), (2, "B2", "delete")]
    # full-history netting: inserts minus deletes = the live state
    allw = iceberg_table_changes(spark, str(base), 1)
    net = {}
    for r in allw.collect():
        net[(r.id, r.v)] = net.get((r.id, r.v), 0) + (
            1 if r._change_type == "insert" else -1
        )
    assert {k for k, n in net.items() if n > 0} == {(3, "c")}
