"""Executor-side metadata pruning (r13): the distributed checkpoint /
manifest decode drops files the query's partition and zone-map
predicates disprove BEFORE the driver collects them, so a one-partition
query over a 10M-file table no longer materializes the full active set
driver-side.  Parity contract: the final scan result is identical to
the collect-everything-then-driver-prune path, refusals included."""

from __future__ import annotations

import pytest

from glue_table_cache_spark.catalog import (
    LocalMetadataStore,
    PartitionKey,
)
from glue_table_cache_spark.engine import GlueSparkEngine
from glue_table_cache_spark.meta_prune import (
    delta_prune_factory,
    iceberg_prune_factory,
)
from glue_table_cache_spark.sources.delta_fixture import (
    build_delta_table,
)
from glue_table_cache_spark.sources.iceberg_fixture import (
    build_iceberg_table,
)


@pytest.fixture()
def frames(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(3, "z")], "id long, v string")
    c = spark.createDataFrame([(4, "w"), (5, "q")], "id long, v string")
    return a, b, c


def _partitioned_delta(tmp_path, frames):
    a, b, c = frames
    return build_delta_table(
        tmp_path / "pd",
        [
            {
                "add": [a],
                "partition": {"year": "1996"},
                "metadata_schema": a,
            },
            {"add": [b], "partition": {"year": "1997"}},
            {"add": [c], "partition": {"year": "1998"}},
        ],
        checkpoint_at=2,
    )


def test_delta_pushdown_prunes_collected_set(
    spark, tmp_path, frames, monkeypatch
):
    """Above the distribution gate, a partition predicate shrinks the
    COLLECTED active set itself (the r12 path collected every add and
    pruned driver-side), and the surviving entries are exactly the
    ones the driver prune would keep."""
    import glue_table_cache_spark.sources.delta as d

    base = _partitioned_delta(tmp_path, frames)
    full, _renames = d.delta_scan_info(str(base))
    assert len(full) == 3

    monkeypatch.setattr(d, "DISTRIBUTED_CHECKPOINT_MIN_BYTES", 0)
    factory = delta_prune_factory(
        "SELECT * FROM t WHERE year = '1997'",
        ["year"],
        {"t"},
        stats_skipping=True,
    )
    pruned, _ = d.delta_scan_info(str(base), prune_factory=factory)
    assert factory.applied
    assert len(pruned) == 1
    assert "year=1997" in pruned[0][0]
    # unpruned distributed decode still returns everything
    full_dist, _ = d.delta_scan_info(str(base))
    assert {p for p, *_ in full_dist} == {p for p, *_ in full}


def test_delta_pushdown_stats_skipping(
    spark, tmp_path, frames, monkeypatch
):
    """Zone-map predicates (add.stats minValues/maxValues) also push
    into the decode: a data-column range no file can satisfy collects
    nothing; a range only one file overlaps collects just that one.
    Unknown stays kept — a predicate over a column with no stats
    collects everything."""
    import glue_table_cache_spark.sources.delta as d

    base = _partitioned_delta(tmp_path, frames)
    monkeypatch.setattr(d, "DISTRIBUTED_CHECKPOINT_MIN_BYTES", 0)

    hit_one = delta_prune_factory(
        "SELECT * FROM t WHERE id >= 4", ["year"], {"t"}, True
    )
    got, _ = d.delta_scan_info(str(base), prune_factory=hit_one)
    assert len(got) == 1 and "year=1998" in got[0][0]

    hit_none = delta_prune_factory(
        "SELECT * FROM t WHERE id > 100", ["year"], {"t"}, True
    )
    got, _ = d.delta_scan_info(str(base), prune_factory=hit_none)
    assert got == []

    unknown = delta_prune_factory(
        "SELECT * FROM t WHERE nosuchcol = 7", ["year"], {"t"}, True
    )
    got, _ = d.delta_scan_info(str(base), prune_factory=unknown)
    assert len(got) == 3

    # stats skipping off: only partition predicates push down
    no_stats = delta_prune_factory(
        "SELECT * FROM t WHERE id >= 4", ["year"], {"t"}, False
    )
    got, _ = d.delta_scan_info(str(base), prune_factory=no_stats)
    assert len(got) == 3


def test_delta_pushdown_tail_commits_still_apply(
    spark, tmp_path, frames, monkeypatch
):
    """The JSON commit tail past the checkpoint replays over the
    PRUNED bootstrap: a tail add in the wanted partition appears, a
    tail remove of a pruned-away file is a no-op (not a KeyError),
    and a tail remove of a surviving file drops it."""
    import glue_table_cache_spark.sources.delta as d

    a, b, c = frames
    base = build_delta_table(
        tmp_path / "tail",
        [
            {
                "add": [a],
                "partition": {"year": "1996"},
                "metadata_schema": a,
            },
            {"add": [b], "partition": {"year": "1997"}},
            {"add": [c], "partition": {"year": "1997"}},
            # tail (past checkpoint_at=2): add to 1997, remove the
            # pruned-away 1996 file AND one survivor
            {
                "add": [a],
                "partition": {"year": "1997"},
                "remove": [
                    "year=1996/part-0-0.parquet",
                    "year=1997/part-1-0.parquet",
                ],
            },
        ],
        checkpoint_at=2,
    )
    monkeypatch.setattr(d, "DISTRIBUTED_CHECKPOINT_MIN_BYTES", 0)
    factory = delta_prune_factory(
        "SELECT * FROM t WHERE year = '1997'", ["year"], {"t"}, True
    )
    pruned, _ = d.delta_scan_info(str(base), prune_factory=factory)
    names = {p.rsplit("/", 2)[-2] + "/" + p.rsplit("/", 1)[-1]
             for p, *_ in pruned}
    assert names == {
        "year=1997/part-2-0.parquet",
        "year=1997/part-3-0.parquet",
    }


def test_delta_engine_pushdown_end_to_end(
    spark, tmp_path, frames, monkeypatch
):
    """Engine-level parity: with the gate forced open, a partition
    query returns the same rows as the driver path, scans one file,
    and the predicate-scoped cache entry never serves a different
    query (the broader query still sees all partitions)."""
    import glue_table_cache_spark.sources.delta as d

    base = _partitioned_delta(tmp_path, frames)
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "pt", str(base),
        partition_keys=[PartitionKey("year", "string")],
        parameters={"spark.sql.sources.provider": "delta"},
    )
    monkeypatch.setattr(d, "DISTRIBUTED_CHECKPOINT_MIN_BYTES", 0)
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "SELECT id, year FROM glue.db.pt WHERE year = '1997'"
    )
    assert [(r.id, int(r.year)) for r in out.collect()] == [(3, 1997)]
    files = [f for f in out.inputFiles() if f.endswith(".parquet")]
    assert len(files) == 1 and "year=1997" in files[0]
    # a different query after the pruned walk was cached: must NOT
    # serve from the narrowed set
    allrows = eng.sql("SELECT id FROM glue.db.pt ORDER BY id")
    assert [r.id for r in allrows.collect()] == [1, 2, 3, 4, 5]
    # and invalidation drops every key the table accumulated
    eng.invalidate_table("db", "pt")
    again = eng.sql(
        "SELECT id FROM glue.db.pt WHERE year = '1996' ORDER BY id"
    )
    assert [r.id for r in again.collect()] == [1, 2]


def _partitioned_iceberg(spark, tmp_path):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(3, "z")], "id long, v string")
    c = spark.createDataFrame([(4, "w")], "id long, v string")
    return build_iceberg_table(
        tmp_path / "pi",
        [
            {"add": a, "partition": {"year": "1996"}},
            {"add": b, "partition": {"year": "1997"}},
            {"add": c, "partition": {"year": "1998"}},
        ],
        partition_specs=[
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "year",
                        "transform": "identity",
                        "source-id": 3,
                        "field-id": 1000,
                    }
                ],
            }
        ],
    )


def test_iceberg_pushdown_prunes_collected_entries(
    spark, tmp_path, monkeypatch
):
    """The distributed manifest decode drops data-manifest entries the
    partition predicate disproves; delete manifests and the unpruned
    path are untouched."""
    import glue_table_cache_spark.sources.iceberg as ice

    base = _partitioned_iceberg(spark, tmp_path)
    full = ice.iceberg_scan_details(str(base), with_stats=True)
    assert len(full[0]) == 3

    monkeypatch.setattr(ice, "DISTRIBUTED_MANIFEST_MIN_BYTES", 0)
    factory = iceberg_prune_factory(
        "SELECT * FROM t WHERE year = '1997'", ["year"], {"t"}, True
    )
    pruned = ice.iceberg_scan_details(
        str(base), with_stats=True, prune_factory=factory
    )
    assert factory.applied
    assert len(pruned[0]) == 1
    keep = pruned[0][0]
    assert keep[1].get("year") == "1997"
    # entry shape identical to the driver path's for the same file
    match = [e for e in full[0] if e[0] == keep[0]]
    assert match == [keep]
    # distributed-without-predicate still equals the driver path
    nofac = ice.iceberg_scan_details(str(base), with_stats=True)
    assert nofac == full


def test_iceberg_pushdown_stats_and_unknown(
    spark, tmp_path, monkeypatch
):
    """Manifest lower/upper bounds push down; anything unprovable
    keeps the entry."""
    import glue_table_cache_spark.sources.iceberg as ice

    base = _partitioned_iceberg(spark, tmp_path)
    monkeypatch.setattr(ice, "DISTRIBUTED_MANIFEST_MIN_BYTES", 0)

    stats = iceberg_prune_factory(
        "SELECT * FROM t WHERE id >= 4", ["year"], {"t"}, True
    )
    got = ice.iceberg_scan_details(
        str(base), with_stats=True, prune_factory=stats
    )
    assert len(got[0]) == 1 and got[0][0][1].get("year") == "1998"

    unknown = iceberg_prune_factory(
        "SELECT * FROM t WHERE v || 'x' = 'yx'", ["year"], {"t"}, True
    )
    got = ice.iceberg_scan_details(
        str(base), with_stats=True, prune_factory=unknown
    )
    assert len(got[0]) == 3


def test_iceberg_pushdown_keeps_delete_files(
    spark, tmp_path, monkeypatch
):
    """Position/equality delete manifests ship whole under pushdown —
    masking still applies to the surviving partition's rows."""
    import glue_table_cache_spark.sources.iceberg as ice

    a = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, v string"
    )
    b = spark.createDataFrame([(3, "z")], "id long, v string")
    base = build_iceberg_table(
        tmp_path / "pdel",
        [
            {"add": a, "partition": {"year": "1996"}},
            {"add": b, "partition": {"year": "1997"}},
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 1
                },
            },
        ],
        partition_specs=[
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "year",
                        "transform": "identity",
                        "source-id": 3,
                        "field-id": 1000,
                    }
                ],
            }
        ],
    )
    monkeypatch.setattr(ice, "DISTRIBUTED_MANIFEST_MIN_BYTES", 0)
    factory = iceberg_prune_factory(
        "SELECT * FROM t WHERE year = '1996'", ["year"], {"t"}, True
    )
    entries, pos_dels, eq_dels = ice.iceberg_scan_details(
        str(base), prune_factory=factory
    )
    assert len(entries) == 1
    assert len(pos_dels) == 1  # delete manifest shipped whole
    df = ice.apply_position_deletes(
        spark.read.option("basePath", str(base / "data")).parquet(
            *[p for p, _pv, _s in entries]
        ),
        pos_dels,
    ).drop("_metadata")
    assert sorted(r.id for r in df.collect()) == [2]


def test_factory_gates(spark, tmp_path, frames, monkeypatch):
    """No-WHERE queries build no factory; metaData-less states decline
    pushdown (keep driver behavior wholesale); column-mapped tables
    (r14) prune via the physical→logical translation."""
    import glue_table_cache_spark.sources.delta as d

    assert delta_prune_factory(None, ["p"], {"t"}, True) is None
    assert (
        delta_prune_factory("SELECT * FROM t", ["p"], {"t"}, True)
        is None
    )
    a, b, _c = frames
    mapped = build_delta_table(
        tmp_path / "cm",
        [{"add": [a]}, {"add": [b]}],
        column_mapping=True,
        checkpoint_at=1,
    )
    monkeypatch.setattr(d, "DISTRIBUTED_CHECKPOINT_MIN_BYTES", 0)
    factory = delta_prune_factory(
        "SELECT * FROM t WHERE id = 3", [], {"t"}, True
    )
    entries, renames = d.delta_scan_info(
        str(mapped), prune_factory=factory
    )
    assert renames is not None
    # r14: mapped tables prune too — the keep callable translates the
    # PHYSICAL stats keys through the rename map, so the id=3 zone-map
    # predicate drops the (1,2) file executor-side
    assert len(entries) == 1
    assert factory.applied


def test_pruned_entries_retired_by_full_walk(
    spark, tmp_path, frames, monkeypatch
):
    """r14 (ADVICE r13): a predicate-fingerprint cache entry must not
    OUTLIVE a newer full walk — once a bare (full active set) entry is
    loaded or served, the table's ``#w:`` entries are invalidated, so
    a repeat of the pruned query can never read an older snapshot than
    the full walk it just observed."""
    import glue_table_cache_spark.sources.delta as d

    from glue_table_cache_spark.cache import table_cache_key

    base = _partitioned_delta(tmp_path, frames)
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "pt", str(base),
        partition_keys=[PartitionKey("year", "string")],
        parameters={"spark.sql.sources.provider": "delta"},
    )
    monkeypatch.setattr(d, "DISTRIBUTED_CHECKPOINT_MIN_BYTES", 0)
    eng = GlueSparkEngine(spark, store)
    eng.sql("SELECT id FROM glue.db.pt WHERE year = '1997'").collect()
    tkey = table_cache_key("db", "pt")
    wkeys = [k for k in eng._listing_keys[tkey] if "#w:" in k]
    assert wkeys, "pruned walk should cache under a fingerprint key"
    # a predicate-less query loads the BARE full-set entry — every
    # predicate-scoped entry must be retired with it
    assert [
        r.id
        for r in eng.sql(
            "SELECT id FROM glue.db.pt ORDER BY id"
        ).collect()
    ] == [1, 2, 3, 4, 5]
    assert not [k for k in eng._listing_keys[tkey] if "#w:" in k]
    for k in wkeys:
        assert eng._listing_cache.peek(k) is None
    # the repeat pruned query now serves from the bare entry (peek
    # hit) and still answers correctly
    out = eng.sql("SELECT id FROM glue.db.pt WHERE year = '1997'")
    assert [r.id for r in out.collect()] == [3]


def test_mapped_partition_pushdown_and_engine_parity(
    spark, tmp_path, monkeypatch
):
    """r14 (VERDICT r13 #5): column-mapped tables get BOTH engine
    file-list partition pruning and executor-side meta-pruning — the
    physical-keyed partitionValues translate through the rename map.
    Pruned-to-zero keeps the real logical schema without a footer
    sample."""
    import glue_table_cache_spark.sources.delta as d

    from tests.test_nested_column_mapping import (
        _partitioned_mapped_table,
    )

    base = tmp_path / "pmprune"
    _partitioned_mapped_table(spark, base)
    # executor-side: walk with the factory, collect only col-p=b adds
    monkeypatch.setattr(d, "DISTRIBUTED_CHECKPOINT_MIN_BYTES", 0)
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        write_delta_checkpoint,
    )

    write_delta_checkpoint(str(base), 0)
    factory = delta_prune_factory(
        "SELECT * FROM t WHERE p = 'b'", ["p"], {"t"}, False
    )
    entries, renames = d.delta_scan_info(
        str(base), allow_nested_mapping=True, prune_factory=factory
    )
    assert renames is not None
    assert factory.applied
    assert sorted(pv["col-p"] for _p, pv, _dv in entries) == ["b", "b"]
    # engine parity: the file-list prune hands Spark only the matching
    # partition's files, and the result matches
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "pm", str(base),
        partition_keys=[PartitionKey("p", "string")],
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "SELECT id, v FROM glue.db.pm WHERE p = 'b' ORDER BY id"
    )
    assert [(r.id, r.v) for r in out.collect()] == [(3, "z"), (4, "w")]
    files = [f for f in out.inputFiles() if f.endswith(".parquet")]
    assert files and all("col-p=b" in f for f in files)
    # pruned-to-zero: empty RESULT with the logical schema, not an
    # analysis error (and no footer sample needed)
    empty = eng.sql("SELECT id, v FROM glue.db.pm WHERE p = 'zzz'")
    assert empty.count() == 0
    assert empty.columns == ["id", "v"]


def test_mapped_pushdown_divergent_tail_reruns_unpruned(
    spark, tmp_path, frames, monkeypatch
):
    """r14 (ADVICE r13): the keep callable binds the CHECKPOINT-time
    metaData; when a JSON commit after the checkpoint changes the
    schema/mapping the gate was based on, the walk re-runs unpruned
    instead of trusting stale pruning decisions."""
    import glue_table_cache_spark.sources.delta as d

    a, b, c = frames
    evolved = spark.createDataFrame(
        [(9, "n", 1.5)], "id long, v string, w double"
    )
    base = build_delta_table(
        tmp_path / "dvg",
        [
            {"add": [a]},
            {"add": [b], "metadata_schema": a},
            # post-checkpoint commit REPLACES the schema (adds w) —
            # the checkpoint at version 1 gated on the old basis
            {"add": [evolved], "metadata_schema": evolved},
        ],
        checkpoint_at=1,
    )
    monkeypatch.setattr(d, "DISTRIBUTED_CHECKPOINT_MIN_BYTES", 0)
    factory = delta_prune_factory(
        "SELECT * FROM t WHERE id = 3", [], {"t"}, True
    )
    entries, _renames = d.delta_scan_info(
        str(base), prune_factory=factory
    )
    # divergence detected → full unpruned set (driver prunes later)
    assert not factory.applied
    plain, _r = d.delta_scan_info(str(base))
    assert sorted(p for p, _pv, _dv in entries) == sorted(
        p for p, _pv, _dv in plain
    )


def _many_manifest_iceberg(root, n_manifests=64, n_entries=8, parts=16):
    """Metadata-only Iceberg snapshot over ``n_manifests`` manifests of
    ``n_entries`` data-file entries, partition ``p`` = manifest % parts
    (the walk never opens data files)."""
    import json

    from glue_table_cache_spark.sources.avro_lite import write_avro
    from glue_table_cache_spark.sources.iceberg_fixture import (
        MANIFEST_ENTRY_SCHEMA,
        MANIFEST_LIST_SCHEMA,
    )

    meta = root / "metadata"
    meta.mkdir(parents=True)
    list_rows = []
    for m in range(n_manifests):
        path = meta / f"manifest-{m}.avro"
        write_avro(
            path,
            MANIFEST_ENTRY_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": 1001,
                    "sequence_number": None,
                    "data_file": {
                        "content": 0,
                        "file_path": f"data/p={m % parts}/f-{m}-{e}.parquet",
                        "file_format": "PARQUET",
                        "partition": {"p": str(m % parts)},
                        "record_count": 10,
                        "file_size_in_bytes": 100,
                        "equality_ids": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "null_value_counts": None,
                    },
                }
                for e in range(n_entries)
            ],
        )
        list_rows.append(
            {
                "manifest_path": str(path),
                "manifest_length": path.stat().st_size,
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "added_snapshot_id": 1001,
            }
        )
    mlist = meta / "snap-1001.avro"
    write_avro(mlist, MANIFEST_LIST_SCHEMA, list_rows)
    (meta / "v1.metadata.json").write_text(
        json.dumps(
            {
                "format-version": 2,
                "location": str(root),
                "last-sequence-number": 1,
                "current-snapshot-id": 1001,
                "current-schema-id": 0,
                "schemas": [
                    {
                        "schema-id": 0,
                        "type": "struct",
                        "fields": [
                            {"id": 1, "name": "id", "required": False,
                             "type": "long"},
                            {"id": 2, "name": "p", "required": False,
                             "type": "string"},
                        ],
                    }
                ],
                "partition-specs": [
                    {
                        "spec-id": 0,
                        "fields": [
                            {"name": "p", "transform": "identity",
                             "source-id": 2, "field-id": 1000}
                        ],
                    }
                ],
                "default-spec-id": 0,
                "snapshots": [
                    {
                        "snapshot-id": 1001,
                        "sequence-number": 1,
                        "timestamp-ms": 1700000000000,
                        "manifest-list": str(mlist),
                    }
                ],
            }
        )
    )
    return str(root), sum(r["manifest_length"] for r in list_rows)


def test_iceberg_manifest_byte_gate(spark, tmp_path, monkeypatch):
    """A cold walk of a 64-manifest snapshot below the byte gate
    decodes on the driver and starts no Spark job; it equals the
    forced-distributed walk, with and without a prune factory (the
    pushed predicate keeps exactly the entries of its partition)."""
    import uuid

    import glue_table_cache_spark.sources.iceberg as ice

    loc, total = _many_manifest_iceberg(tmp_path / "ice64")
    assert total < ice.DISTRIBUTED_MANIFEST_MIN_BYTES
    q = "SELECT * FROM t WHERE p = '7'"

    def jobs_during(fn):
        sc = spark.sparkContext
        group = f"gate-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "manifest gate probe")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    def walk(factory=None):
        return ice.iceberg_scan_details(
            loc, with_stats=True, prune_factory=factory
        )

    driver, jobs = jobs_during(walk)
    assert jobs == []
    assert len(driver[0]) == 64 * 8
    fac = iceberg_prune_factory(q, ["p"], {"t"}, True)
    driver_f, jobs = jobs_during(lambda: walk(fac))
    assert jobs == []
    # below the gate the predicate is not pushed: the full set comes
    # back, and the caching layer must not key it by predicate
    assert driver_f == driver and not fac.applied

    monkeypatch.setattr(ice, "DISTRIBUTED_MANIFEST_MIN_BYTES", 0)
    dist, jobs = jobs_during(walk)
    assert jobs and dist == driver
    fac = iceberg_prune_factory(q, ["p"], {"t"}, True)
    dist_f = walk(fac)
    assert fac.applied
    assert dist_f[0] == [e for e in driver[0] if e[1]["p"] == "7"]
    assert len(dist_f[0]) == 4 * 8
    assert dist_f[1:] == driver[1:]


def test_cold_sql_decodes_zone_maps_for_survivors_only(
    spark, tmp_path, monkeypatch
):
    """A cold ``engine.sql()`` over a 64-manifest table resolves zone
    maps only for the files partition pruning keeps: 8 of the 512
    entries, not all 512."""
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    import glue_table_cache_spark.skipping as sk

    loc, _total = _many_manifest_iceberg(tmp_path / "ice64", parts=64)
    for e in range(8):  # only the survivors are ever opened
        f = Path(loc) / "data" / "p=7" / f"f-7-{e}.parquet"
        f.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"id": pa.array([e], pa.int64())}), f)
    resolved: list = []
    real = sk.iceberg_entry_stats

    def counted(data_file, types_by_id):
        resolved.append(data_file)
        return real(data_file, types_by_id)

    monkeypatch.setattr(sk, "iceberg_entry_stats", counted)
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "ice", loc, parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    rows = eng.sql("SELECT id, p FROM glue.db.ice WHERE p = '7'").collect()
    assert sorted((r.id, r.p) for r in rows) == [(e, "7") for e in range(8)]
    assert len(resolved) == 8
