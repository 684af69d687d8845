"""Tests for sinks/shards.py — deterministic training-shard output."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import TESTDATA
from glue_table_cache_spark.sinks import shards as SH


def test_write_shards_roundtrip(spark, tmp_path):
    docs = spark.read.parquet(str(TESTDATA / "documents.parquet"))
    out = str(tmp_path / "shards")
    SH.write_shards(docs, out, n_shards=4)
    # layout: shard=k dirs, each with parquet parts
    dirs = sorted(p.name for p in Path(out).iterdir() if p.is_dir())
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # placement is the pure hash function — recomputable
    expect = SH.assign_shards(docs, 4).select("doc_id", "shard")
    got = back.select("doc_id", F.col("shard").cast("long").alias("shard"))
    assert expect.exceptAll(got).count() == 0


def test_write_shards_deterministic_across_runs(spark, tmp_path):
    docs = spark.read.parquet(str(TESTDATA / "documents.parquet")).limit(100)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    SH.write_shards(docs, a, n_shards=3)
    SH.write_shards(docs, b, n_shards=3)
    da = spark.read.parquet(a).select("doc_id", "shard")
    db = spark.read.parquet(b).select("doc_id", "shard")
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0


def test_shard_manifest(spark, tmp_path):
    docs = spark.read.parquet(str(TESTDATA / "documents.parquet"))
    out = str(tmp_path / "m")
    SH.write_shards(docs, out, n_shards=4)
    man = SH.shard_manifest(spark, out, token_col="n_chars")
    rows = {r.shard: (r.n_rows, r.total_tokens) for r in man.collect()}
    assert sum(n for n, _ in rows.values()) == docs.count()
    total = docs.agg(F.sum("n_chars")).first()[0]
    assert sum(t for _, t in rows.values()) == total


def test_max_records_per_file_bounds_parts(spark, tmp_path):
    docs = spark.read.parquet(str(TESTDATA / "documents.parquet"))
    out = str(tmp_path / "bounded")
    SH.write_shards(docs, out, n_shards=2, max_records_per_file=50)
    for d in Path(out).iterdir():
        if not d.is_dir():
            continue
        n_rows_dir = spark.read.parquet(str(d)).count()
        parts = [p for p in d.iterdir() if p.suffix == ".parquet"]
        # every file obeys the cap
        for p in parts:
            import duckdb

            n = duckdb.sql(
                f"SELECT count(*) FROM read_parquet('{p}')"
            ).fetchone()[0]
            assert n <= 50
        assert len(parts) >= n_rows_dir // 50


def test_compact_parquet_dir(spark, tmp_path):
    from glue_table_cache_spark.sinks import compact as C

    src, dst = str(tmp_path / "many"), str(tmp_path / "few")
    docs = spark.read.parquet(str(TESTDATA / "documents.parquet"))
    docs.repartition(40).write.parquet(src)  # simulate tiny-file ingest
    n_in = len(spark.read.parquet(src).inputFiles())
    assert n_in >= 40
    n_out = C.compact_parquet_dir(spark, src, dst, target_file_mb=64)
    assert n_out == 1  # tiny dataset fits one target file
    assert len(spark.read.parquet(dst).inputFiles()) == 1
    # content preserved exactly
    a = spark.read.parquet(src).orderBy("doc_id").collect()
    b = spark.read.parquet(dst).orderBy("doc_id").collect()
    assert a == b


def test_compact_refuses_in_place(spark, tmp_path):
    import pytest as _pytest

    from glue_table_cache_spark.sinks import compact as C

    with _pytest.raises(ValueError):
        C.compact_parquet_dir(spark, str(tmp_path), str(tmp_path))


# ---------------------------------------------------------------------------
# Delta append writer (sinks/delta_write.py)
# ---------------------------------------------------------------------------


def test_delta_append_roundtrip(spark, tmp_path):
    """Two appended batches read back exactly through the log walk
    (and the engine); the staging dir is gone; history shows both."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import (
        delta_data_files,
        delta_history,
    )

    loc = str(tmp_path / "out_delta")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b = spark.createDataFrame([(3, "c")], "id long, v string")
    assert write_delta_append(a, loc) == 0
    assert write_delta_append(b, loc) == 1
    assert not list((tmp_path / "out_delta").glob("_staging_*"))
    files = delta_data_files(loc)
    got = sorted(
        (r.id, r.v) for r in spark.read.parquet(*files).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "outd", loc,
        parameters={"spark.sql.sources.provider": "delta"},
    )
    out = GlueSparkEngine(spark, store).sql(
        "SELECT id, v FROM glue.db.outd ORDER BY id"
    )
    assert [(r.id, r.v) for r in out.collect()] == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    hist = delta_history(spark, loc).collect()
    assert [(r.version, r.operation) for r in hist] == [
        (0, "WRITE"), (1, "WRITE"),
    ]


def test_delta_append_partitioned(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_data_files

    loc = str(tmp_path / "outp")
    df = spark.createDataFrame(
        [(1, "1996"), (2, "1997")], "id long, year string"
    )
    write_delta_append(df, loc, partition_by=["year"])
    entries = delta_data_files(loc, with_partition_values=True)
    assert sorted(pv["year"] for _p, pv in entries) == ["1996", "1997"]
    assert all("year=" in p for p, _pv in entries)


def test_delta_append_concurrent_version_race(spark, tmp_path):
    """A commit file created by 'someone else' between staging and
    commit bumps the writer to the next version instead of clobbering."""
    import json as _json
    from pathlib import Path

    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = tmp_path / "outr"
    a = spark.createDataFrame([(1, "a")], "id long, v string")
    write_delta_append(a, str(loc))
    # simulate a concurrent writer landing version 1
    (loc / "_delta_log" / f"{1:020d}.json").write_text(
        _json.dumps({"commitInfo": {"timestamp": 0}}) + "\n"
    )
    v = write_delta_append(a, str(loc))
    assert v == 2
    assert (loc / "_delta_log" / f"{2:020d}.json").exists()


# -- Z-order clustering -----------------------------------------------------


def test_zorder_key_single_column_is_monotone(spark):
    from glue_table_cache_spark.sinks.compact import zorder_key

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(64)], "id long, x double"
    )
    out = df.select("x", zorder_key(df, ["x"], bits_per_col=4).alias("z"))
    rows = sorted((r.x, r.z) for r in out.collect())
    zs = [z for _x, z in rows]
    assert zs == sorted(zs)  # one column: key == bucket id, monotone
    assert 0 <= min(zs) and max(zs) < 16


def test_zorder_key_validates(spark):
    from glue_table_cache_spark.sinks.compact import zorder_key

    df = spark.createDataFrame([(1, "a")], "x long, s string")
    with pytest.raises(ValueError, match="unsupported type"):
        zorder_key(df, ["s"])
    with pytest.raises(ValueError, match="64-bit"):
        zorder_key(df, ["x"], bits_per_col=64)
    with pytest.raises(ValueError, match="at least one"):
        zorder_key(df, [])


def test_zorder_compaction_bounds_every_clustering_column(
    spark, tmp_path
):
    """The point of Z-order: after the rewrite, EVERY output file
    covers a narrow slice of EACH clustering column — a linear sort
    only bounds the leading column."""
    from glue_table_cache_spark.sinks.compact import compact_parquet_dir
    from glue_table_cache_spark.skipping import parquet_footer_stats

    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x long, y long")
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df.repartition(8).write.parquet(src)

    n = compact_parquet_dir(
        spark, src, dst, zorder_by=["x", "y"], n_files=4
    )
    assert n == 4
    import glob

    spans = []
    for p in glob.glob(dst + "/part-*.parquet"):
        st = parquet_footer_stats(p)
        spans.append(
            (
                st.max_values["x"] - st.min_values["x"],
                st.max_values["y"] - st.min_values["y"],
            )
        )
    assert len(spans) == n
    # every file bounds BOTH columns well below the full 0..31 domain
    assert all(sx <= 20 and sy <= 20 for sx, sy in spans), spans
    # content survives the rewrite
    assert spark.read.parquet(dst).count() == 1024


def test_zorder_enables_skipping_on_every_column(spark, tmp_path):
    from glue_table_cache_spark import GlueSparkEngine
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.sinks.compact import compact_parquet_dir

    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x long, y long")
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df.repartition(8).write.parquet(src)
    n = compact_parquet_dir(
        spark, src, dst, zorder_by=["x", "y"], n_files=4
    )
    store = LocalMetadataStore()
    store.register_parquet_dir("db", "z", dst)
    eng = GlueSparkEngine(spark, store)
    for col in ("x", "y"):
        probe = eng.sql(f"SELECT x, y FROM glue.db.z WHERE {col} < 4")
        assert len(probe.inputFiles()) < n, col
        assert probe.count() == 4 * 32


# ---------------------------------------------------------------------------
# Iceberg append writer (sinks/iceberg_write.py)
# ---------------------------------------------------------------------------


def test_iceberg_append_roundtrip_and_time_travel(spark, tmp_path):
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_info,
        iceberg_snapshots,
    )

    loc = str(tmp_path / "out_ice")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b = spark.createDataFrame([(3, "c")], "id long, v string")
    assert write_iceberg_append(a, loc) == 1
    assert write_iceberg_append(b, loc) == 2
    assert not list((tmp_path / "out_ice").glob("_staging_*"))
    files, dels = iceberg_scan_info(loc)
    got = sorted(
        (r.id, r.v)
        for r in spark.read.parquet(
            *[p for p, _pv in files]
        ).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")] and not dels
    # snapshot 1 alone = first batch (time travel)
    files1, _ = iceberg_scan_info(loc, version_offset=1)
    got1 = sorted(
        (r.id, r.v)
        for r in spark.read.parquet(
            *[p for p, _pv in files1]
        ).collect()
    )
    assert got1 == [(1, "a"), (2, "b")]
    assert iceberg_snapshots(spark, loc).count() == 2
    # engine end-to-end
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "oice", loc, parameters={"table_type": "ICEBERG"}
    )
    out = GlueSparkEngine(spark, store).sql(
        "SELECT id, v FROM glue.db.oice ORDER BY id"
    )
    assert [(r.id, r.v) for r in out.collect()] == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_iceberg_append_bounds_feed_zone_map_skipping(spark, tmp_path):
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = str(tmp_path / "zice")
    lo = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "id long, v string"
    ).coalesce(1)
    hi = spark.createDataFrame(
        [(i, f"r{i}") for i in range(1000, 1100)], "id long, v string"
    ).coalesce(1)
    write_iceberg_append(lo, loc)
    write_iceberg_append(hi, loc)
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "zice", loc, parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    probe = eng.sql("SELECT id FROM glue.db.zice WHERE id >= 1000")
    assert probe.count() == 100
    assert len(probe.inputFiles()) == 1  # manifest bounds skip batch 1


def test_iceberg_append_refuses_schema_drift(spark, tmp_path):
    """Delta-mirroring schema posture: subset batches append (the
    metadata schema surfaces nulls), NEW columns refuse without
    merge_schema=True, type changes always refuse."""
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import iceberg_scan_info

    loc = str(tmp_path / "drift")
    write_iceberg_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    # subset append is fine
    assert write_iceberg_append(
        spark.createDataFrame([(2,)], "id long"), loc
    ) == 2
    files, _ = iceberg_scan_info(loc)
    assert sorted(
        r.id
        for r in spark.read.parquet(*[p for p, _pv in files]).collect()
    ) == [1, 2]
    # new column refuses without merge_schema
    with pytest.raises(GlueSparkError, match="new column"):
        write_iceberg_append(
            spark.createDataFrame(
                [(3, "c", 1.5)], "id long, v string, score double"
            ),
            loc,
        )
    # type change always refuses
    with pytest.raises(GlueSparkError, match="type"):
        write_iceberg_append(
            spark.createDataFrame([("x", "d")], "id string, v string"),
            loc,
        )


def test_iceberg_append_schema_evolution(spark, tmp_path):
    """merge_schema=True evolves: the new column gets a FRESH field id
    and the current metadata schema widens; engine scans surface nulls
    for pre-evolution files (metadata schema is the scan authority)."""
    import json

    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = str(tmp_path / "evolve")
    write_iceberg_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    write_iceberg_append(
        spark.createDataFrame(
            [(2, "b", 1.5)], "id long, v string, score double"
        ),
        loc,
        merge_schema=True,
    )
    metas = sorted(
        (tmp_path / "evolve" / "metadata").glob("*.json"),
        key=lambda p: json.loads(p.read_text())["last-sequence-number"],
    )
    fields = json.loads(metas[-1].read_text())["schemas"][0]["fields"]
    by_name = {f["name"]: f for f in fields}
    assert by_name["score"]["type"] == "double"
    assert by_name["score"]["id"] == max(f["id"] for f in fields)

    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "ev", loc, parameters={"table_type": "ICEBERG"}
    )
    engine = GlueSparkEngine(spark, store)
    rows = {
        r.id: (r.v, r.score)
        for r in engine.sql(
            "SELECT id, v, score FROM glue.db.ev"
        ).collect()
    }
    assert rows == {1: ("a", None), 2: ("b", 1.5)}


def test_iceberg_append_partitioned(spark, tmp_path):
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import iceberg_scan_info

    loc = str(tmp_path / "pice")
    df = spark.createDataFrame(
        [(1, "1996"), (2, "1997")], "id long, year string"
    )
    write_iceberg_append(df, loc, partition_by=["year"])
    files, _ = iceberg_scan_info(loc)
    assert sorted(pv.get("year") for _p, pv in files) == ["1996", "1997"]


def test_iceberg_append_concurrent_version_race(spark, tmp_path):
    import json as _json

    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "race_ice"
    a = spark.createDataFrame([(1, "a")], "id long, v string")
    write_iceberg_append(a, str(loc))
    # simulate a concurrent writer landing sequence 2
    v1 = _json.loads((loc / "metadata" / "v1.metadata.json").read_text())
    v1["last-sequence-number"] = 2
    (loc / "metadata" / "v2.metadata.json").write_text(_json.dumps(v1))
    seq = write_iceberg_append(a, str(loc))
    assert seq == 3
    assert (loc / "metadata" / "v3.metadata.json").exists()


def test_delta_append_emits_stats_for_skipping(spark, tmp_path):
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_scan_info

    loc = str(tmp_path / "dstats")
    lo = spark.createDataFrame(
        [(i,) for i in range(100)], "id long"
    ).coalesce(1)
    hi = spark.createDataFrame(
        [(i,) for i in range(1000, 1100)], "id long"
    ).coalesce(1)
    write_delta_append(lo, loc)
    write_delta_append(hi, loc)
    entries, _ren = delta_scan_info(loc, with_stats=True)
    stats = [s for _p, _pv, _dv, s in entries]
    assert all(s for s in stats)  # every add carries stats JSON
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "dstats", loc,
        parameters={"spark.sql.sources.provider": "delta"},
    )
    probe = GlueSparkEngine(spark, store).sql(
        "SELECT id FROM glue.db.dstats WHERE id < 50"
    )
    assert probe.count() == 50
    assert len(probe.inputFiles()) == 1


# ---------------------------------------------------------------------------
# txn idempotence + streaming Delta sink
# ---------------------------------------------------------------------------


def test_delta_append_txn_idempotent(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import (
        delta_data_files,
        delta_last_txn_version,
    )

    loc = str(tmp_path / "txn")
    df = spark.createDataFrame([(1,)], "id long").coalesce(1)
    assert write_delta_append(
        df, loc, txn_app_id="app", txn_version=0
    ) == 0
    # replay of the same batch: no-op, no new files, no new version
    assert write_delta_append(
        df, loc, txn_app_id="app", txn_version=0
    ) == -1
    assert len(delta_data_files(loc)) == 1
    # next batch commits; another app's versions are independent
    assert write_delta_append(
        df, loc, txn_app_id="app", txn_version=1
    ) == 1
    assert write_delta_append(
        df, loc, txn_app_id="other", txn_version=0
    ) == 2
    assert delta_last_txn_version(loc, "app") == 1
    assert delta_last_txn_version(loc, "other") == 0
    assert delta_last_txn_version(loc, "nobody") is None
    with pytest.raises(Exception, match="together"):
        write_delta_append(df, loc, txn_app_id="app")


def test_delta_txn_survives_checkpoint(spark, tmp_path, frames=None):
    """After log cleanup the checkpoint is the only carrier of the
    txn markers — the reader must recover them from it."""
    from glue_table_cache_spark.sources.delta_fixture import (
        build_delta_table,
    )
    from glue_table_cache_spark.sources.delta import (
        delta_last_txn_version,
    )

    a = spark.createDataFrame([(1, "a")], "id long, v string")
    base = build_delta_table(
        tmp_path / "ctxn",
        [{"add": [a]}, {"add": []}],
        checkpoint_at=1,
        drop_precheckpoint_commits=True,
        checkpoint_kwargs={"txns": {"app": 5}},
    )
    assert delta_last_txn_version(str(base), "app") == 5
    assert delta_last_txn_version(str(base), "x") is None


def test_stream_to_delta_exactly_once(spark, tmp_path):
    """File-source stream -> Delta: contents equal the input after
    processAllAvailable; a restarted query with the same checkpoint
    appends only NEW input; and a forced replay of an already-
    committed batch id no-ops via the txn marker."""
    import json as _json

    from glue_table_cache_spark.streaming.delta_sink import (
        stream_to_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import (
        delta_data_files,
        delta_last_txn_version,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "b0.json").write_text(
        "\n".join(_json.dumps({"id": i}) for i in range(5)) + "\n"
    )
    loc = str(tmp_path / "out_stream")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema("id long")
            .json(str(src))
        )
        return stream_to_delta(stream, loc, ckpt, app_id="q1")

    q = start()
    q.processAllAvailable()
    q.stop()
    files = delta_data_files(loc)
    got = sorted(r.id for r in spark.read.parquet(*files).collect())
    assert got == [0, 1, 2, 3, 4]
    assert delta_last_txn_version(loc, "q1") == 0

    # restart with the same checkpoint + one new input file
    (src / "b1.json").write_text(_json.dumps({"id": 99}) + "\n")
    q = start()
    q.processAllAvailable()
    q.stop()
    files = delta_data_files(loc)
    got = sorted(r.id for r in spark.read.parquet(*files).collect())
    assert got == [0, 1, 2, 3, 4, 99]
    assert delta_last_txn_version(loc, "q1") == 1

    # simulate the crash-replay: re-deliver batch 1 by hand
    replay = spark.createDataFrame([(99,)], "id long")
    assert write_delta_append(
        replay, loc, txn_app_id="q1", txn_version=1
    ) == -1
    files = delta_data_files(loc)
    got = sorted(r.id for r in spark.read.parquet(*files).collect())
    assert got == [0, 1, 2, 3, 4, 99]


# ---------------------------------------------------------------------------
# OPTIMIZE + VACUUM (sinks/delta_optimize.py)
# ---------------------------------------------------------------------------


def _mk_many_files_delta(spark, tmp_path, name="opt"):
    from glue_table_cache_spark.sources.delta_fixture import (
        build_delta_table,
    )

    parts = [
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(5)], "id long"
        ).coalesce(1)
        for i in range(4)
    ]
    return build_delta_table(
        tmp_path / name, [{"add": parts}]
    )


def test_optimize_delta_compacts_and_preserves_rows(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_optimize import (
        optimize_delta,
    )
    from glue_table_cache_spark.sources.delta import (
        delta_data_files,
        delta_history,
    )

    base = _mk_many_files_delta(spark, tmp_path)
    before = delta_data_files(str(base))
    assert len(before) == 4
    rows_before = sorted(
        r.id for r in spark.read.parquet(*before).collect()
    )
    v = optimize_delta(spark, str(base), target_file_mb=1024)
    assert v == 1
    after = delta_data_files(str(base))
    assert len(after) == 1
    rows_after = sorted(
        r.id for r in spark.read.parquet(*after).collect()
    )
    assert rows_after == rows_before
    # OPTIMIZE is dataChange=false bookkeeping and shows in history;
    # pre-optimize files remain on disk for time travel
    assert delta_history(spark, str(base)).where(
        "operation = 'OPTIMIZE'"
    ).count() == 1
    travel = delta_data_files(str(base), version_offset=1)
    assert sorted(travel) == sorted(before)
    # new add carries stats for zone-map skipping
    from glue_table_cache_spark.sources.delta import delta_scan_info

    entries, _ = delta_scan_info(str(base), with_stats=True)
    assert all(s for _p, _pv, _dv, s in entries)
    # idempotence of the need-check: nothing left to do
    assert optimize_delta(spark, str(base)) is None


def test_optimize_delta_purges_deletion_vectors(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_optimize import (
        optimize_delta,
    )
    from glue_table_cache_spark.sources.delta import (
        delta_data_files,
        delta_scan_info,
    )
    from glue_table_cache_spark.sources.delta_fixture import (
        build_delta_table,
    )

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    base = build_delta_table(
        tmp_path / "dvp",
        [
            {"add": [df.coalesce(1)]},
            {"dv": {"part-0-0.parquet": lambda pdf: pdf["id"] % 2 == 1}},
        ],
    )
    v = optimize_delta(spark, str(base), min_files_per_partition=2)
    assert v == 2
    entries, _ = delta_scan_info(str(base))
    assert all(dv is None for _p, _pv, dv in entries)
    got = sorted(
        r.id
        for r in spark.read.parquet(
            *delta_data_files(str(base))
        ).collect()
    )
    assert got == [0, 2, 4, 6, 8]


def test_optimize_delta_partitioned_zorder(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_optimize import (
        optimize_delta,
    )
    from glue_table_cache_spark.sources.delta import delta_data_files
    from glue_table_cache_spark.sources.delta_fixture import (
        build_delta_table,
    )

    y96 = [
        spark.createDataFrame([(i,) for i in range(k, 50, 2)], "id long")
        for k in (0, 1)
    ]
    base = build_delta_table(
        tmp_path / "pz",
        [
            {"add": y96, "partition": {"year": "1996"}},
            {"add": [y96[0]], "partition": {"year": "1997"}},
        ],
    )
    v = optimize_delta(
        spark, str(base), zorder_by=["id"], min_files_per_partition=2
    )
    assert v is not None
    files = delta_data_files(str(base), with_partition_values=True)
    years = {pv["year"] for _p, pv in files}
    assert years == {"1996", "1997"}
    # per-partition rewrite: 1996's two files became one
    n96 = sum(1 for _p, pv in files if pv["year"] == "1996")
    assert n96 == 1
    rows = spark.read.option("basePath", str(base)).parquet(
        *[p for p, _pv in files]
    )
    assert rows.where("year = '1996'").count() == 50


def test_optimize_delta_aborts_on_conflicting_race(
    spark, tmp_path, monkeypatch
):
    """If the O_EXCL loss reveals that a replaced file is gone from
    the active set, OPTIMIZE must abort and leave the table clean."""
    import json as _json
    import os as _os

    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks import delta_optimize as DO
    from glue_table_cache_spark.sources.delta import delta_data_files

    base = _mk_many_files_delta(spark, tmp_path, "race_opt")
    real_open = _os.open
    state = {"fired": False}

    def racing_open(path, flags, *a, **kw):
        p = str(path)
        if (
            not state["fired"]
            and p.endswith(".json")
            and "_delta_log" in p
            and flags & _os.O_EXCL
        ):
            state["fired"] = True
            # interloper removes one of the files being rewritten
            Path(p).parent.joinpath(
                f"{1:020d}.json"
            ).write_text(
                _json.dumps(
                    {
                        "remove": {
                            "path": "part-0-0.parquet",
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )
            raise FileExistsError(p)
        return real_open(path, flags, *a, **kw)

    monkeypatch.setattr(DO.os, "open", racing_open)
    before = set(delta_data_files(str(base)))
    with pytest.raises(GlueSparkError, match="conflicting race"):
        DO.optimize_delta(spark, str(base), target_file_mb=1024)
    # table untouched minus the interloper's own remove
    after = set(delta_data_files(str(base)))
    assert after == {p for p in before if "part-0-0" not in p}


def test_vacuum_delta_lists_then_deletes_only_unreferenced(
    spark, tmp_path
):
    from glue_table_cache_spark.sinks.delta_optimize import (
        optimize_delta,
        vacuum_delta,
    )
    from glue_table_cache_spark.sources.delta import delta_data_files

    base = _mk_many_files_delta(spark, tmp_path, "vac")
    orig = delta_data_files(str(base))
    optimize_delta(spark, str(base), target_file_mb=1024)
    # default 7-day retention: nothing is old enough yet
    assert vacuum_delta(str(base)) == []
    victims = vacuum_delta(str(base), retention_hours=0)
    assert sorted(victims) == sorted(orig)  # the rewritten originals
    # dry run deleted nothing
    assert all(Path(v).exists() for v in victims)
    gone = vacuum_delta(str(base), retention_hours=0, dry_run=False)
    assert gone == victims
    assert not any(Path(v).exists() for v in victims)
    # table still reads fine from the compacted file
    files = delta_data_files(str(base))
    assert len(files) == 1
    assert spark.read.parquet(*files).count() == 20
    with pytest.raises(Exception, match="retention"):
        vacuum_delta(str(base), retention_hours=-1)


def test_vacuum_delta_protects_active_dv_sidecars(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_optimize import vacuum_delta
    from glue_table_cache_spark.sources.delta_fixture import (
        build_delta_table,
    )

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    base = build_delta_table(
        tmp_path / "dvvac",
        [
            {"add": [df.coalesce(1)]},
            {"dv": {"part-0-0.parquet": lambda pdf: pdf["id"] % 2 == 1}},
        ],
        orphan=df.coalesce(1),
    )
    victims = vacuum_delta(str(base), retention_hours=0)
    assert any("orphan" in v for v in victims)
    assert not any("deletion_vector" in v for v in victims)


# ---------------------------------------------------------------------------
# Hudi COW append writer (sinks/hudi_write.py)
# ---------------------------------------------------------------------------


def test_hudi_append_roundtrip_engine_and_changes(spark, tmp_path):
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sources.hudi import (
        hudi_changes,
        hudi_data_files,
    )

    loc = str(tmp_path / "out_hudi")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b = spark.createDataFrame([(3, "c")], "id long, v string")
    i1 = int(write_hudi_append(a, loc))
    i2 = int(write_hudi_append(b, loc))
    assert i2 > i1
    assert not list((tmp_path / "out_hudi").glob("_staging_*"))
    files = hudi_data_files(loc)
    got = sorted(
        (r.id, r.v) for r in spark.read.parquet(*files).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "oh", loc, parameters={"hoodie.table.name": "oh"}
    )
    out = GlueSparkEngine(spark, store).sql(
        "SELECT id, v FROM glue.db.oh ORDER BY id"
    )
    assert [(r.id, r.v) for r in out.collect()] == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # incremental feed sees only the second append after i1
    latest, written = hudi_changes(loc, since_instant=i1)
    assert latest == i2
    rows = sorted(
        r.id for r in spark.read.parquet(*written).collect()
    )
    assert rows == [3]


def test_hudi_append_partitioned_prunes(spark, tmp_path):
    from glue_table_cache_spark.catalog import (
        LocalMetadataStore,
        PartitionKey,
    )
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = str(tmp_path / "ph")
    df = spark.createDataFrame(
        [(1, "1996"), (2, "1997")], "id long, year string"
    )
    write_hudi_append(df, loc, partition_by=["year"])
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "ph", loc,
        parameters={"hoodie.table.name": "ph"},
        partition_keys=[PartitionKey("year", "string")],
    )
    eng = GlueSparkEngine(spark, store)
    probe = eng.sql("SELECT id FROM glue.db.ph WHERE year = '1996'")
    assert [r.id for r in probe.collect()] == [1]
    assert len(probe.inputFiles()) == 1  # timeline-metadata pruning


def test_hudi_append_concurrent_instant_race(spark, tmp_path):
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sources.hudi import hudi_data_files

    loc = tmp_path / "rh"
    a = spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1)
    i1 = int(write_hudi_append(a, str(loc)))
    # interloper claims the next instant the wall clock would pick
    (loc / ".hoodie" / f"{i1 + 1}.commit").write_text(
        '{"partitionToWriteStats": {}}'
    )
    i2 = int(write_hudi_append(a, str(loc)))
    assert i2 > i1 + 1
    assert len(hudi_data_files(str(loc))) == 2


def test_hudi_append_refuses_mor_tables(spark, tmp_path):
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = tmp_path / "mor"
    (loc / ".hoodie").mkdir(parents=True)
    (loc / ".hoodie" / "hoodie.properties").write_text(
        "hoodie.table.type=MERGE_ON_READ\n"
    )
    with pytest.raises(GlueSparkError, match="COPY_ON_WRITE"):
        write_hudi_append(
            spark.createDataFrame([(1,)], "id long"), str(loc)
        )


# ---------------------------------------------------------------------------
# Iceberg OPTIMIZE (sinks/iceberg_optimize.py)
# ---------------------------------------------------------------------------


def test_optimize_iceberg_compacts_preserves_and_time_travels(
    spark, tmp_path
):
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
        iceberg_scan_info,
    )
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )

    parts = [
        spark.createDataFrame(
            [(i * 10 + j,) for j in range(5)], "id long"
        )
        for i in range(3)
    ]
    base = build_iceberg_table(tmp_path / "oi", parts)
    before, _ = iceberg_scan_info(str(base))
    rows_before = sorted(
        r.id
        for r in spark.read.parquet(
            *[p for p, _pv in before]
        ).collect()
    )
    seq = optimize_iceberg(spark, str(base), target_file_mb=1024)
    assert seq == 4
    after, _ = iceberg_scan_info(str(base))
    assert len(after) == 1
    rows_after = sorted(
        r.id
        for r in spark.read.parquet(
            *[p for p, _pv in after]
        ).collect()
    )
    assert rows_after == rows_before
    # previous snapshot still reads the pre-optimize layout
    travel, _ = iceberg_scan_info(str(base), version_offset=1)
    assert sorted(p for p, _pv in travel) == sorted(
        p for p, _pv in before
    )
    # the new file carries re-derived bounds
    entries, _d, _e = iceberg_scan_details(str(base), with_stats=True)
    assert all(st.resolve() is not None for _p, _pv, _s, st in entries)
    assert optimize_iceberg(spark, str(base)) is None  # nothing left


def test_optimize_iceberg_purges_row_level_deletes(spark, tmp_path):
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(10)], "id long"
    ).coalesce(1)
    base = build_iceberg_table(
        tmp_path / "oidel",
        [
            df,
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] % 2 == 1
                },
            },
        ],
    )
    seq = optimize_iceberg(
        spark, str(base), min_files_per_partition=99
    )  # deletes force the rewrite even below the file-count bar
    assert seq is not None
    entries, pos_dels, eq_dels = iceberg_scan_details(str(base))
    assert not pos_dels and not eq_dels
    got = sorted(
        r.id
        for r in spark.read.parquet(
            *[p for p, _pv, _s in entries]
        ).collect()
    )
    assert got == [0, 2, 4, 6, 8]


def test_optimize_iceberg_carries_untouched_partition(spark, tmp_path):
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sources.iceberg import iceberg_scan_info
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )

    a = spark.createDataFrame([(1,)], "id long").coalesce(1)
    base = build_iceberg_table(
        tmp_path / "oic",
        [
            {"add": a, "partition": {"year": "1996"}},
            {"add": a, "partition": {"year": "1996"}},
            {"add": a, "partition": {"year": "1997"}},
        ],
    )
    before = dict(iceberg_scan_info(str(base))[0])
    seq = optimize_iceberg(
        spark, str(base), min_files_per_partition=2
    )
    assert seq is not None
    after, _ = iceberg_scan_info(str(base))
    by_year = {}
    for p, pv in after:
        by_year.setdefault(pv.get("year"), []).append(p)
    assert len(by_year["1996"]) == 1  # compacted
    # 1997's single file is carried verbatim
    assert by_year["1997"] == [
        p for p, pv in before.items() if pv.get("year") == "1997"
    ]


# ---------------------------------------------------------------------------
# Hudi clustering (sinks/hudi_optimize.py)
# ---------------------------------------------------------------------------


def test_optimize_hudi_clusters_and_preserves_rows(spark, tmp_path):
    from glue_table_cache_spark.sinks.hudi_optimize import optimize_hudi
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sources.hudi import hudi_data_files

    loc = str(tmp_path / "oh")
    for i in range(4):
        write_hudi_append(
            spark.createDataFrame(
                [(i * 10 + j,) for j in range(5)], "id long"
            ).coalesce(1),
            loc,
        )
    before = hudi_data_files(loc)
    assert len(before) == 4
    rows_before = sorted(
        r.id for r in spark.read.parquet(*before).collect()
    )
    inst = optimize_hudi(spark, loc, target_file_mb=1024)
    assert inst is not None
    after = hudi_data_files(loc)
    assert len(after) == 1
    rows_after = sorted(
        r.id for r in spark.read.parquet(*after).collect()
    )
    assert rows_after == rows_before
    # nothing left to do afterwards
    assert optimize_hudi(spark, loc) is None


def test_optimize_hudi_partitioned_and_fixture_tables(spark, tmp_path):
    from glue_table_cache_spark.sinks.hudi_optimize import optimize_hudi
    from glue_table_cache_spark.sources.hudi import hudi_scan_info
    from glue_table_cache_spark.sources.hudi_fixture import (
        build_hudi_table,
    )

    a = spark.createDataFrame([(1,)], "id long")
    base = build_hudi_table(
        tmp_path / "ohf",
        [
            {"write": {"f1": a, "f2": a}, "partition": "year=1996"},
            {"write": {"f3": a}, "partition": "year=1997"},
        ],
    )
    inst = optimize_hudi(
        spark, str(base), min_files_per_partition=2
    )
    assert inst is not None
    after = hudi_scan_info(str(base))
    by_year = {}
    for p, pv in after:
        by_year.setdefault(pv.get("year"), []).append(p)
    assert len(by_year["1996"]) == 1  # clustered into one group
    assert len(by_year["1997"]) == 1  # untouched single group
    assert "f3" in by_year["1997"][0]


def test_optimize_hudi_refuses_mor(spark, tmp_path):
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.hudi_optimize import optimize_hudi

    loc = tmp_path / "ohm"
    (loc / ".hoodie").mkdir(parents=True)
    (loc / ".hoodie" / "hoodie.properties").write_text(
        "hoodie.table.type=MERGE_ON_READ\n"
    )
    (loc / ".hoodie" / "20240101000000.commit").write_text(
        '{"partitionToWriteStats": {}}'
    )
    with pytest.raises(GlueSparkError, match="COPY_ON_WRITE"):
        optimize_hudi(spark, str(loc))


# ---------------------------------------------------------------------------
# Checkpoint writer + log retention (sinks/delta_checkpoint.py)
# ---------------------------------------------------------------------------


def test_delta_checkpoint_interval_and_log_cleanup(spark, tmp_path):
    """Appends checkpoint every Nth version; after the pre-checkpoint
    JSON commits are deleted, the engine scan, zone-map stats, and
    SetTransaction recovery all still reconstruct from the
    checkpoint."""
    import json

    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        clean_delta_log,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import (
        delta_last_txn_version,
        delta_scan_info,
    )

    base = tmp_path / "ckpt"
    for i in range(12):
        df = spark.range(i * 10, i * 10 + 10).selectExpr(
            "id", "cast(id * 2 as double) as v"
        ).coalesce(1)
        write_delta_append(
            df, str(base), checkpoint_interval=5,
            txn_app_id="app", txn_version=i,
        )
    log = base / "_delta_log"
    cps = sorted(p.name for p in log.glob("*.checkpoint.parquet"))
    assert cps == [
        "00000000000000000005.checkpoint.parquet",
        "00000000000000000010.checkpoint.parquet",
    ]
    assert json.loads(
        (log / "_last_checkpoint").read_text()
    )["version"] == 10

    removed = clean_delta_log(str(base), retention_hours=0,
                              dry_run=False)
    # commits 0..9 plus the superseded checkpoint at 5
    assert len(removed) == 11
    assert not (log / f"{0:020d}.json").exists()

    entries, renames, schema = delta_scan_info(
        str(base), with_schema=True, with_stats=True
    )
    assert renames is None
    assert [f.name for f in schema.fields] == ["id", "v"]
    assert all(s for _p, _pv, _dv, s in entries)  # stats survive
    assert delta_last_txn_version(str(base), "app") == 11

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "ck", str(base),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM glue.db.ck"
    ).collect()[0].n == 120
    # zone-map skipping still prunes from checkpoint-carried stats
    narrow = eng.sql("SELECT id FROM glue.db.ck WHERE id >= 110")
    assert sorted(r.id for r in narrow.collect()) == list(
        range(110, 120)
    )
    assert len(narrow.inputFiles()) < len(entries)


def test_delta_checkpoint_preserves_deletion_vectors(spark, tmp_path):
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        clean_delta_log,
        write_delta_checkpoint,
    )
    from glue_table_cache_spark.sources.delta_fixture import (
        build_delta_table,
    )

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    base = build_delta_table(
        tmp_path / "ckdv",
        [
            {"add": [df.coalesce(1)]},
            {"dv": {"part-0-0.parquet": lambda pdf: pdf["id"] % 2 == 1}},
        ],
    )
    assert write_delta_checkpoint(str(base)) == 1
    assert clean_delta_log(
        str(base), retention_hours=0, dry_run=False
    )  # all JSON commits covered by the checkpoint
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "ckdv", str(base),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    out = GlueSparkEngine(spark, store).sql(
        "SELECT id FROM glue.db.ckdv ORDER BY id"
    )
    assert [r.id for r in out.collect()] == [0, 2, 4, 6, 8]


def test_delta_checkpoint_idempotent_pointer_monotone(spark, tmp_path):
    import json

    from glue_table_cache_spark.sinks.delta_checkpoint import (
        write_delta_checkpoint,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    base = tmp_path / "cki"
    for i in range(3):
        write_delta_append(
            spark.range(5).coalesce(1), str(base),
            checkpoint_interval=None,
        )
    assert write_delta_checkpoint(str(base)) == 2
    # idempotent: same version twice is success, not an error
    assert write_delta_checkpoint(str(base), version=2) == 2
    # an older-version checkpoint never regresses the pointer
    assert write_delta_checkpoint(str(base), version=1) == 1
    lc = base / "_delta_log" / "_last_checkpoint"
    assert json.loads(lc.read_text())["version"] == 2


def test_delta_checkpoint_refuses_without_metadata(tmp_path):
    import json

    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        write_delta_checkpoint,
    )

    log = tmp_path / "nm" / "_delta_log"
    log.mkdir(parents=True)
    (log / f"{0:020d}.json").write_text(
        json.dumps({"add": {"path": "f.parquet",
                            "partitionValues": {}}}) + "\n"
    )
    with pytest.raises(GlueSparkError, match="metaData"):
        write_delta_checkpoint(str(tmp_path / "nm"))


def test_optimize_delta_writes_checkpoint(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_optimize import (
        optimize_delta,
    )

    base = _mk_many_files_delta(spark, tmp_path, name="optck")
    v = optimize_delta(
        spark, str(base), target_file_mb=1024, checkpoint_interval=1
    )
    assert v == 1
    assert (
        base / "_delta_log" / f"{v:020d}.checkpoint.parquet"
    ).exists()


# ---------------------------------------------------------------------------
# Retention maintenance: Iceberg expire+orphans, Hudi clean
# ---------------------------------------------------------------------------


def test_iceberg_expire_and_orphan_removal(spark, tmp_path):
    """expire-snapshots prunes history (current always protected);
    orphan removal deletes replaced files + stale metadata after
    retention while the active scan stays byte-identical; expired
    time travel refuses loudly."""
    from pathlib import Path

    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        expire_iceberg_snapshots,
        optimize_iceberg,
        remove_iceberg_orphans,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_data_files,
        iceberg_scan_details,
    )

    base = tmp_path / "iret"
    for i in range(3):
        write_iceberg_append(
            spark.createDataFrame(
                [(i * 10 + j,) for j in range(5)], "id long"
            ).coalesce(1),
            str(base),
        )
    assert optimize_iceberg(
        spark, str(base), min_files_per_partition=2
    ) is not None
    active_before = sorted(iceberg_data_files(str(base)))
    rows_before = sorted(
        r.id for r in spark.read.parquet(*active_before).collect()
    )

    assert expire_iceberg_snapshots(
        str(base), retention_hours=0
    ) is not None
    # idempotent: nothing further to expire
    assert expire_iceberg_snapshots(
        str(base), retention_hours=0
    ) is None

    victims = remove_iceberg_orphans(
        str(base), retention_hours=0, dry_run=True
    )
    assert victims
    # active-file protection: no live file is ever a victim
    assert not set(victims) & {str(Path(p)) for p in active_before}
    remove_iceberg_orphans(str(base), retention_hours=0, dry_run=False)

    after = sorted(iceberg_data_files(str(base)))
    assert after == active_before
    assert sorted(
        r.id for r in spark.read.parquet(*after).collect()
    ) == rows_before
    # replaced data files are GONE from disk
    remaining = {str(p) for p in (base / "data").rglob("*.parquet")}
    assert remaining == {str(Path(p)) for p in after}
    # expired time travel refuses loudly
    with pytest.raises(GlueSparkError, match="version_offset"):
        iceberg_scan_details(str(base), version_offset=1)


def test_iceberg_orphans_respect_retention_clock(spark, tmp_path):
    """A non-reachable file younger than the retention window is NOT
    collected (in-flight writers never race the clock)."""
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        remove_iceberg_orphans,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    base = tmp_path / "irc"
    write_iceberg_append(
        spark.createDataFrame([(1,)], "id long").coalesce(1), str(base)
    )
    stray = base / "data" / "stray-uncommitted.parquet"
    stray.write_bytes(b"xx")
    assert remove_iceberg_orphans(
        str(base), retention_hours=1, dry_run=True
    ) == []
    assert remove_iceberg_orphans(
        str(base), retention_hours=0, dry_run=True
    ) == [str(stray)]


def test_hudi_clean_removes_replaced_groups(spark, tmp_path):
    from pathlib import Path

    from glue_table_cache_spark.sinks.hudi_optimize import (
        clean_hudi,
        optimize_hudi,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.sources.hudi import hudi_scan_info

    base = tmp_path / "hret"
    for i in range(2):
        write_hudi_append(
            spark.createDataFrame(
                [(i * 10 + j,) for j in range(5)], "id long"
            ).coalesce(1),
            str(base),
        )
    assert optimize_hudi(
        spark, str(base), min_files_per_partition=2
    ) is not None
    active = [p for p, _pv in hudi_scan_info(str(base))]
    rows_before = sorted(
        r.id for r in spark.read.parquet(*active).collect()
    )
    victims = clean_hudi(str(base), retention_hours=0, dry_run=True)
    assert victims
    assert not set(victims) & {str(Path(p)) for p in active}
    clean_hudi(str(base), retention_hours=0, dry_run=False)
    active_after = [p for p, _pv in hudi_scan_info(str(base))]
    assert active_after == active
    assert sorted(
        r.id for r in spark.read.parquet(*active_after).collect()
    ) == rows_before
    # only the active base files remain on disk
    left = {
        str(p)
        for p in base.rglob("*.parquet")
        if ".hoodie" not in p.parts
    }
    assert left == {str(Path(p)) for p in active}


def test_hudi_clean_protects_live_mor_logs(spark, tmp_path):
    from glue_table_cache_spark.sinks.hudi_optimize import clean_hudi
    from glue_table_cache_spark.sources.hudi import hudi_mor_scan_info
    from glue_table_cache_spark.sources.hudi_fixture import (
        build_hudi_table,
    )
    from glue_table_cache_spark.sources.hudi_log import data_block

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    a = spark.createDataFrame([(1,), (2,)], "id long")
    base = build_hudi_table(
        tmp_path / "hml",
        [
            {"write": {"fg1": a}},
            {"log": {"fg1": data_block(
                "20240101000001", schema, [{"id": 2}]
            )}},
        ],
        table_type="MERGE_ON_READ",
    )
    base_entries, log_entries = hudi_mor_scan_info(str(base))
    assert log_entries  # the live log is there...
    assert clean_hudi(str(base), retention_hours=0, dry_run=True) == []


# ---------------------------------------------------------------------------
# Streaming SOURCE over repo-written Delta tables (streaming/delta_source.py)
# ---------------------------------------------------------------------------


def test_delta_stream_source_exactly_once_end_to_end(spark, tmp_path):
    """delta_lite source -> stream_to_delta sink: appends land while
    the stream runs, a restart with the same checkpoint resumes at the
    consumed version, and a forced replay of an already-committed
    batch no-ops via the txn marker — exactly-once end to end."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_data_files
    from glue_table_cache_spark.streaming.delta_sink import (
        stream_to_delta,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    write_delta_append(
        spark.range(0, 5).selectExpr("id", "cast(id as string) as s"),
        src,
    )

    def start():
        return stream_to_delta(
            read_delta_stream(spark, src), dst, ck, app_id="pipe"
        )

    q = start()
    q.processAllAvailable()
    # appends land WHILE the stream runs
    write_delta_append(
        spark.range(5, 8).selectExpr("id", "cast(id as string) as s"),
        src,
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*delta_data_files(dst)).collect()
    )
    assert got == list(range(8))

    # restart with the same checkpoint; only NEW data flows
    write_delta_append(
        spark.range(8, 10).selectExpr("id", "cast(id as string) as s"),
        src,
    )
    q = start()
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*delta_data_files(dst)).collect()
    )
    assert got == list(range(10))
    # forced crash-replay of the last batch id: txn no-op
    from glue_table_cache_spark.sources.delta import (
        delta_last_txn_version,
    )

    last = delta_last_txn_version(dst, "pipe")
    assert write_delta_append(
        spark.range(8, 10).selectExpr(
            "id", "cast(id as string) as s"
        ),
        dst,
        txn_app_id="pipe",
        txn_version=last,
    ) == -1
    got = sorted(
        r.id
        for r in spark.read.parquet(*delta_data_files(dst)).collect()
    )
    assert got == list(range(10))


def test_delta_stream_source_skips_optimize_bookkeeping(
    spark, tmp_path
):
    """OPTIMIZE's dataChange:false add/remove actions must not
    re-deliver rows through the stream."""
    from glue_table_cache_spark.sinks.delta_optimize import (
        optimize_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_data_files
    from glue_table_cache_spark.streaming.delta_sink import (
        stream_to_delta,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = str(tmp_path / "srco")
    for lo, hi in ((0, 4), (4, 8)):
        write_delta_append(spark.range(lo, hi).coalesce(1), src)
    assert optimize_delta(spark, src, target_file_mb=1024) is not None
    write_delta_append(spark.range(8, 9).coalesce(1), src)
    dst = str(tmp_path / "dsto")
    q = stream_to_delta(
        read_delta_stream(spark, src), dst, str(tmp_path / "cko"),
        app_id="q",
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*delta_data_files(dst)).collect()
    )
    assert got == list(range(9))  # no duplicates from the rewrite


def test_delta_stream_source_refuses_non_append(spark, tmp_path):
    """A dataChange remove in the consumed range fails the query
    loudly (append streams cannot represent deletes) unless
    ignoreChanges opts in."""
    import json as _json

    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_data_files
    from glue_table_cache_spark.streaming.delta_sink import (
        stream_to_delta,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = tmp_path / "srcr"
    write_delta_append(spark.range(0, 4).coalesce(1), str(src))
    files = delta_data_files(str(src))
    rel = files[0].rsplit("/", 1)[1]
    (src / "_delta_log" / f"{1:020d}.json").write_text(
        _json.dumps(
            {"remove": {"path": rel, "dataChange": True}}
        ) + "\n"
    )
    q = stream_to_delta(
        read_delta_stream(spark, str(src)),
        str(tmp_path / "dstr"), str(tmp_path / "ckr"), app_id="q",
    )
    with pytest.raises(Exception, match="append|dataChange"):
        q.processAllAvailable()
    q.stop()
    # ignoreChanges skips the remove and delivers the appends
    q = stream_to_delta(
        read_delta_stream(spark, str(src), ignore_changes=True),
        str(tmp_path / "dstr2"), str(tmp_path / "ckr2"), app_id="q2",
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(
            *delta_data_files(str(tmp_path / "dstr2"))
        ).collect()
    )
    assert got == [0, 1, 2, 3]


def test_delta_stream_source_partitioned_and_starting_version(
    spark, tmp_path
):
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )
    from glue_table_cache_spark.streaming.windows import (
        run_stream_to_memory,
    )

    src = str(tmp_path / "srcp")
    df0 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, p string"
    )
    df1 = spark.createDataFrame([(3, "a")], "id long, p string")
    write_delta_append(df0, src, partition_by=["p"])
    write_delta_append(df1, src, partition_by=["p"])
    sdf = read_delta_stream(spark, src)
    run_stream_to_memory(sdf, "gtc_src_part", output_mode="append")
    got = sorted(
        (r.id, r.p)
        for r in spark.sql("SELECT * FROM gtc_src_part").collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "a")]
    # startingVersion skips already-processed history
    sdf2 = read_delta_stream(spark, src, starting_version=1)
    run_stream_to_memory(sdf2, "gtc_src_sv", output_mode="append")
    got2 = sorted(
        (r.id, r.p)
        for r in spark.sql("SELECT * FROM gtc_src_sv").collect()
    )
    assert got2 == [(3, "a")]


# ---------------------------------------------------------------------------
# MOR log-append writer + compaction (sinks/hudi_log_write.py)
# ---------------------------------------------------------------------------


def test_hudi_log_writer_upsert_delete_compact_clean(spark, tmp_path):
    """write_hudi_log routes updates/deletes to the owning file group,
    hudi_mor_read returns the upserted view, compact_hudi folds the
    logs into fresh base slices, and clean_hudi collects the dead
    logs."""
    from glue_table_cache_spark.sinks.hudi_log_write import (
        compact_hudi,
        write_hudi_log,
    )
    from glue_table_cache_spark.sinks.hudi_optimize import clean_hudi
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.sources.hudi import hudi_mor_scan_info
    from glue_table_cache_spark.sources.hudi_mor import hudi_mor_read

    loc = str(tmp_path / "morw")
    a = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).coalesce(1)
    b = spark.createDataFrame(
        [(3, "c"), (4, "d")], "id long, v string"
    ).coalesce(1)
    write_hudi_append(a, loc, table_type="MERGE_ON_READ")
    write_hudi_append(b, loc, table_type="MERGE_ON_READ")

    ups = spark.createDataFrame(
        [(2, "B2"), (9, "new")], "id long, v string"
    )
    inst = write_hudi_log(
        spark, loc, "id", upserts=ups, delete_keys=[3]
    )
    assert inst is not None

    def view():
        base_entries, log_entries = hudi_mor_scan_info(loc)
        return base_entries, log_entries, sorted(
            (r.id, r.v)
            for r in hudi_mor_read(
                spark, base_entries, log_entries,
                record_key_field="id",
            ).collect()
        )

    base_entries, log_entries, got = view()
    assert got == [(1, "a"), (2, "B2"), (4, "d"), (9, "new")]
    # update of key 2 and delete of key 3 landed in DIFFERENT groups
    assert len(log_entries) == 2

    # compaction folds the logs into fresh base slices
    assert compact_hudi(spark, loc, "id") is not None
    base_entries, log_entries, got = view()
    assert log_entries == []
    assert got == [(1, "a"), (2, "B2"), (4, "d"), (9, "new")]
    # base files alone now carry the merged view
    raw = sorted(
        (r.id, r.v)
        for r in spark.read.parquet(
            *[p for p, _pv, _ts in base_entries]
        ).collect()
    )
    assert raw == got
    # nothing left to compact; clean collects the dead logs
    assert compact_hudi(spark, loc, "id") is None
    clean_hudi(loc, retention_hours=0, dry_run=False)
    assert not [
        p
        for p in (tmp_path / "morw").rglob("*.log.*")
        if ".hoodie" not in p.parts
    ]
    _b, _l, got = view()
    assert got == [(1, "a"), (2, "B2"), (4, "d"), (9, "new")]


def test_compact_hudi_byte_bound_picks_the_write(
    spark, tmp_path, monkeypatch
):
    """compact_hudi collects a file group to the driver only while its
    base slice plus live logs fit ``max_driver_bytes``; above that the
    executor writes the slice, except for a group whose every row was
    deleted (nothing to write executor-side; its empty slice is written
    on the driver).  Both arms fold the same rows and leave no staging
    directory."""
    import glue_table_cache_spark.sources.fixture_io as fio
    from glue_table_cache_spark.sinks.hudi_log_write import (
        compact_hudi,
        write_hudi_log,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.sources.hudi import hudi_mor_scan_info

    driver_writes: list = []
    real = fio.write_single_parquet

    def counted(df, out):
        driver_writes.append(out)
        return real(df, out)

    monkeypatch.setattr(fio, "write_single_parquet", counted)
    # two file groups: {1, 2} and {3}; the log deletes all of {3}
    seeds = [
        spark.createDataFrame(rows, "id long, v string").coalesce(1)
        for rows in ([(1, "a"), (2, "b")], [(3, "c")])
    ]
    ups = spark.createDataFrame([(2, "B2"), (9, "new")], "id long, v string")
    got = {}
    for arm, bound in (("driver", 1 << 40), ("executor", 0)):
        loc = str(tmp_path / arm)
        for seed in seeds:
            write_hudi_append(seed, loc, table_type="MERGE_ON_READ")
        write_hudi_log(spark, loc, "id", upserts=ups, delete_keys=[1, 3])
        driver_writes.clear()
        assert compact_hudi(spark, loc, "id", max_driver_bytes=bound)
        base_entries, log_entries = hudi_mor_scan_info(loc)
        assert log_entries == []
        assert len(base_entries) == 2
        assert not list((tmp_path / arm).glob("_staging_*"))
        rows = sorted(
            (r.id, r.v)
            for r in spark.read.parquet(
                *[p for p, _pv, _ts in base_entries]
            ).collect()
        )
        got[arm] = (len(driver_writes), rows)
    want = [(2, "B2"), (9, "new")]
    assert got == {"driver": (2, want), "executor": (1, want)}


def test_hudi_log_writer_refuses_cow(spark, tmp_path):
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.hudi_log_write import (
        write_hudi_log,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )

    loc = str(tmp_path / "coww")
    write_hudi_append(
        spark.createDataFrame([(1,)], "id long"), loc
    )
    with pytest.raises(GlueSparkError, match="MERGE_ON_READ"):
        write_hudi_log(
            spark, loc, "id",
            upserts=spark.createDataFrame([(1,)], "id long"),
        )


def test_hudi_append_type_mismatch_refuses(spark, tmp_path):
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )

    loc = str(tmp_path / "tmix")
    write_hudi_append(
        spark.createDataFrame([(1,)], "id long"), loc,
        table_type="MERGE_ON_READ",
    )
    with pytest.raises(GlueSparkError, match="refusing"):
        write_hudi_append(
            spark.createDataFrame([(2,)], "id long"), loc
        )


def test_iceberg_stream_source_appends_and_refusals(spark, tmp_path):
    """iceberg_lite streams appended snapshots exactly-once into the
    Delta sink, resumes across restarts, streams expiry's metadata-
    only sequence bumps as empty batches, and refuses OPTIMIZE
    (replace) snapshots loudly."""
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        expire_iceberg_snapshots,
        optimize_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.delta import delta_data_files
    from glue_table_cache_spark.streaming.delta_sink import (
        stream_to_delta,
    )
    from glue_table_cache_spark.streaming.iceberg_source import (
        read_iceberg_stream,
    )

    src = str(tmp_path / "isrc")
    dst = str(tmp_path / "idst")
    ck = str(tmp_path / "ick")
    write_iceberg_append(
        spark.range(0, 4).selectExpr(
            "id", "cast(id as string) as s"
        ).coalesce(1),
        src,
    )

    def start():
        return stream_to_delta(
            read_iceberg_stream(spark, src), dst, ck, app_id="ipipe"
        )

    q = start()
    q.processAllAvailable()
    write_iceberg_append(
        spark.range(4, 7).selectExpr(
            "id", "cast(id as string) as s"
        ).coalesce(1),
        src,
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*delta_data_files(dst)).collect()
    )
    assert got == list(range(7))

    # a metadata-only expiry commit bumps the sequence: empty batch
    assert expire_iceberg_snapshots(src, retention_hours=0) is not None
    write_iceberg_append(
        spark.range(7, 9).selectExpr(
            "id", "cast(id as string) as s"
        ).coalesce(1),
        src,
    )
    q = start()
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*delta_data_files(dst)).collect()
    )
    assert got == list(range(9))

    # an OPTIMIZE snapshot (tombstones) refuses loudly
    assert optimize_iceberg(spark, src) is not None
    q = start()
    with pytest.raises(Exception, match="append|status=2"):
        q.processAllAvailable()
    q.stop()


def test_delta_checkpoint_multipart(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        clean_delta_log,
        write_delta_checkpoint,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_scan_info

    base = tmp_path / "ckmp"
    for i in range(4):
        write_delta_append(
            spark.range(i * 5, i * 5 + 5).coalesce(1), str(base),
            checkpoint_interval=None,
        )
    v = write_delta_checkpoint(str(base), max_actions_per_part=3)
    parts = sorted(
        p.name
        for p in (base / "_delta_log").glob("*.checkpoint.*.parquet")
    )
    # 4 adds + 2 meta rows = 6 actions -> 2 parts of <=3
    assert parts == [
        f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
        f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    ]
    clean_delta_log(str(base), retention_hours=0, dry_run=False)
    entries, _r, schema = delta_scan_info(
        str(base), with_schema=True, with_stats=True
    )
    assert len(entries) == 4 and all(s for *_x, s in entries)
    got = sorted(
        r.id
        for r in spark.read.parquet(
            *[p for p, *_rest in entries]
        ).collect()
    )
    assert got == list(range(20))


# ---------------------------------------------------------------------------
# Row-level DELETE via deletion vectors (sinks/delta_delete.py)
# ---------------------------------------------------------------------------


def test_delete_from_delta_writes_dvs(spark, tmp_path):
    """DELETE publishes DVs without rewriting data files: the engine
    scan masks the rows, time travel resurrects them, a second DELETE
    merges positions, and a file whose every row dies is removed
    outright."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_scan_info

    loc = str(tmp_path / "del")
    write_delta_append(spark.range(0, 10).coalesce(1), loc)
    write_delta_append(spark.range(10, 20).coalesce(1), loc)
    files_before = sorted(
        p for p, _pv, _dv in delta_scan_info(loc)[0]
    )

    v, n = delete_from_delta(spark, loc, "id % 2 = 1 AND id < 10")
    assert v == 2 and n == 5
    # no data file was rewritten
    assert sorted(
        p for p, _pv, _dv in delta_scan_info(loc)[0]
    ) == files_before

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "del", loc,
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    got = sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.del").collect()
    )
    assert got == [0, 2, 4, 6, 8] + list(range(10, 20))

    # second delete on the same file MERGES positions
    v2, n2 = delete_from_delta(spark, loc, "id = 0")
    assert v2 == 3 and n2 == 1
    eng.invalidate_table("db", "del")
    got = sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.del").collect()
    )
    assert got == [2, 4, 6, 8] + list(range(10, 20))
    # time travel sees the pre-delete state
    entries_v1, _ = delta_scan_info(loc, version_offset=2)
    assert all(dv is None for _p, _pv, dv in entries_v1)

    # deleting every remaining row of file 1 removes it outright
    v3, n3 = delete_from_delta(spark, loc, "id < 10")
    assert n3 == 4
    entries, _ = delta_scan_info(loc)
    assert len(entries) == 1  # only the 10..19 file remains
    assert entries[0][2] is None

    # no-match delete is a no-op
    assert delete_from_delta(spark, loc, "id > 99") == (None, 0)

    # idempotence of the changed-row refusal: CDF over a DV window
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sources.delta import delta_cdf

    with pytest.raises(GlueSparkError, match="deletion vectors"):
        delta_cdf(spark, loc, since_version=1).collect()


def test_delete_from_delta_partitioned_predicate(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import (
        apply_deletion_vectors,
        delta_scan_info,
    )

    loc = str(tmp_path / "delp")
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b") for i in range(10)],
        "id long, p string",
    )
    write_delta_append(df, loc, partition_by=["p"])
    v, n = delete_from_delta(spark, loc, "p = 'a' AND id >= 3")
    assert n == 2
    entries, _r, schema = delta_scan_info(loc, with_schema=True)
    out = apply_deletion_vectors(
        spark.read.option("basePath", loc).parquet(
            *[p for p, _pv, _dv in entries]
        ),
        entries,
        loc,
    )
    got = sorted((r.id, r.p) for r in out.collect())
    assert got == [(i, "a") for i in range(3)] + [
        (i, "b") for i in range(5, 10)
    ]


# ---------------------------------------------------------------------------
# MERGE INTO (sinks/delta_merge.py)
# ---------------------------------------------------------------------------


def test_merge_into_delta_upserts(spark, tmp_path):
    """Matched rows replaced, unmatched inserted, untouched files not
    rewritten, DV-deleted rows never resurrect, and time travel shows
    the pre-merge state."""
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_merge import (
        merge_into_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import (
        apply_deletion_vectors,
        delta_scan_info,
    )

    loc = str(tmp_path / "mrg")
    write_delta_append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(5)], "id long, v string"
        ).coalesce(1),
        loc,
    )
    write_delta_append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(5, 10)], "id long, v string"
        ).coalesce(1),
        loc,
    )
    # DV-delete id=1, then merge: id=2 updated, id=99 inserted —
    # id=1 must stay deleted even though its file is rewritten
    delete_from_delta(spark, loc, "id = 1")
    files_before = {p for p, _pv, _dv in delta_scan_info(loc)[0]}

    src = spark.createDataFrame(
        [(2, "UPDATED"), (99, "NEW")], "id long, v string"
    )
    v, n_upd, n_ins = merge_into_delta(spark, loc, src, on="id")
    assert (n_upd, n_ins) == (1, 1)

    entries, _r = delta_scan_info(loc)
    out = apply_deletion_vectors(
        spark.read.parquet(*[p for p, _pv, _dv in entries]),
        entries,
        loc,
    )
    got = sorted((r.id, r.v) for r in out.collect())
    assert got == sorted(
        [(0, "v0"), (2, "UPDATED"), (99, "NEW")]
        + [(i, f"v{i}") for i in range(3, 10)]
    )
    # the file holding 5..9 (no matched keys) was NOT rewritten
    untouched = {
        p for p, _pv, _dv in entries if p in files_before
    }
    assert untouched  # at least one pre-merge file survives as-is
    # time travel: pre-merge state intact
    pre, _r2 = delta_scan_info(loc, version_offset=1)
    pre_out = apply_deletion_vectors(
        spark.read.parquet(*[p for p, _pv, _dv in pre]), pre, loc
    )
    assert sorted(r.id for r in pre_out.collect()) == [
        0, 2, 3, 4, 5, 6, 7, 8, 9
    ]


def test_merge_into_delta_refusals(spark, tmp_path):
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.delta_merge import (
        merge_into_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = str(tmp_path / "mrgr")
    write_delta_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    dup_src = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id long, v string"
    )
    with pytest.raises(GlueSparkError, match="duplicate keys"):
        merge_into_delta(spark, loc, dup_src, on="id")
    bad_schema = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(GlueSparkError, match="schema"):
        merge_into_delta(spark, loc, bad_schema, on="id")


def test_delete_from_iceberg_position_deletes(spark, tmp_path):
    """DELETE publishes a position-delete file in a new snapshot: the
    engine masks the rows, deletes compose with prior deletes, time
    travel resurrects, and OPTIMIZE purges everything."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.iceberg_delete import (
        delete_from_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    loc = str(tmp_path / "idel")
    write_iceberg_append(
        spark.range(0, 10).selectExpr(
            "id", "cast(id as string) as s"
        ).coalesce(1),
        loc,
    )
    seq, n = delete_from_iceberg(spark, loc, "id % 2 = 1")
    assert n == 5 and seq == 2

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "idel", loc, parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    got = sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.idel").collect()
    )
    assert got == [0, 2, 4, 6, 8]

    # composing deletes: a second delete stacks with the first
    seq2, n2 = delete_from_iceberg(spark, loc, "id = 0")
    assert n2 == 1
    eng.invalidate_table("db", "idel")
    got = sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.idel").collect()
    )
    assert got == [2, 4, 6, 8]
    # already-deleted rows never re-match: a repeat delete no-ops
    assert delete_from_iceberg(spark, loc, "id % 2 = 1") == (None, 0)

    # time travel: pre-delete snapshot intact
    entries, pos, _eq = iceberg_scan_details(loc, version_offset=2)
    assert pos == []

    # OPTIMIZE purges the delete files into a clean rewrite
    assert optimize_iceberg(spark, loc) is not None
    entries, pos, _eq = iceberg_scan_details(loc)
    assert pos == []
    got = sorted(
        r.id
        for r in spark.read.parquet(
            *[p for p, _pv, _seq in entries]
        ).collect()
    )
    assert got == [2, 4, 6, 8]


def test_delete_from_hudi_cow_rewrite(spark, tmp_path):
    """COW DELETE: partially-matched groups rewrite to a new slice,
    fully-matched groups retire, untouched groups keep their files."""
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.hudi_log_write import (
        delete_from_hudi,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.sources.hudi import hudi_scan_info

    loc = str(tmp_path / "hdel")
    write_hudi_append(spark.range(0, 5).coalesce(1), loc)     # g1
    write_hudi_append(spark.range(5, 10).coalesce(1), loc)    # g2
    write_hudi_append(spark.range(10, 15).coalesce(1), loc)   # g3
    before = {p for p, _pv in hudi_scan_info(loc)}

    # kills all of g1 (0..4), half of g2 (5..7), none of g3
    inst, n = delete_from_hudi(spark, loc, "id < 8")
    assert n == 8
    after = hudi_scan_info(loc)
    got = sorted(
        r.id
        for r in spark.read.parquet(
            *[p for p, _pv in after]
        ).collect()
    )
    assert got == [8, 9] + list(range(10, 15))
    # g3 untouched byte-wise; g1 gone; g2 has a NEW slice
    after_paths = {p for p, _pv in after}
    assert len(after_paths & before) == 1  # only g3 survives as-is
    # no-op delete
    assert delete_from_hudi(spark, loc, "id > 900") == (None, 0)
    # MOR refuses with a log-block pointer
    mor = str(tmp_path / "hdelm")
    write_hudi_append(
        spark.range(3).coalesce(1), mor, table_type="MERGE_ON_READ"
    )
    with pytest.raises(GlueSparkError, match="write_hudi_log"):
        delete_from_hudi(spark, mor, "id = 1")


def test_update_delta_rewrites_only_affected_files(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_merge import update_delta
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import (
        apply_deletion_vectors,
        delta_scan_info,
    )

    loc = str(tmp_path / "upd")
    write_delta_append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(5)], "id long, v double"
        ).coalesce(1),
        loc,
    )
    write_delta_append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(5, 10)], "id long, v double"
        ).coalesce(1),
        loc,
    )
    # DV-delete id=3 first: the update rewrite must not resurrect it
    delete_from_delta(spark, loc, "id = 3")
    before = {p for p, _pv, _dv in delta_scan_info(loc)[0]}

    v, n = update_delta(
        spark, loc, "id < 5", {"v": "v * 10 + id"}
    )
    assert n == 4  # ids 0,1,2,4 (3 is DV-deleted)
    entries, _r = delta_scan_info(loc)
    out = apply_deletion_vectors(
        spark.read.parquet(*[p for p, _pv, _dv in entries]),
        entries,
        loc,
    )
    got = sorted((r.id, r.v) for r in out.collect())
    assert got == [
        (0, 0.0), (1, 11.0), (2, 22.0), (4, 44.0),
    ] + [(i, float(i)) for i in range(5, 10)]
    # the 5..9 file was untouched
    assert {p for p, _pv, _dv in entries} & before
    # no-match update no-ops; unknown column refuses
    assert update_delta(spark, loc, "id > 99", {"v": "0"}) == (None, 0)
    from glue_table_cache_spark.errors import GlueSparkError

    with pytest.raises(GlueSparkError, match="unknown column"):
        update_delta(spark, loc, "id = 1", {"nope": "1"})


def test_delta_append_schema_evolution(spark, tmp_path):
    """New columns refuse without merge_schema (they would be
    silently invisible to schemaString-driven reads); with it the
    table evolves and pre-evolution files surface nulls; subset
    appends are fine; type changes always refuse."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = str(tmp_path / "evo")
    write_delta_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    wide = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    )
    with pytest.raises(GlueSparkError, match="new column"):
        write_delta_append(wide, loc)
    write_delta_append(wide, loc, merge_schema=True)
    # subset append after evolution: missing columns surface nulls
    write_delta_append(
        spark.createDataFrame([(3, "c")], "id long, v string"), loc
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "evo", loc,
        parameters={"spark.sql.sources.provider": "delta"},
    )
    got = sorted(
        (r.id, r.v, r.score)
        for r in GlueSparkEngine(spark, store)
        .sql("SELECT id, v, score FROM glue.db.evo")
        .collect()
    )
    assert got == [(1, "a", None), (2, "b", 9.5), (3, "c", None)]
    with pytest.raises(GlueSparkError, match="type"):
        write_delta_append(
            spark.createDataFrame([("x", "y")], "id string, v string"),
            loc,
        )


def test_hudi_append_schema_evolution(spark, tmp_path):
    """Commits record the table's Avro schema in extraMetadata.schema
    (Hudi's schema-tracking mechanism); merge_schema=True widens it,
    and engine scans treat it as authoritative — pre-evolution base
    files surface nulls instead of depending on inference order."""
    import json as _json

    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = str(tmp_path / "hev")
    write_hudi_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    # new column refuses without merge_schema
    with pytest.raises(GlueSparkError, match="new column"):
        write_hudi_append(
            spark.createDataFrame(
                [(2, "b", 1.5)], "id long, v string, score double"
            ),
            loc,
        )
    # type change always refuses
    with pytest.raises(GlueSparkError, match="type"):
        write_hudi_append(
            spark.createDataFrame([("x", "c")], "id string, v string"),
            loc,
        )
    write_hudi_append(
        spark.createDataFrame(
            [(2, "b", 1.5)], "id long, v string, score double"
        ),
        loc,
        merge_schema=True,
    )
    # subset append re-records the FULL table schema, not the batch's
    write_hudi_append(
        spark.createDataFrame([(3,)], "id long"), loc
    )
    commits = sorted((tmp_path / "hev" / ".hoodie").glob("*.commit"))
    last = _json.loads(commits[-1].read_text())
    fields = _json.loads(last["extraMetadata"]["schema"])["fields"]
    assert [f["name"] for f in fields] == ["id", "v", "score"]

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "hev", loc, parameters={"hoodie.table.name": "hev"}
    )
    rows = {
        r.id: (r.v, r.score)
        for r in GlueSparkEngine(spark, store)
        .sql("SELECT id, v, score FROM glue.db.hev")
        .collect()
    }
    assert rows == {1: ("a", None), 2: ("b", 1.5), 3: (None, None)}


def test_hudi_mor_refuses_schema_evolution(spark, tmp_path):
    """MOR tables refuse evolution both ways: merge_schema base
    appends and log upserts carrying new columns."""
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.hudi_log_write import write_hudi_log
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = str(tmp_path / "hmor")
    write_hudi_append(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        loc,
        table_type="MERGE_ON_READ",
    )
    with pytest.raises(GlueSparkError, match="MERGE_ON_READ"):
        write_hudi_append(
            spark.createDataFrame(
                [(2, "b", 1.5)], "id long, v string, score double"
            ),
            loc,
            merge_schema=True,
        )
    with pytest.raises(GlueSparkError, match="new column"):
        write_hudi_log(
            spark,
            loc,
            record_key_field="id",
            upserts=spark.createDataFrame(
                [(1, "z", 9)], "id long, v string, extra long"
            ),
        )


def test_optimize_hudi_preserves_evolved_columns(spark, tmp_path):
    """Clustering on an evolved table rewrites through the recorded
    schema — a partition mixing pre- and post-evolution files must not
    infer from the old file and drop the evolved column's data — and
    the replacecommit re-records the schema so it stays the newest
    instant's authority."""
    import json as _json

    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.hudi_optimize import optimize_hudi
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = str(tmp_path / "hevopt")
    write_hudi_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    write_hudi_append(
        spark.createDataFrame(
            [(2, "b", 9)], "id long, v string, extra long"
        ),
        loc,
        merge_schema=True,
    )
    assert optimize_hudi(spark, loc, min_files_per_partition=2)
    rc = sorted(
        (tmp_path / "hevopt" / ".hoodie").glob("*.replacecommit")
    )
    fields = _json.loads(
        _json.loads(rc[-1].read_text())["extraMetadata"]["schema"]
    )["fields"]
    assert [f["name"] for f in fields] == ["id", "v", "extra"]

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "hevopt", loc, parameters={"hoodie.table.name": "hevopt"}
    )
    rows = {
        r.id: r.extra
        for r in GlueSparkEngine(spark, store)
        .sql("SELECT id, extra FROM glue.db.hevopt")
        .collect()
    }
    assert rows == {1: None, 2: 9}


def test_iceberg_append_hidden_partitioning(spark, tmp_path):
    """partition_transforms writes the spec's layout: transformed
    values group the files and land in the manifest partition tuple
    under derived names, source columns STAY in the data files, the
    metadata records partition-specs — and the engine's transform
    pruning works on the repo's own tables end-to-end."""
    import datetime as dt
    import json as _json

    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import iceberg_scan_info

    loc = str(tmp_path / "hidden")
    df = spark.createDataFrame(
        [
            (34, dt.datetime(2017, 11, 16, 10, 0, 0)),
            (40, dt.datetime(2017, 12, 1, 9, 0, 0)),
        ],
        "id long, ts timestamp",
    )
    write_iceberg_append(
        df, loc, partition_transforms={"ts": "day", "id": "bucket[16]"}
    )
    metas = sorted((tmp_path / "hidden" / "metadata").glob("*.json"))
    meta = _json.loads(metas[-1].read_text())
    fields = meta["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("ts_day", "day"),
        ("id_bucket", "bucket[16]"),
    ]
    files, _ = iceberg_scan_info(loc)
    pvs = sorted(tuple(sorted(pv.items())) for _p, pv in files)
    assert (("id_bucket", "3"), ("ts_day", "17486")) in pvs  # spec ex.
    # source columns stay in the data files
    cols = set(spark.read.parquet(files[0][0]).columns)
    assert {"id", "ts"} <= cols and "ts_day" not in cols

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "hidden", loc, parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "SELECT id FROM glue.db.hidden "
        "WHERE ts >= TIMESTAMP '2017-12-01 00:00:00'"
    )
    assert len(out.inputFiles()) == 1  # November file pruned
    assert [r.id for r in out.collect()] == [40]
    out2 = eng.sql("SELECT ts FROM glue.db.hidden WHERE id = 34")
    assert len(out2.inputFiles()) == 1  # bucket pruning
    assert out2.collect()[0].ts == dt.datetime(2017, 11, 16, 10, 0, 0)

    # a different partitioning refuses (spec evolution out of scope)
    with pytest.raises(GlueSparkError, match="spec"):
        write_iceberg_append(
            df, loc, partition_transforms={"ts": "month"}
        )
    # an unpartitioned batch appends and the spec carries forward
    write_iceberg_append(
        spark.createDataFrame(
            [(99, dt.datetime(2018, 1, 5, 0, 0, 0))],
            "id long, ts timestamp",
        ),
        loc,
    )
    metas = sorted(
        (tmp_path / "hidden" / "metadata").glob("*.json"),
        key=lambda p: _json.loads(p.read_text())[
            "last-sequence-number"
        ],
    )
    assert "partition-specs" in _json.loads(metas[-1].read_text())
    eng.invalidate_table("db", "hidden")
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.hidden").collect()
    ) == [34, 40, 99]


def test_hudi_stream_source_appends_and_refusals(spark, tmp_path):
    """hudi_lite streams appended COW commits exactly-once into the
    Delta sink, resumes across restarts, re-attaches partition-path
    values, and refuses replacecommits (clustering) and deltacommits
    (MOR logs) loudly."""
    from glue_table_cache_spark.sinks.hudi_optimize import optimize_hudi
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sources.delta import delta_data_files
    from glue_table_cache_spark.streaming.delta_sink import (
        stream_to_delta,
    )
    from glue_table_cache_spark.streaming.hudi_source import (
        read_hudi_stream,
    )

    src = str(tmp_path / "hsrc")
    dst = str(tmp_path / "hdst")
    ck = str(tmp_path / "hck")
    write_hudi_append(
        spark.range(0, 4)
        .selectExpr("id", "cast(id % 2 as string) as par")
        .coalesce(1),
        src,
        partition_by=["par"],
    )

    def start():
        return stream_to_delta(
            read_hudi_stream(spark, src), dst, ck, app_id="hpipe"
        )

    q = start()
    q.processAllAvailable()
    write_hudi_append(
        spark.range(4, 7)
        .selectExpr("id", "cast(id % 2 as string) as par")
        .coalesce(1),
        src,
        partition_by=["par"],
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.read.parquet(*delta_data_files(dst)).collect()
    assert sorted(r.id for r in rows) == list(range(7))
    # partition-path values re-attached (not in the base files)
    assert all(r.par == str(r.id % 2) for r in rows)

    # clustering emits a replacecommit: the append stream refuses
    assert optimize_hudi(spark, src, min_files_per_partition=1)
    write_hudi_append(
        spark.range(7, 9)
        .selectExpr("id", "cast(id % 2 as string) as par")
        .coalesce(1),
        src,
        partition_by=["par"],
    )
    q = start()
    with pytest.raises(Exception, match="replace"):
        q.processAllAvailable()
    q.stop()


def test_hudi_stream_source_refuses_mor_deltacommits(spark, tmp_path):
    from glue_table_cache_spark.sinks.hudi_log_write import write_hudi_log
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.streaming.delta_sink import (
        stream_to_delta,
    )
    from glue_table_cache_spark.streaming.hudi_source import (
        read_hudi_stream,
    )

    src = str(tmp_path / "msrc")
    write_hudi_append(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        src,
        table_type="MERGE_ON_READ",
    )
    write_hudi_log(
        spark,
        src,
        record_key_field="id",
        upserts=spark.createDataFrame([(1, "z")], "id long, v string"),
    )
    q = stream_to_delta(
        read_hudi_stream(spark, src),
        str(tmp_path / "mdst"),
        str(tmp_path / "mck"),
        app_id="mpipe",
    )
    with pytest.raises(Exception, match="deltacommit"):
        q.processAllAvailable()
    q.stop()


def test_iceberg_append_preserves_concurrent_evolution(
    spark, tmp_path, monkeypatch
):
    """Iceberg metadata is full-replacement: an append whose schema was
    resolved BEFORE a concurrent writer's evolution must re-resolve at
    commit time, or its metadata write silently rolls the evolution
    back.  Simulated by serving the writer a stale first metadata
    read."""
    import json as _json

    import glue_table_cache_spark.sinks.iceberg_write as IW

    loc = str(tmp_path / "race")
    IW.write_iceberg_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    stale = IW._latest_metadata(Path(loc) / "metadata")
    # the "concurrent" writer evolves the table
    IW.write_iceberg_append(
        spark.createDataFrame(
            [(2, "b", 1.5)], "id long, v string, score double"
        ),
        loc,
        merge_schema=True,
    )
    real = IW._latest_metadata
    calls = {"n": 0}

    def first_read_stale(meta_dir):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(meta_dir)

    monkeypatch.setattr(IW, "_latest_metadata", first_read_stale)
    IW.write_iceberg_append(
        spark.createDataFrame([(3, "c")], "id long, v string"), loc
    )
    metas = sorted(
        (Path(loc) / "metadata").glob("*.json"),
        key=lambda p: _json.loads(p.read_text())[
            "last-sequence-number"
        ],
    )
    final = _json.loads(metas[-1].read_text())
    names = [
        f["name"] for f in final["schemas"][0]["fields"]
    ]
    assert "score" in names  # the evolution survived the race
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "race", loc, parameters={"table_type": "ICEBERG"}
    )
    rows = {
        r.id: r.score
        for r in GlueSparkEngine(spark, store)
        .sql("SELECT id, score FROM glue.db.race")
        .collect()
    }
    assert rows == {1: None, 2: 1.5, 3: None}


def test_clean_delta_log_ignores_incomplete_checkpoint(spark, tmp_path):
    """A crashed multi-part checkpoint write (partial part set) is not
    covering evidence: clean_delta_log must NOT use it as the horizon
    and delete the only commits that can still reconstruct the table."""
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        clean_delta_log,
        write_delta_checkpoint,
    )
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sources.delta import delta_data_files

    loc = str(tmp_path / "dt")
    for i in range(3):
        write_delta_append(
            spark.createDataFrame([(i,)], "id long").coalesce(1), loc
        )
    log = tmp_path / "dt" / "_delta_log"
    # a COMPLETE single-part checkpoint at v1, then a partial 3-part
    # set at v2 (simulating a crash between part renames)
    write_delta_checkpoint(loc, version=1)
    part = log / "00000000000000000002.checkpoint.0000000001.0000000003.parquet"
    src = next(log.glob("00000000000000000001.checkpoint.parquet"))
    part.write_bytes(src.read_bytes())
    (log / "_last_checkpoint").unlink()  # listing-driven selection
    victims = clean_delta_log(loc, retention_hours=0, dry_run=False)
    # horizon = v1 (the complete one): only commit 0 is deletable
    assert [v.split("/")[-1] for v in victims] == [
        "00000000000000000000.json"
    ]
    # the table still reconstructs (checkpoint v1 + commit 2 replay;
    # the partial v2 set is simply not a candidate)
    assert len(delta_data_files(loc)) == 3


def test_delta_delete_preserves_foreign_protocol_features(spark, tmp_path):
    """DELETE's protocol upgrade must UNION the table's existing
    reader/writer features (an externally written table may carry
    timestampNtz, v2Checkpoint, ...) — clobbering them would let
    feature-unaware readers scan data they should refuse."""
    import json

    from glue_table_cache_spark.sinks.delta_delete import delete_from_delta
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = str(tmp_path / "dt")
    write_delta_append(
        spark.createDataFrame([(1,), (2,)], "id long").coalesce(1), loc
    )
    log = tmp_path / "dt" / "_delta_log"
    v0 = log / "00000000000000000000.json"
    # rewrite v0's protocol to a feature-vector one carrying a
    # harmless foreign feature the reader accepts
    lines = []
    for line in v0.read_text().splitlines():
        act = json.loads(line)
        if "protocol" in act:
            act["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["timestampNtz"],
                "writerFeatures": ["timestampNtz"],
            }
        lines.append(json.dumps(act))
    v0.write_text("\n".join(lines) + "\n")
    delete_from_delta(spark, loc, "id = 1")
    v1 = log / "00000000000000000001.json"
    proto = next(
        json.loads(l)["protocol"]
        for l in v1.read_text().splitlines()
        if "protocol" in json.loads(l)
    )
    assert "timestampNtz" in proto["readerFeatures"]
    assert "deletionVectors" in proto["readerFeatures"]
    assert "timestampNtz" in proto["writerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]


def test_delta_merge_ignores_dv_deleted_rows(spark, tmp_path):
    """A MERGE source key matching only DV-deleted rows must count as
    an INSERT, not an update — and must not pin the dead row's file
    into the rewrite set."""
    from glue_table_cache_spark.sinks.delta_delete import delete_from_delta
    from glue_table_cache_spark.sinks.delta_merge import merge_into_delta
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = str(tmp_path / "dt")
    write_delta_append(
        spark.createDataFrame(
            [(1, "live"), (2, "dead")], "id long, v string"
        ).coalesce(1),
        loc,
    )
    delete_from_delta(spark, loc, "id = 2")  # id=2 now DV-masked
    _ver, n_upd, n_ins = merge_into_delta(
        spark,
        loc,
        spark.createDataFrame([(2, "reborn")], "id long, v string"),
        on="id",
    )
    assert (n_upd, n_ins) == (0, 1)
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", loc, parameters={"spark.sql.sources.provider": "delta"}
    )
    got = {
        r.id: r.v
        for r in GlueSparkEngine(spark, store)
        .sql("SELECT * FROM glue.db.t")
        .collect()
    }
    assert got == {1: "live", 2: "reborn"}


def test_hudi_log_write_caps_upsert_batch(spark, tmp_path):
    """write_hudi_log is a driver-built micro-batch path — an
    oversized upsert batch refuses loudly (pointing at the COW bulk
    path) instead of OOMing the driver."""
    import pytest as _p

    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.hudi_log_write import write_hudi_log
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = str(tmp_path / "mor")
    write_hudi_append(
        spark.createDataFrame([(1, "a")], "o_orderkey long, v string"),
        loc,
        table_type="MERGE_ON_READ",
    )
    big = spark.range(100).selectExpr(
        "id AS o_orderkey", "'x' AS v"
    )
    with _p.raises(GlueSparkError, match="write_hudi_append"):
        write_hudi_log(
            spark, loc, "o_orderkey", upserts=big, max_upsert_rows=10,
        )
    # under the cap the same batch lands
    assert write_hudi_log(
        spark, loc, "o_orderkey", upserts=big.limit(5),
        max_upsert_rows=10,
    )


def test_v2_checkpoint_round_trip_after_log_clean(spark, tmp_path):
    """enable_v2_checkpoints -> write_delta_checkpoint_v2 ->
    clean_delta_log: the table reconstructs purely from the uuid
    manifest + sidecars (stats and txn markers intact), and further
    appends + a SECOND v2 checkpoint bootstrap from the first."""
    import json

    from glue_table_cache_spark.sinks.delta_checkpoint import (
        clean_delta_log,
        enable_v2_checkpoints,
        write_delta_checkpoint,
        write_delta_checkpoint_v2,
    )
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sources.delta import (
        delta_scan_info,
        delta_data_files,
    )

    loc = str(tmp_path / "dt")
    for i in range(3):
        write_delta_append(
            spark.createDataFrame([(i,)], "id long").coalesce(1), loc,
            txn_app_id="streamA", txn_version=i,
        )
    v = enable_v2_checkpoints(loc)
    assert v == 3
    # the policy gate: classic writer refuses on a v2 table
    import pytest as _p

    from glue_table_cache_spark.errors import GlueSparkError

    with _p.raises(GlueSparkError, match="checkpointPolicy=v2"):
        write_delta_checkpoint(loc)
    cp = write_delta_checkpoint_v2(loc, max_actions_per_sidecar=2)
    assert cp == 3
    log = tmp_path / "dt" / "_delta_log"
    manifests = [
        p for p in log.iterdir() if ".checkpoint." in p.name
    ]
    assert len(manifests) == 1
    assert (log / "_sidecars").is_dir()
    assert len(list((log / "_sidecars").glob("*.parquet"))) == 2
    # retention: all JSON commits below the horizon go away...
    victims = clean_delta_log(loc, retention_hours=0, dry_run=False)
    # commits 0..2 go; the commit AT the horizon (3) is kept, same
    # "strictly below" contract as classic checkpoints
    assert len(victims) == 3
    # ...and the table still reconstructs from the checkpoint alone
    entries, _r, schema = delta_scan_info(loc, with_schema=True)
    assert len(entries) == 3
    assert schema is not None and "id" in schema.fieldNames()
    got = sorted(
        r.id
        for r in spark.read.schema(schema)
        .parquet(*[p for p, _pv, _dv in entries])
        .collect()
    )
    assert got == [0, 1, 2]
    # stats survived the round trip (zone maps keep working)
    with_stats, _r2 = delta_scan_info(loc, with_stats=True)
    assert all(
        st and json.loads(st).get("numRecords") == 1
        for _p2, _pv, _dv, st in with_stats
    )
    # txn high-water mark survived (exactly-once restart safety)
    from glue_table_cache_spark.sources.delta import (
        delta_last_txn_version,
    )

    assert delta_last_txn_version(loc, "streamA") == 2
    # append more and checkpoint again: the second v2 checkpoint
    # bootstraps from the first (the commits under it are gone)
    write_delta_append(
        spark.createDataFrame([(9,)], "id long").coalesce(1), loc
    )
    cp2 = write_delta_checkpoint_v2(loc)
    assert cp2 == 4
    assert len(delta_data_files(loc)) == 4


def test_v2_checkpoint_requires_feature_gate(spark, tmp_path):
    """A uuid-named checkpoint on a table whose protocol never
    enabled v2Checkpoint would strand feature-unaware readers — the
    writer refuses and names the fix."""
    import pytest as _p

    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        write_delta_checkpoint_v2,
    )
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = str(tmp_path / "dt")
    write_delta_append(
        spark.createDataFrame([(1,)], "id long").coalesce(1), loc
    )
    with _p.raises(GlueSparkError, match="enable_v2_checkpoints"):
        write_delta_checkpoint_v2(loc)


def test_maybe_checkpoint_dispatches_on_policy(spark, tmp_path):
    """Interval auto-checkpointing keeps working after a table flips
    to v2 policy — the every-Nth-commit contract emits the uuid form
    there instead of raising."""
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        enable_v2_checkpoints,
    )
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sources.delta import _CHECKPOINT_V2_RE

    loc = str(tmp_path / "dt")
    write_delta_append(
        spark.createDataFrame([(0,)], "id long").coalesce(1), loc
    )
    enable_v2_checkpoints(loc)  # version 1
    # versions 2 and 3; interval 3 → auto-checkpoint at 3
    for i in (2, 3):
        write_delta_append(
            spark.createDataFrame([(i,)], "id long").coalesce(1),
            loc,
            checkpoint_interval=3,
        )
    log = tmp_path / "dt" / "_delta_log"
    v2 = [
        p.name
        for p in log.iterdir()
        if _CHECKPOINT_V2_RE.search(p.name)
    ]
    assert len(v2) == 1 and v2[0].startswith("00000000000000000003")


def test_iceberg_stream_sink_exactly_once_end_to_end(spark, tmp_path):
    """delta_lite source -> stream_to_iceberg sink (the cross-format
    mirror): appends land while the stream runs, a restart with the
    same checkpoint appends only new batches, and a forced replay of
    an already-committed batch no-ops via the snapshot-summary txn
    marker — exactly-once end to end, one snapshot per epoch."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        iceberg_last_txn_version,
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_data_files,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )
    from glue_table_cache_spark.streaming.iceberg_sink import (
        stream_to_iceberg,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    write_delta_append(
        spark.range(0, 5).selectExpr("id", "cast(id as string) as s"),
        src,
    )

    def start():
        return stream_to_iceberg(
            read_delta_stream(spark, src), dst, ck, app_id="pipe"
        )

    q = start()
    q.processAllAvailable()
    write_delta_append(
        spark.range(5, 8).selectExpr("id", "cast(id as string) as s"),
        src,
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*iceberg_data_files(dst)).collect()
    )
    assert got == list(range(8))

    # restart with the same checkpoint; only NEW data flows
    write_delta_append(
        spark.range(8, 10).selectExpr("id", "cast(id as string) as s"),
        src,
    )
    q = start()
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*iceberg_data_files(dst)).collect()
    )
    assert got == list(range(10))
    # forced crash-replay of the last batch id: summary-marker no-op
    last = iceberg_last_txn_version(dst, "pipe")
    assert last is not None
    seq_before = write_iceberg_append(
        spark.range(8, 10).selectExpr("id", "cast(id as string) as s"),
        dst,
        summary={"txn-app-id": "pipe", "txn-version": str(last)},
    )
    got = sorted(
        r.id
        for r in spark.read.parquet(*iceberg_data_files(dst)).collect()
    )
    assert got == list(range(10))
    # the no-op returned the CURRENT sequence number, no new snapshot
    from glue_table_cache_spark.sinks.iceberg_write import (
        _latest_metadata,
    )
    from pathlib import Path as _Path

    meta = _latest_metadata(_Path(dst) / "metadata")
    assert meta["last-sequence-number"] == seq_before


def test_hudi_stream_sink_exactly_once_end_to_end(spark, tmp_path):
    """delta_lite source -> stream_to_hudi sink (the third format's
    sink, completing the 3x3 source/sink matrix): appends land while
    the stream runs, a restart with the same checkpoint appends only
    new batches, and a forced replay of an already-committed batch
    no-ops via the commit extraMetadata txn marker — exactly-once end
    to end, one instant per epoch."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        hudi_last_txn_version,
        write_hudi_append,
    )
    from glue_table_cache_spark.sources.hudi import hudi_data_files
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )
    from glue_table_cache_spark.streaming.hudi_sink import (
        stream_to_hudi,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    write_delta_append(
        spark.range(0, 5).selectExpr("id", "cast(id as string) as s"),
        src,
    )

    def start():
        return stream_to_hudi(
            read_delta_stream(spark, src), dst, ck, app_id="pipe"
        )

    q = start()
    q.processAllAvailable()
    write_delta_append(
        spark.range(5, 8).selectExpr("id", "cast(id as string) as s"),
        src,
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*hudi_data_files(dst)).collect()
    )
    assert got == list(range(8))

    # restart with the same checkpoint; only NEW data flows
    write_delta_append(
        spark.range(8, 10).selectExpr("id", "cast(id as string) as s"),
        src,
    )
    q = start()
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r.id
        for r in spark.read.parquet(*hudi_data_files(dst)).collect()
    )
    assert got == list(range(10))

    # forced crash-replay of the last batch id: extraMetadata-marker
    # no-op, no new instant, no leftover data files
    from pathlib import Path as _Path

    from glue_table_cache_spark.errors import GlueSparkError

    last = hudi_last_txn_version(dst, "pipe")
    assert last is not None
    hoodie = _Path(dst) / ".hoodie"
    commits_before = sorted(
        p.name for p in hoodie.iterdir() if p.suffix == ".commit"
    )
    files_before = set(hudi_data_files(dst))
    replay_instant = write_hudi_append(
        spark.range(8, 10).selectExpr("id", "cast(id as string) as s"),
        dst,
        extra_metadata={"txn-app-id": "pipe", "txn-version": str(last)},
    )
    assert replay_instant == commits_before[-1].split(".")[0]
    commits_after = sorted(
        p.name for p in hoodie.iterdir() if p.suffix == ".commit"
    )
    assert commits_after == commits_before
    assert set(hudi_data_files(dst)) == files_before
    got = sorted(
        r.id
        for r in spark.read.parquet(*hudi_data_files(dst)).collect()
    )
    assert got == list(range(10))
    # a NEW version still publishes; half-open pair refuses
    write_hudi_append(
        spark.range(10, 11).selectExpr(
            "id", "cast(id as string) as s"
        ),
        dst,
        extra_metadata={
            "txn-app-id": "pipe",
            "txn-version": str(last + 1),
        },
    )
    assert hudi_last_txn_version(dst, "pipe") == last + 1
    with pytest.raises(GlueSparkError, match="together"):
        write_hudi_append(
            spark.range(0, 1).selectExpr(
                "id", "cast(id as string) as s"
            ),
            dst,
            extra_metadata={"txn-app-id": "pipe"},
        )
    with pytest.raises(GlueSparkError, match="reserved"):
        write_hudi_append(
            spark.range(0, 1).selectExpr(
                "id", "cast(id as string) as s"
            ),
            dst,
            extra_metadata={"schema": "{}"},
        )


def test_delta_stream_cdf_mode(spark, tmp_path):
    """readChangeFeed=true streams CHANGE rows: a mid-stream DELETE
    (full-file removes) arrives as delete rows downstream instead of
    refusing the dataChange remove, and a restart from the same
    checkpoint re-delivers nothing."""
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    # one file per commit: a whole-file DELETE later is a plain
    # dataChange remove (the DV case is the documented refusal)
    write_delta_append(
        spark.range(0, 3).selectExpr("id", "id * 10 as v").coalesce(1),
        src,
    )
    write_delta_append(
        spark.range(3, 6).selectExpr("id", "id * 10 as v").coalesce(1),
        src,
    )
    seen: list = []

    def start():
        return (
            read_delta_stream(spark, src, read_change_feed=True)
            .writeStream.foreachBatch(
                lambda df, bid: seen.extend(df.collect())
            )
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    q.processAllAvailable()
    # history arrives as inserts
    assert {r._change_type for r in seen} == {"insert"}
    assert sorted(r.id for r in seen) == [0, 1, 2, 3, 4, 5]
    # mid-stream DELETE of the whole first file → delete change rows
    n_before = len(seen)
    _v, n = delete_from_delta(spark, src, "id < 3")
    assert n == 3
    q.processAllAvailable()
    dels = [r for r in seen[n_before:]]
    assert sorted(r.id for r in dels) == [0, 1, 2]
    assert {r._change_type for r in dels} == {"delete"}
    assert {r._commit_version for r in dels} == {2}
    q.stop()
    # restart on the same checkpoint: exactly-once, nothing replays
    n_before = len(seen)
    q = start()
    q.processAllAvailable()
    q.stop()
    assert len(seen) == n_before
    # the append-only mode still refuses the same remove
    import pytest as _p

    q2 = (
        read_delta_stream(spark, src)
        .writeStream.foreachBatch(lambda df, bid: df.count())
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    with _p.raises(Exception, match="dataChange|STREAM"):
        q2.processAllAvailable()
    q2.stop()


def test_clean_delta_log_retires_superseded_v2_checkpoints(
    spark, tmp_path
):
    """A newer v2 checkpoint supersedes the older one: the old
    manifest AND the sidecars only it referenced age out, while the
    live checkpoint's sidecars survive; a crash-orphaned sidecar
    (referenced by nothing) goes too."""
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        clean_delta_log,
        enable_v2_checkpoints,
        write_delta_checkpoint_v2,
    )
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sources.delta import delta_data_files

    loc = str(tmp_path / "dt")
    write_delta_append(
        spark.createDataFrame([(0,)], "id long").coalesce(1), loc
    )
    enable_v2_checkpoints(loc)
    write_delta_checkpoint_v2(loc)  # v1 checkpoint
    write_delta_append(
        spark.createDataFrame([(1,)], "id long").coalesce(1), loc
    )
    write_delta_checkpoint_v2(loc)  # v2 checkpoint supersedes
    log = tmp_path / "dt" / "_delta_log"
    orphan = log / "_sidecars" / "deadbeef-orphan.parquet"
    orphan.write_bytes(b"junk")  # crashed write's leftover
    before = {p.name for p in (log / "_sidecars").iterdir()}
    assert len(before) == 3
    victims = clean_delta_log(loc, retention_hours=0, dry_run=False)
    names = {v.split("/")[-1] for v in victims}
    assert "deadbeef-orphan.parquet" in names
    assert any(".checkpoint." in n and n.endswith(".parquet")
               and n.startswith("00000000000000000001") for n in names)
    # the live checkpoint's sidecar survives and the table still reads
    left = {p.name for p in (log / "_sidecars").iterdir()}
    assert len(left) == 1 and left < before
    assert len(delta_data_files(loc)) == 2


def test_restore_delta_round_trip(spark, tmp_path):
    """RESTORE re-materializes an old version as a NEW commit:
    contents revert (deletion vectors included), history is
    preserved, and the pre-restore state stays travelable."""
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        restore_delta,
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_scan_info

    loc = str(tmp_path / "dt")

    def ids():
        from glue_table_cache_spark.sources.delta import (
            apply_deletion_vectors,
        )

        entries, _r = delta_scan_info(loc)
        df = spark.read.parquet(*[p for p, _pv, _dv in entries])
        df = apply_deletion_vectors(df, entries, loc)
        return sorted(r.id for r in df.collect())

    write_delta_append(spark.range(0, 3).coalesce(1), loc)   # v0
    write_delta_append(spark.range(3, 6).coalesce(1), loc)   # v1
    delete_from_delta(spark, loc, "id = 1")                  # v2 (DV)
    assert ids() == [0, 2, 3, 4, 5]
    v = restore_delta(loc, 0)
    assert v == 3
    assert ids() == [0, 1, 2]
    # pre-restore state still travelable (version 2 = post-delete)
    entries, _r = delta_scan_info(loc, version_offset=1)
    assert {dv is not None for _p, _pv, dv in entries} == {True, False}
    # restoring to the restore version itself is a no-op
    assert restore_delta(loc, 3) == 3
    # vacuumed target refuses
    import pytest as _pytest

    from glue_table_cache_spark.errors import GlueSparkError

    files_v1_only = [
        p
        for p, _pv, _dv in delta_scan_info(loc, version_offset=2)[0]
        if p not in {q for q, _pv, _dv in delta_scan_info(loc)[0]}
    ]
    for p in files_v1_only:
        import os as _os

        _os.unlink(p)
    with _pytest.raises(GlueSparkError, match="vacuumed"):
        restore_delta(loc, 1)


def test_rollback_iceberg_and_branching(spark, tmp_path):
    """Iceberg RESTORE is metadata-only: current-snapshot-id points
    back, travel still reaches the rolled-back state, and the next
    append branches from the restored snapshot (not the stale
    newest)."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        rollback_iceberg,
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_data_files,
    )

    loc = str(tmp_path / "ice")

    def ids(**kw):
        return sorted(
            r.id
            for r in spark.read.parquet(
                *iceberg_data_files(loc, **kw)
            ).collect()
        )

    write_iceberg_append(spark.range(0, 2).coalesce(1), loc)  # seq 1
    write_iceberg_append(spark.range(2, 4).coalesce(1), loc)  # seq 2
    assert ids() == [0, 1, 2, 3]
    seq = rollback_iceberg(loc, 1)
    assert seq == 3
    assert ids() == [0, 1]
    # the rolled-back-over state is still reachable by travel
    assert ids(version_offset=1) == [0, 1, 2, 3]
    # a new append branches from the RESTORED state
    write_iceberg_append(spark.range(9, 10).coalesce(1), loc)
    assert ids() == [0, 1, 9]
    # restoring to a never-existing sequence refuses
    import pytest as _pytest

    from glue_table_cache_spark.errors import GlueSparkError

    with _pytest.raises(GlueSparkError, match="does not exist"):
        rollback_iceberg(loc, 99)


def test_restore_hudi_rewinds_timeline(spark, tmp_path):
    """Hudi RESTORE is destructive: later instants and their files
    are removed; a restore whose target state was cleaned refuses."""
    from glue_table_cache_spark.sinks.hudi_write import (
        restore_hudi,
        write_hudi_append,
    )
    from glue_table_cache_spark.sources.hudi import hudi_data_files

    loc = str(tmp_path / "hu")
    i1 = write_hudi_append(spark.range(0, 2).coalesce(1), loc)
    i2 = write_hudi_append(spark.range(2, 4).coalesce(1), loc)

    def ids():
        return sorted(
            r.id
            for r in spark.read.parquet(*hudi_data_files(loc)).collect()
        )

    assert ids() == [0, 1, 2, 3]
    n = restore_hudi(loc, int(i1))
    assert n == 1
    assert ids() == [0, 1]
    # the i2 instant file and its data files are gone
    from pathlib import Path as _Path

    assert not list(_Path(loc).glob(f".hoodie/{i2}.*"))
    # restore to the current instant is a no-op
    assert restore_hudi(loc, int(i1)) == 0


def test_writer_side_cdf_dml(spark, tmp_path):
    """With delta.enableChangeDataFeed=true (set via SQL ALTER), the
    DELETE/UPDATE/MERGE writers record cdc files in their commits and
    delta_cdf returns EXACT row-level changes — including the DV
    delete case that must refuse without cdc."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_cdf

    loc = str(tmp_path / "cdf")
    write_delta_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ).coalesce(1),
        loc,
    )  # v0
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", loc,
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "ALTER TABLE glue.db.t SET TBLPROPERTIES "
        "('delta.enableChangeDataFeed'='true')"
    ).first()  # v1
    assert out.operation == "SET TBLPROPERTIES"
    # DV delete of ONE row (not the whole file): cdc makes the
    # change set exact where synthesis must refuse
    eng.sql("DELETE FROM glue.db.t WHERE id = 2")  # v2
    ch = delta_cdf(spark, loc, since_version=1)
    rows = [
        (r.id, r.v, r._change_type, r._commit_version)
        for r in ch.collect()
    ]
    assert rows == [(2, "b", "delete", 2)]
    # UPDATE: pre/post pairs
    eng.sql("UPDATE glue.db.t SET v = 'Z' WHERE id = 3")  # v3
    ch = sorted(
        (r.id, r.v, r._change_type)
        for r in delta_cdf(spark, loc, since_version=2).collect()
    )
    assert ch == [
        (3, "Z", "update_postimage"), (3, "c", "update_preimage"),
    ]
    # MERGE: matched pre/post + insert
    eng.sql(
        "MERGE INTO glue.db.t USING (SELECT 1 AS id, 'A' AS v "
        "UNION ALL SELECT 9, 'i') s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )  # v4
    ch = sorted(
        (r.id, r.v, r._change_type)
        for r in delta_cdf(spark, loc, since_version=3).collect()
    )
    assert ch == [
        (1, "A", "update_postimage"),
        (1, "a", "update_preimage"),
        (9, "i", "insert"),
    ]
    # table contents stayed correct throughout
    got = sorted(
        (r.id, r.v)
        for r in eng.sql("SELECT id, v FROM glue.db.t").collect()
    )
    assert got == [(1, "A"), (3, "Z"), (9, "i")]
    # non-delta tables refuse properties
    store.register_parquet_dir("db", "p", str(tmp_path / "nope"))
    import pytest as _pytest

    from glue_table_cache_spark.errors import GlueSparkError

    with _pytest.raises(GlueSparkError, match="own metadata"):
        eng.sql(
            "ALTER TABLE glue.db.p SET TBLPROPERTIES ('a'='b')"
        )


def test_stream_cdf_with_dv_delete(spark, tmp_path):
    """The delta_lite CDF stream consumes a writer-side cdc commit:
    a DV (partial-file) DELETE mid-stream arrives as exact delete
    rows instead of refusing."""
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
        write_delta_append,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    write_delta_append(
        spark.range(0, 4).selectExpr("id", "id * 10 as v").coalesce(1),
        src,
    )
    set_delta_table_properties(
        src, {"delta.enableChangeDataFeed": "true"}
    )
    seen: list = []
    q = (
        read_delta_stream(spark, src, read_change_feed=True)
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(df.collect())
        )
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    delete_from_delta(spark, src, "id = 1")  # DV: partial file
    q.processAllAvailable()
    q.stop()
    deletes = [
        (r.id, r.v)
        for r in seen
        if r._change_type == "delete"
    ]
    assert deletes == [(1, 10)]


def test_iceberg_refs_pin_and_travel(spark, tmp_path):
    """Named refs (spec v2 refs map): CREATE TAG/BRANCH points at a
    snapshot, scan-by-ref travels to it, expire never removes a
    ref'd snapshot, DROP makes it expirable again."""
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        expire_iceberg_snapshots,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        create_iceberg_ref,
        drop_iceberg_ref,
        write_iceberg_append,
    )
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    loc = str(tmp_path / "it")
    v1 = write_iceberg_append(
        spark.createDataFrame([(1, "a")], "id long, v string")
        .coalesce(1), loc,
    )
    write_iceberg_append(
        spark.createDataFrame([(2, "b")], "id long, v string")
        .coalesce(1), loc,
    )
    create_iceberg_ref(loc, "first", sequence_number=v1)
    create_iceberg_ref(loc, "head", ref_type="branch")

    def ids(**kw):
        entries, _p, _e = iceberg_scan_details(loc, **kw)
        df = spark.read.parquet(*[p for p, _pv, _s in entries])
        return sorted(r.id for r in df.collect())

    assert ids(as_of_ref="first") == [1]
    assert ids(as_of_ref="head") == [1, 2]
    assert ids() == [1, 2]

    # duplicate / reserved / unknown names refuse
    with pytest.raises(GlueSparkError, match="already exists"):
        create_iceberg_ref(loc, "first")
    with pytest.raises(GlueSparkError, match="reserved"):
        create_iceberg_ref(loc, "main")
    with pytest.raises(GlueSparkError, match="does not exist"):
        drop_iceberg_ref(loc, "nope")
    with pytest.raises(GlueSparkError, match="does not exist"):
        iceberg_scan_details(loc, as_of_ref="nope")

    # aggressive expiry: the tagged snapshot is pinned
    assert expire_iceberg_snapshots(
        loc, retention_hours=0.0, keep_last=1
    ) is None
    assert ids(as_of_ref="first") == [1]

    # dropped -> expirable -> ref resolution refuses loudly
    drop_iceberg_ref(loc, "first")
    assert expire_iceberg_snapshots(
        loc, retention_hours=0.0, keep_last=1
    ) is not None
    with pytest.raises(GlueSparkError, match="does not exist"):
        iceberg_scan_details(loc, as_of_ref="first")
    # the branch on the current snapshot still resolves
    assert ids(as_of_ref="head") == [1, 2]


def test_iceberg_stream_cdf_mode(spark, tmp_path):
    """iceberg_lite readChangeFeed=true streams CHANGE rows from
    consecutive-snapshot file diffs: appends arrive as inserts, an
    INSERT OVERWRITE as delete+insert rows, compaction emits
    nothing, a position-delete DELETE as its synthesized deleted
    rows (r11), and a restart from the same checkpoint re-delivers
    nothing."""
    from glue_table_cache_spark.sinks.iceberg_delete import (
        delete_from_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.streaming.iceberg_source import (
        read_iceberg_stream,
    )

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
        src,
    )
    write_iceberg_append(
        spark.createDataFrame([(3, "c")], "id long, v string")
        .coalesce(1),
        src,
    )
    seen: list = []

    def start():
        return (
            read_iceberg_stream(spark, src, read_change_feed=True)
            .writeStream.foreachBatch(
                lambda df, bid: seen.extend(df.collect())
            )
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    q.processAllAvailable()
    assert {r._change_type for r in seen} == {"insert"}
    assert sorted(r.id for r in seen) == [1, 2, 3]
    # INSERT OVERWRITE mid-stream: old content arrives as deletes,
    # replacement as inserts, all tagged with the overwrite's seq
    n_before = len(seen)
    write_iceberg_append(
        spark.createDataFrame([(9, "z")], "id long, v string")
        .coalesce(1),
        src,
        overwrite=True,
    )
    q.processAllAvailable()
    win = seen[n_before:]
    assert sorted(
        (r.id, r._change_type) for r in win
    ) == [(1, "delete"), (2, "delete"), (3, "delete"), (9, "insert")]
    assert {r._commit_version for r in win} == {3}
    # compaction is content-preserving: no change rows
    n_before = len(seen)
    optimize_iceberg(spark, src)
    q.processAllAvailable()
    assert len(seen) == n_before
    q.stop()
    # restart on the same checkpoint: exactly-once, nothing replays
    q = start()
    q.processAllAvailable()
    q.stop()
    assert len(seen) == n_before
    # a row-level DELETE (position deletes) streams as SYNTHESIZED
    # delete rows: the deleted row read back from the prior state's
    # file at its (file_path, pos) target (r11)
    delete_from_iceberg(spark, src, "id = 9")
    q = start()
    q.processAllAvailable()
    q.stop()
    win = seen[n_before:]
    assert [(r.id, r.v, r._change_type) for r in win] == [
        (9, "z", "delete")
    ]
    # a second DELETE emits only ITS rows (older pairs subtracted);
    # nothing matches here, so nothing arrives
    write_iceberg_append(
        spark.createDataFrame([(7, "q")], "id long, v string")
        .coalesce(1),
        src,
    )
    delete_from_iceberg(spark, src, "id = 7")
    n_before = len(seen)
    q = start()
    q.processAllAvailable()
    q.stop()
    win = seen[n_before:]
    assert sorted(
        (r.id, r._change_type) for r in win
    ) == [(7, "delete"), (7, "insert")]


def test_iceberg_stream_cdf_equality_delete_windows(
    spark, tmp_path
):
    """The CDF stream synthesizes EQUALITY-delete windows (r12): a
    snapshot adding equality-delete files streams the prior state's
    matching rows as deletes under the strictly-less seq scoping
    (same-snapshot adds exempt), and a dual-kind snapshot (position
    + equality deletes at once) emits each dead row exactly once —
    mirroring the batch ``iceberg_table_changes`` semantics."""
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )
    from glue_table_cache_spark.streaming.iceberg_source import (
        read_iceberg_stream,
    )

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    reinsert = spark.createDataFrame(
        [(2, "B2")], "id long, v string"
    )
    base = build_iceberg_table(
        tmp_path / "eqstream",
        [
            a,  # seq 1
            {   # seq 2: eq-delete id=2 and re-add it (exempt)
                "add": reinsert,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },
            {   # seq 3: dual-kind — pos-delete id=3 AND eq-delete
                # ids {1, 3}: id=3 dies ONCE (position synthesis
                # owns it), id=1 via the equality synthesis
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 3
                },
                "eq_delete": {
                    "columns": ["id"],
                    "rows": [{"id": 1}, {"id": 3}],
                },
            },
        ],
    )
    seen: list = []
    q = (
        read_iceberg_stream(spark, str(base), read_change_feed=True)
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(
        (r.id, r.v, r._change_type, r._commit_version)
        for r in seen
    ) == [
        (1, "a", "delete", 3),
        (1, "a", "insert", 1),
        (2, "B2", "insert", 2),
        (2, "b", "delete", 2),
        (2, "b", "insert", 1),
        (3, "c", "delete", 3),
        (3, "c", "insert", 1),
    ]


def test_iceberg_stream_cdf_removal_plus_eq_emits_once(
    spark, tmp_path
):
    """A snapshot REMOVING a data file while adding an equality
    delete matching its rows streams each dead row exactly once: the
    removed file's rows via its full-file delete unit, the KEPT
    files' matches via the eqdel synthesis — never both."""
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )
    from glue_table_cache_spark.streaming.iceberg_source import (
        read_iceberg_stream,
    )

    base = build_iceberg_table(
        tmp_path / "rmeq",
        [
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "id long, v string"
            ),  # part-1
            spark.createDataFrame(
                [(3, "c")], "id long, v string"
            ),  # part-2
            {   # seq 3: retire part-1 AND eq-delete ids {1, 3}
                "add": None,
                "delete": ["part-1.parquet"],
                "eq_delete": {
                    "columns": ["id"],
                    "rows": [{"id": 1}, {"id": 3}],
                },
            },
        ],
    )
    seen: list = []
    q = (
        read_iceberg_stream(spark, str(base), read_change_feed=True)
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    win = [
        (r.id, r.v, r._change_type)
        for r in seen
        if r._commit_version == 3
    ]
    assert sorted(win) == [
        (1, "a", "delete"),
        (2, "b", "delete"),
        (3, "c", "delete"),
    ]


def test_iceberg_stream_append_mode_refuses_overwrite(
    spark, tmp_path
):
    """The append-only iceberg_lite mode refuses an overwrite
    snapshot UP FRONT (manifest-list exclusion retires files without
    tombstones — silently re-delivering replacement rows as appends
    would be wrong)."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.streaming.iceberg_source import (
        read_iceberg_stream,
    )

    src = str(tmp_path / "src")
    write_iceberg_append(
        spark.createDataFrame([(1, "a")], "id long, v string")
        .coalesce(1),
        src,
    )
    write_iceberg_append(
        spark.createDataFrame([(9, "z")], "id long, v string")
        .coalesce(1),
        src,
        overwrite=True,
    )
    q = (
        read_iceberg_stream(spark, src)
        .writeStream.foreachBatch(lambda df, bid: df.count())
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    with pytest.raises(Exception, match="not an append"):
        q.processAllAvailable()
    q.stop()


def test_hudi_stream_cdf_mode(spark, tmp_path):
    """hudi_lite readChangeFeed=true streams CHANGE rows from
    consecutive-instant timeline diffs: appends as inserts, a COW
    DELETE replacecommit as the rewritten slice's delete+insert
    rows, restart re-delivers nothing, MOR deltacommits refuse."""
    from glue_table_cache_spark.sinks.hudi_log_write import (
        delete_from_hudi,
        write_hudi_log,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.streaming.hudi_source import (
        read_hudi_stream,
    )

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    write_hudi_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
        src,
    )
    write_hudi_append(
        spark.createDataFrame([(3, "c")], "id long, v string")
        .coalesce(1),
        src,
    )
    seen: list = []

    def start():
        return (
            read_hudi_stream(spark, src, read_change_feed=True)
            .writeStream.foreachBatch(
                lambda df, bid: seen.extend(df.collect())
            )
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    q.processAllAvailable()
    assert {r._change_type for r in seen} == {"insert"}
    assert sorted(r.id for r in seen) == [1, 2, 3]
    # COW DELETE = replacecommit: the (1,2) slice retires (delete
    # rows) and its survivor slice (2) re-inserts — net delete of 1
    n_before = len(seen)
    delete_from_hudi(spark, src, "id = 1")
    q.processAllAvailable()
    win = seen[n_before:]
    assert sorted((r.id, r._change_type) for r in win) == [
        (1, "delete"),
        (2, "delete"),
        (2, "insert"),
    ]
    assert len({r._commit_version for r in win}) == 1
    q.stop()
    # restart on the same checkpoint: exactly-once
    n_before = len(seen)
    q = start()
    q.processAllAvailable()
    q.stop()
    assert len(seen) == n_before


def test_hudi_stream_cdf_replacecommit_over_live_logs(
    spark, tmp_path
):
    """The CDF stream handles clustering-after-upserts (r12): a
    replacecommit retiring a live-log file group delivers deletes of
    the group's MERGED pre-state (base + logs, merged executor-side
    per group) plus inserts of the replacement slice."""
    import json as _json

    from glue_table_cache_spark.sinks.hudi_log_write import (
        write_hudi_log,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.streaming.hudi_source import (
        read_hudi_stream,
    )
    from tests.test_hudi import _stage_parquet

    loc = tmp_path / "sclusterlive"
    write_hudi_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
        str(loc),
        table_type="MERGE_ON_READ",
    )
    i2 = int(
        write_hudi_log(
            spark,
            str(loc),
            "id",
            upserts=spark.createDataFrame(
                [(2, "b2"), (3, "c")], "id long, v string"
            ),
            delete_keys=[1],
        )
    )
    commits = sorted((loc / ".hoodie").glob("*.commit"))
    commit1 = _json.loads(commits[0].read_text())
    fid = next(
        st["fileId"]
        for stats in commit1["partitionToWriteStats"].values()
        for st in stats
    )
    i3 = i2 + 1
    new_base = f"clustered-0_0-0-0_{i3}.parquet"
    _stage_parquet(
        spark.createDataFrame(
            [(2, "b2"), (3, "c")], "id long, v string"
        ),
        loc / new_base,
    )
    (loc / ".hoodie" / f"{i3}.replacecommit").write_text(
        _json.dumps(
            {
                "partitionToWriteStats": {
                    "": [
                        {"fileId": "clustered-0", "path": new_base,
                         "partitionPath": ""}
                    ]
                },
                "partitionToReplaceFileIds": {"": [fid]},
            }
        )
    )
    seen: list = []
    q = (
        read_hudi_stream(
            spark,
            str(loc),
            starting_instant=i2,  # only the replacecommit window
            read_change_feed=True,
            record_key_field="id",
        )
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(
        (r.id, r.v, r._change_type) for r in seen
    ) == [
        (2, "b2", "delete"),
        (2, "b2", "insert"),
        (3, "c", "delete"),
        (3, "c", "insert"),
    ]
    assert {r._commit_version for r in seen} == {i3}


def test_read_mor_delete_partition_orders_rollover_numerically(
    spark, tmp_path
):
    """The per-group executor merge folds '.log.10' AFTER '.log.9'
    (numeric version, not the lexicographic path string): a key
    upserted in .log.9 and deleted in .log.10 at one instant is DEAD
    in the pre-state and must not re-emit."""
    import json as _json

    from pyspark.sql.types import LongType, StringType, StructField

    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.sources.hudi_log import (
        data_block,
        delete_block,
        write_log_file,
    )
    from glue_table_cache_spark.streaming.hudi_source import (
        _stream_schema,
        read_mor_delete_partition,
    )

    loc = tmp_path / "roll10s"
    i1 = int(
        write_hudi_append(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "id long, v string"
            ).coalesce(1),
            str(loc),
            table_type="MERGE_ON_READ",
        )
    )
    commit1 = _json.loads(
        (loc / ".hoodie" / f"{i1}.commit").read_text()
    )
    st = next(
        st
        for stats in commit1["partitionToWriteStats"].values()
        for st in stats
    )
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["null", "string"]},
        ],
    }
    i2 = i1 + 1
    log9 = loc / f".{st['fileId']}_{i2}.log.9_0-0-0"
    log10 = loc / f".{st['fileId']}_{i2}.log.10_0-0-0"
    write_log_file(
        log9, [data_block(str(i2), schema, [{"id": 2, "v": "b9"}])]
    )
    write_log_file(log10, [delete_block(str(i2), [("2", "")])])
    out_schema = (
        _stream_schema(str(loc))
        .add(StructField("_change_type", StringType()))
        .add(StructField("_commit_version", LongType()))
    )
    rows = [
        r
        for b in read_mor_delete_partition(
            (str(loc / st["path"]), {}, i1),
            [(str(log9), i2, {}), (str(log10), i2, {})],
            out_schema,
            i2 + 1,
            "id",
        )
        for r in b.to_pylist()
    ]
    assert sorted(
        (r["id"], r["v"], r["_change_type"]) for r in rows
    ) == [(1, "a", "delete")]


def test_hudi_stream_cdf_nets_per_group_across_log_files(
    spark, tmp_path
):
    """The CDF stream nets per (instant, file group) exactly like the
    batch path: a deltacommit whose group rolled over into ``.log.2``
    (upsert in ``.log.1``, delete of the same key in ``.log.2``)
    streams ONE delete row for that key, never two conflicting rows
    at the same ``_commit_version``."""
    import json as _json

    from glue_table_cache_spark.sources.hudi_fixture import (
        build_hudi_table,
    )
    from glue_table_cache_spark.sources.hudi_log import (
        data_block,
        delete_block,
        write_log_file,
    )
    from glue_table_cache_spark.streaming.hudi_source import (
        read_hudi_stream,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["null", "string"]},
        ],
    }
    base = build_hudi_table(
        tmp_path / "srollover",
        [{"write": {"fg1": spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        )}}],
        table_type="MERGE_ON_READ",
    )
    first = base / ".hoodie" / "20240101000000.commit"
    body = _json.loads(first.read_text())
    body["extraMetadata"] = {"schema": _json.dumps(schema)}
    first.write_text(_json.dumps(body))
    ts = "20240101000001"
    log1 = f".fg1_{ts}.log.1_0-0-0"
    log2 = f".fg1_{ts}.log.2_0-0-0"
    write_log_file(
        base / log1,
        [data_block(ts, schema, [{"id": 2, "v": "bb"}])],
    )
    write_log_file(base / log2, [delete_block(ts, [("2", "")])])
    (base / ".hoodie" / f"{ts}.deltacommit").write_text(
        _json.dumps(
            {
                "partitionToWriteStats": {
                    "": [
                        {"fileId": "fg1", "path": log1,
                         "partitionPath": ""},
                        {"fileId": "fg1", "path": log2,
                         "partitionPath": ""},
                    ]
                }
            }
        )
    )
    seen: list = []
    q = (
        read_hudi_stream(
            spark,
            str(base),
            read_change_feed=True,
            record_key_field="id",
        )
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    key2 = [(r.v, r._change_type) for r in seen if r.id == 2]
    assert sorted(key2, key=lambda t: t[1]) == [
        (None, "delete"),
        ("b", "insert"),
    ]


def test_hudi_stream_cdf_mor_deltacommit(spark, tmp_path):
    """The CDF stream DECODES a MOR deltacommit (r11): its log
    upserts arrive as update_postimage rows and its delete blocks as
    key-carrying delete rows, decoded executor-side by the block
    codec; compaction then delivers NOTHING (content-preserving).
    The append mode still refuses the deltacommit."""
    from glue_table_cache_spark.sinks.hudi_log_write import (
        compact_hudi,
        write_hudi_log,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.streaming.hudi_source import (
        read_hudi_stream,
    )

    src = tmp_path / "src"
    write_hudi_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
        str(src),
        table_type="MERGE_ON_READ",
    )
    write_hudi_log(
        spark,
        str(src),
        "id",
        upserts=spark.createDataFrame(
            [(1, "a2"), (3, "c")], "id long, v string"
        ),
        delete_keys=[2],
    )
    seen: list = []
    ck = str(tmp_path / "ck")

    def start():
        return (
            read_hudi_stream(
                spark,
                str(src),
                read_change_feed=True,
                record_key_field="id",
            )
            .writeStream.foreachBatch(
                lambda df, bid: seen.extend(df.collect())
            )
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    got = sorted(
        ((r.id, r.v, r._change_type) for r in seen),
        key=lambda t: (t[0], t[2], t[1] or ""),
    )
    assert got == [
        (1, "a", "insert"),
        (1, "a2", "update_postimage"),
        (2, None, "delete"),
        (2, "b", "insert"),
        (3, "c", "update_postimage"),
    ]
    # compaction folds the logs: a resumed stream delivers nothing
    compact_hudi(spark, str(src), "id")
    n_before = len(seen)
    q = start()
    q.processAllAvailable()
    q.stop()
    assert len(seen) == n_before
    # the append mode still refuses the deltacommit window
    q2 = (
        read_hudi_stream(spark, str(src))
        .writeStream.foreachBatch(lambda df, bid: df.count())
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    with pytest.raises(Exception, match="deltacommit|STREAM"):
        q2.processAllAvailable()
    q2.stop()


def test_append_inherits_table_partitioning(spark, tmp_path):
    """Appends without partition_by INHERIT the table's recorded
    partitioning (Delta: metaData.partitionColumns; Hudi:
    hoodie.table.partition.fields / write-stats fallback) — a mixed
    partitioned/root layout is protocol-illegal AND unreadable
    (Spark's basePath discovery silently drops root-level files
    next to k=v dirs), so it must never be committable."""
    from glue_table_cache_spark.errors import GlueSparkError
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sources.delta import delta_scan_info
    from glue_table_cache_spark.sources.hudi import hudi_scan_info

    df1 = spark.createDataFrame(
        [(1, "2020"), (2, "2021")], "id long, year string"
    )
    df2 = spark.createDataFrame([(3, "2022")], "id long, year string")

    dloc = tmp_path / "dt"
    write_delta_append(df1, str(dloc), partition_by=["year"])
    write_delta_append(df2, str(dloc))  # no partition_by: inherits
    entries, _r = delta_scan_info(str(dloc))
    assert all(pv.get("year") for _p, pv, _dv in entries)
    assert {pv["year"] for _p, pv, _dv in entries} == {
        "2020", "2021", "2022"
    }
    # conflicting explicit partitioning refuses
    with pytest.raises(GlueSparkError, match="mixed layout"):
        write_delta_append(df2, str(dloc), partition_by=["id"])
    # batch lacking the partition column refuses
    with pytest.raises(GlueSparkError, match="lacks partition"):
        write_delta_append(
            spark.createDataFrame([(9,)], "id long"), str(dloc)
        )

    hloc = tmp_path / "ht"
    write_hudi_append(df1, str(hloc), partition_by=["year"])
    write_hudi_append(df2, str(hloc))  # inherits
    assert all(
        pv.get("year") for _p, pv in hudi_scan_info(str(hloc))
    )
    with pytest.raises(GlueSparkError, match="mixed layout"):
        write_hudi_append(df2, str(hloc), partition_by=["id"])
    # legacy table without the recorded property: derive from the
    # newest commit's write-stats partition paths
    props = hloc / ".hoodie" / "hoodie.properties"
    props.write_text(
        "hoodie.table.name=ht\nhoodie.table.type=COPY_ON_WRITE\n"
    )
    write_hudi_append(
        spark.createDataFrame([(4, "2023")], "id long, year string"),
        str(hloc),
    )
    assert {
        pv["year"] for _p, pv in hudi_scan_info(str(hloc))
    } == {"2020", "2021", "2022", "2023"}
    # unpartitioned tables keep refusing partitioned appends
    uloc = tmp_path / "ut"
    write_delta_append(df1, str(uloc))
    with pytest.raises(GlueSparkError, match="mixed layout"):
        write_delta_append(
            df2, str(uloc), partition_by=["year"]
        )


# ---------------------------------------------------------------------------
# DELETE metadata-only fast path (delta_delete.py step 0)
# ---------------------------------------------------------------------------


def _last_commit_actions(loc: str) -> list[dict]:
    import json as _json
    from pathlib import Path as _Path

    log = _Path(loc) / "_delta_log"
    last = sorted(log.glob("[0-9]*.json"))[-1]
    return [
        _json.loads(line)
        for line in last.read_text().splitlines()
        if line.strip()
    ]


def _read_live(spark, loc: str):
    from glue_table_cache_spark.sources.delta import (
        apply_deletion_vectors,
        delta_scan_info,
    )

    entries, _r = delta_scan_info(loc)
    if not entries:
        return []
    out = apply_deletion_vectors(
        spark.read.option("basePath", loc).parquet(
            *[p for p, _pv, _dv in entries]
        ),
        entries,
        loc,
    )
    return sorted((r.id, r.p) for r in out.collect())


def test_delete_metadata_only_retires_without_dvs(spark, tmp_path):
    """DELETE WHERE p='a' on a p-partitioned table is a pure metadata
    commit: removes only — no DV sidecars, no add actions, no
    protocol change — and the count comes from stats."""
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = str(tmp_path / "meta_only")
    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b") for i in range(10)],
        "id long, p string",
    )
    write_delta_append(df, loc, partition_by=["p"])
    v, n = delete_from_delta(spark, loc, "p = 'a'")
    assert n == 4
    actions = _last_commit_actions(loc)
    kinds = sorted({next(iter(a)) for a in actions})
    assert "remove" in kinds and "add" not in kinds
    assert "protocol" not in kinds  # no DVs -> no feature upgrade
    assert not list((tmp_path / "meta_only").glob("deletion_vector_*"))
    assert _read_live(spark, loc) == [(i, "b") for i in range(4, 10)]


def test_delete_mixed_metadata_and_dv(spark, tmp_path):
    """p='a' OR (p='b' AND id>=8): the a-file retires metadata-only in
    the SAME commit that attaches a DV to the b-file."""
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = str(tmp_path / "mixed")
    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b") for i in range(10)],
        "id long, p string",
    ).repartition(1)
    write_delta_append(df, loc, partition_by=["p"])
    v, n = delete_from_delta(
        spark, loc, "p = 'a' OR (p = 'b' AND id >= 8)"
    )
    assert n == 4 + 2
    actions = _last_commit_actions(loc)
    removes = [a["remove"] for a in actions if "remove" in a]
    adds = [a["add"] for a in actions if "add" in a]
    assert len(removes) == 2  # both files touched
    assert len(adds) == 1  # only the b-file re-added, with a DV
    assert adds[0]["deletionVector"]["cardinality"] == 2
    assert _read_live(spark, loc) == [(i, "b") for i in range(4, 8)]


def test_delete_data_predicate_never_uses_fast_path(spark, tmp_path):
    """The unsound-proof regression guard: DELETE WHERE id = 9 on a
    partitioned table must DV exactly one row — pruning's dropped
    conjunct must not 'prove' whole files."""
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = str(tmp_path / "guard")
    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b") for i in range(10)],
        "id long, p string",
    )
    write_delta_append(df, loc, partition_by=["p"])
    v, n = delete_from_delta(spark, loc, "id = 9")
    assert n == 1
    assert _read_live(spark, loc) == [
        (i, "a" if i < 4 else "b") for i in range(9)
    ]
    # and the conjunct form: p='a' AND id>=3 deletes ONE row, not the
    # whole p=a file (the exact shape the r7 fast path got wrong)
    v, n = delete_from_delta(spark, loc, "p = 'a' AND id >= 3")
    assert n == 1
    assert _read_live(spark, loc) == [
        (i, "a" if i < 3 else "b") for i in range(9) if i != 3
    ]


def test_delete_metadata_only_cdf_rows(spark, tmp_path):
    """On a CDF table the metadata-only path still writes cdc delete
    rows — including only the still-live rows of a file that already
    carried a DV."""
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_cdf

    loc = str(tmp_path / "meta_cdf")
    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b") for i in range(10)],
        "id long, p string",
    )
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
    )

    write_delta_append(df, loc, partition_by=["p"])
    set_delta_table_properties(
        loc, {"delta.enableChangeDataFeed": "true"}
    )
    # first, DV one row out of the a-file
    _v, n = delete_from_delta(spark, loc, "p = 'a' AND id = 0")
    assert n == 1
    v1, n = delete_from_delta(spark, loc, "p = 'a'")
    assert n == 3  # rows 1..3 — row 0 is already gone
    changes = delta_cdf(spark, loc, since_version=v1 - 1)
    got = sorted(
        (r.id, r._change_type) for r in changes.collect()
    )
    assert got == [(1, "delete"), (2, "delete"), (3, "delete")]


# ---------------------------------------------------------------------------
# Partitioned MERGE / UPDATE (delta_merge.py, r8)
# ---------------------------------------------------------------------------


def test_merge_into_delta_partitioned(spark, tmp_path):
    """MERGE into a partitioned table: only partitions holding a
    matched key rewrite; untouched partitions keep their files
    byte-identical; inserts land in their hive directories (including
    a brand-new partition)."""
    from glue_table_cache_spark.sinks.delta_merge import (
        merge_into_delta,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_scan_info

    loc = str(tmp_path / "pmerge")
    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b", f"v{i}") for i in range(8)],
        "id long, p string, v string",
    ).repartition(1)
    write_delta_append(df, loc, partition_by=["p"])
    before = {
        p: Path(p).stat().st_mtime_ns
        for p, _pv, _dv in delta_scan_info(loc)[0]
    }
    b_files = {p for p in before if "p=b" in p}
    src = spark.createDataFrame(
        [(0, "a", "V0"), (8, "b", "V8"), (9, "c", "V9")],
        "id long, p string, v string",
    )
    version, n_up, n_ins = merge_into_delta(spark, loc, src, on=["id"])
    assert (n_up, n_ins) == (1, 2)
    entries, _r = delta_scan_info(loc)
    after = {p for p, _pv, _dv in entries}
    # untouched partition b: same file, same bytes (never rewritten)
    assert b_files <= after
    for p in b_files:
        assert Path(p).stat().st_mtime_ns == before[p]
    # partition values recorded on the new adds
    pv_by_file = {p: pv for p, pv, _dv in entries}
    assert any(pv == {"p": "c"} for pv in pv_by_file.values())
    got = sorted(
        (r.id, r.p, r.v)
        for r in spark.read.option("basePath", loc)
        .parquet(*after)
        .collect()
    )
    want = sorted(
        [(0, "a", "V0"), (8, "b", "V8"), (9, "c", "V9")]
        + [(i, "a" if i < 4 else "b", f"v{i}") for i in range(1, 8)]
    )
    assert got == want


def test_update_delta_partitioned_moves_rows(spark, tmp_path):
    """UPDATE SET on a partition column MOVES the row to its new hive
    directory; untouched partitions stay byte-identical."""
    from glue_table_cache_spark.sinks.delta_merge import update_delta
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_scan_info

    loc = str(tmp_path / "pupd")
    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b", float(i)) for i in range(8)],
        "id long, p string, v double",
    ).repartition(1)
    write_delta_append(df, loc, partition_by=["p"])
    before = {
        p: Path(p).stat().st_mtime_ns
        for p, _pv, _dv in delta_scan_info(loc)[0]
    }
    b_files = {p for p in before if "p=b" in p}
    # move id=1 from partition a to partition z, and bump its v
    version, n = update_delta(
        spark, loc, "id = 1", {"p": "'z'", "v": "v + 100"}
    )
    assert n == 1
    entries, _r = delta_scan_info(loc)
    pv_by_file = {p: pv for p, pv, _dv in entries}
    assert any(pv == {"p": "z"} for pv in pv_by_file.values())
    for p in b_files:
        assert p in pv_by_file and Path(p).stat().st_mtime_ns == before[p]
    got = sorted(
        (r.id, r.p, r.v)
        for r in spark.read.option("basePath", loc)
        .parquet(*pv_by_file)
        .collect()
    )
    want = sorted(
        [(1, "z", 101.0)]
        + [
            (i, "a" if i < 4 else "b", float(i))
            for i in range(8)
            if i != 1
        ]
    )
    assert got == want


def test_update_delta_partitioned_non_partition_set(spark, tmp_path):
    """A plain SET on a data column in a partitioned table rewrites
    only the affected partition's file and keeps placement."""
    from glue_table_cache_spark.sinks.delta_merge import update_delta
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_scan_info

    loc = str(tmp_path / "pupd2")
    df = spark.createDataFrame(
        [(i, "a" if i < 4 else "b", float(i)) for i in range(8)],
        "id long, p string, v double",
    ).repartition(1)
    write_delta_append(df, loc, partition_by=["p"])
    version, n = update_delta(spark, loc, "p = 'a'", {"v": "v * 2"})
    assert n == 4
    entries, _r = delta_scan_info(loc)
    got = sorted(
        (r.id, r.p, r.v)
        for r in spark.read.option("basePath", loc)
        .parquet(*[p for p, _pv, _dv in entries])
        .collect()
    )
    want = sorted(
        [(i, "a", float(i) * 2) for i in range(4)]
        + [(i, "b", float(i)) for i in range(4, 8)]
    )
    assert got == want


def test_streaming_cdc_mirror_apply_changes(spark, tmp_path):
    """The continuous CDC loop: delta_lite readChangeFeed stream →
    foreachBatch(apply_changes) → a Hudi twin.  Each micro-batch nets
    to latest-action-per-key and lands as ONE general MERGE; restarts
    on the same checkpoint re-deliver nothing (exactly-once upstream)
    and the apply itself is idempotent under replay."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.operators.incremental import (
        apply_changes,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = tmp_path / "mir_src"
    dst = tmp_path / "mir_dst"
    ck = str(tmp_path / "mir_ck")
    rows = [(1, 10.0), (2, 20.0)]
    write_delta_append(
        spark.createDataFrame(rows, "id long, x double").coalesce(1),
        str(src),
    )
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
    )

    # CDF on so the partial-file DELETE below writes cdc rows
    set_delta_table_properties(
        str(src), {"delta.enableChangeDataFeed": "true"}
    )  # v1
    # seed the twin with the v0 snapshot (hudi's general merge needs
    # a base slice for schema authority)
    write_hudi_append(
        spark.createDataFrame(rows, "id long, x double"), str(dst)
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "src", str(src),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    store.register_parquet_dir(
        "db", "dst", str(dst), parameters={"hoodie.table.name": "dst"}
    )
    eng = GlueSparkEngine(spark, store)

    def _apply(batch_df, _bid):
        if batch_df.isEmpty():
            return
        apply_changes(eng, "glue.db.dst", batch_df, ["id"])

    def start():
        return (
            read_delta_stream(
                spark, str(src), read_change_feed=True,
                starting_version=1,
            )
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    q.processAllAvailable()
    # upstream changes flow through: insert + whole-file delete
    write_delta_append(
        spark.createDataFrame([(3, 30.0)], "id long, x double")
        .coalesce(1),
        str(src),
    )
    from glue_table_cache_spark.sinks.delta_delete import (
        delete_from_delta,
    )

    _v, n = delete_from_delta(spark, str(src), "id = 1")
    assert n == 1
    q.processAllAvailable()
    q.stop()

    def _snap(tbl):
        return sorted(
            (r.id, r.x)
            for r in eng.sql(f"SELECT * FROM {tbl}").collect()
        )

    assert _snap("glue.db.dst") == _snap("glue.db.src") == [
        (2, 20.0), (3, 30.0),
    ]
    # restart: the checkpoint re-delivers nothing, the twin is stable
    q = start()
    q.processAllAvailable()
    q.stop()
    assert _snap("glue.db.dst") == [(2, 20.0), (3, 30.0)]


def test_cdf_through_column_mapping(spark, tmp_path):
    """CDF composes with ALTER RENAME/DROP COLUMN: cdc files carry
    PHYSICAL names (pre-upgrade files' names ARE the pinned physical
    names), and both the batch TVF and the streaming readChangeFeed
    mode map every piece through the CURRENT metadata — so a rename
    no longer severs the table from table_changes()."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
        write_delta_append,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = str(tmp_path / "cmcdf")
    write_delta_append(
        spark.createDataFrame(
            [(1, 1.0), (2, 2.0)], "id long, x double"
        ),
        src,
    )  # v0
    set_delta_table_properties(
        src, {"delta.enableChangeDataFeed": "true"}
    )  # v1
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", src,
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql("UPDATE glue.db.t SET x = 10.0 WHERE id = 1")  # v2
    eng.sql("ALTER TABLE glue.db.t RENAME COLUMN x TO amount")  # v3
    # historical changes surface under the NEW logical name
    rows = sorted(
        (r._commit_version, r._change_type, r.id, r.amount)
        for r in eng.sql(
            "SELECT id, amount, _change_type, _commit_version "
            "FROM table_changes(glue.db.t, 0)"
        ).collect()
    )
    assert rows == [
        (0, "insert", 1, 1.0),
        (0, "insert", 2, 2.0),
        (2, "update_postimage", 1, 10.0),
        (2, "update_preimage", 1, 1.0),
    ]
    # DML AFTER the rename: cdc staged under the PHYSICAL spelling,
    # read back logically
    eng.sql("DELETE FROM glue.db.t WHERE id = 2")  # v4
    got = eng.sql(
        "SELECT id, amount, _change_type "
        "FROM table_changes(glue.db.t, 4)"
    ).collect()
    assert [(r.id, r.amount, r._change_type) for r in got] == [
        (2, 2.0, "delete")
    ]
    import pyarrow.parquet as pq
    from pathlib import Path as _P

    cdc_files = sorted(_P(src).glob("_change_data/*.parquet"))
    assert cdc_files
    names = pq.ParquetFile(cdc_files[-1]).schema_arrow.names
    assert "x" in names and "amount" not in names
    # streaming readChangeFeed maps too
    seen: list = []
    q = (
        read_delta_stream(spark, src, read_change_feed=True)
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(
        (r._commit_version, r._change_type, r.id, r.amount)
        for r in seen
    ) == rows + [(4, "delete", 2, 2.0)]
    # DROP COLUMN: the dropped column leaves the changelog schema
    eng.sql("ALTER TABLE glue.db.t DROP COLUMN amount")
    out = eng.sql("SELECT * FROM table_changes(glue.db.t, 0, 0)")
    assert out.columns == ["id", "_change_type", "_commit_version"]


def test_append_stream_over_renamed_table(spark, tmp_path):
    """The plain (append) delta_lite stream reads column-mapped
    tables: each logical field resolves its stable physical column,
    so files written before AND after a rename deliver under the
    current logical name."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = str(tmp_path / "apprn")
    write_delta_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), src
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", src,
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql("ALTER TABLE glue.db.t RENAME COLUMN v TO label")
    eng.sql("INSERT INTO glue.db.t VALUES (2, 'b')")
    seen: list = []
    q = (
        read_delta_stream(spark, src)
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted((r.id, r.label) for r in seen) == [
        (1, "a"), (2, "b"),
    ]


def test_streaming_scd2_mirror(spark, tmp_path):
    """The continuous HISTORY mirror: delta_lite readChangeFeed →
    foreachBatch(apply_changes(stored_as_scd_type=2)) → a living SCD2
    dimension.  Upstream UPDATE closes the prior version and opens a
    new one; upstream DELETE closes without inserting; a restart on
    the same checkpoint re-delivers nothing and the history stays
    converged."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.engine import GlueSparkEngine
    from glue_table_cache_spark.operators.incremental import (
        apply_changes,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
        write_delta_append,
    )
    from glue_table_cache_spark.streaming.delta_source import (
        read_delta_stream,
    )

    src = tmp_path / "s2_src"
    dim = tmp_path / "s2_dim"
    ck = str(tmp_path / "s2_ck")
    write_delta_append(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0)], "id long, x double"
        ).coalesce(1),
        str(src),
    )  # v0
    set_delta_table_properties(
        str(src), {"delta.enableChangeDataFeed": "true"}
    )  # v1
    write_delta_append(
        spark.createDataFrame(
            [], "id long, x double, __START_AT long, __END_AT long"
        ),
        str(dim),
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "src", str(src),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    store.register_parquet_dir(
        "db", "dim", str(dim),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)

    def _apply(batch_df, _bid):
        if batch_df.isEmpty():
            return
        apply_changes(
            eng, "glue.db.dim", batch_df, ["id"],
            stored_as_scd_type=2,
        )

    def start():
        return (
            read_delta_stream(
                spark, str(src), read_change_feed=True
            )
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ck)
            .start()
        )

    def hist():
        return sorted(
            (r["id"], r["x"], r["__START_AT"], r["__END_AT"])
            for r in eng.sql("SELECT * FROM glue.db.dim").collect()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert hist() == [(1, 10.0, 0, None), (2, 20.0, 0, None)]
    # upstream UPDATE + DELETE land as history transitions
    eng.sql("UPDATE glue.db.src SET x = 11.0 WHERE id = 1")  # v2
    eng.sql("DELETE FROM glue.db.src WHERE id = 2")          # v3
    q = start()
    q.processAllAvailable()
    q.stop()
    expect = [
        (1, 10.0, 0, 2),
        (1, 11.0, 2, None),
        (2, 20.0, 0, 3),
    ]
    assert hist() == expect
    # restart on the same checkpoint: nothing re-delivers, history
    # unchanged
    q = start()
    q.processAllAvailable()
    q.stop()
    assert hist() == expect


def test_hudi_stream_cdf_retired_log_born_group(spark, tmp_path):
    """Streaming twin of the batch log-born clustering window (r13):
    a replacecommit retiring a group that exists only as log blocks
    emits its base-less merged pre-state as delete change rows."""
    import json as _json

    from glue_table_cache_spark.sinks.hudi_log_write import (
        write_hudi_log,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.streaming.hudi_source import (
        read_hudi_stream,
    )
    from tests.test_hudi import _stage_parquet

    loc = tmp_path / "slogborn"
    write_hudi_append(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        str(loc),
        table_type="MERGE_ON_READ",
    )
    i2 = int(
        write_hudi_log(
            spark, str(loc), "id",
            upserts=spark.createDataFrame(
                [(2, "b"), (3, "c")], "id long, v string"
            ),
        )
    )
    i3 = int(
        write_hudi_log(
            spark, str(loc), "id",
            upserts=spark.createDataFrame(
                [(3, "C2")], "id long, v string"
            ),
            delete_keys=[2],
        )
    )
    dc = _json.loads(
        (loc / ".hoodie" / f"{i2}.deltacommit").read_text()
    )
    fid = next(
        st["fileId"]
        for stats in dc["partitionToWriteStats"].values()
        for st in stats
        if st.get("fileId")
    )
    i4 = i3 + 1
    new_base = f"clustered-0_0-0-0_{i4}.parquet"
    _stage_parquet(
        spark.createDataFrame([(3, "C2")], "id long, v string"),
        loc / new_base,
    )
    (loc / ".hoodie" / f"{i4}.replacecommit").write_text(
        _json.dumps(
            {
                "partitionToWriteStats": {
                    "": [
                        {"fileId": "clustered-0", "path": new_base,
                         "partitionPath": ""}
                    ]
                },
                "partitionToReplaceFileIds": {"": [fid]},
            }
        )
    )
    seen: list = []
    q = (
        read_hudi_stream(
            spark,
            str(loc),
            starting_instant=i3,  # only the replacecommit window
            read_change_feed=True,
            record_key_field="id",
        )
        .writeStream.foreachBatch(
            lambda df, bid: seen.extend(df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(
        (r.id, r.v, r._change_type) for r in seen
    ) == [
        (3, "C2", "delete"),
        (3, "C2", "insert"),
    ]
    assert {r._commit_version for r in seen} == {i4}


def test_iceberg_stream_cdf_delete_file_removal_resurrects(
    spark, tmp_path
):
    """The CDF stream synthesizes delete-file REMOVAL windows (r13;
    previously refused toward batch): removing a position-delete
    file streams the rows it had masked as inserts, a removal under
    a SURVIVING equality delete emits only what nothing still masks,
    and a dual-kind removal emits each row once — mirroring the
    batch resurrection synthesis."""
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )
    from glue_table_cache_spark.streaming.iceberg_source import (
        read_iceberg_stream,
    )

    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    # pos removal resurrects the masked row
    base = build_iceberg_table(
        tmp_path / "sres_pos",
        [
            a,  # seq 1
            {
                "add": None,
                "pos_delete": {
                    "part-1.parquet": lambda pdf: pdf["id"] == 2
                },
            },  # seq 2
            {"add": None, "drop_deletes": True},  # seq 3
        ],
    )

    def window(loc, start):
        seen: list = []
        q = (
            read_iceberg_stream(
                spark, str(loc),
                starting_sequence=start,
                read_change_feed=True,
            )
            .writeStream.foreachBatch(
                lambda df, bid: seen.extend(df.collect())
            )
            .option(
                "checkpointLocation",
                str(tmp_path / f"ck{loc.name}{start}"),
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            (r.id, r.v, r._change_type, r._commit_version)
            for r in seen
        )

    assert window(base, 3) == [(2, "b", "insert", 3)]

    # eq removal under a surviving eq file masking a DIFFERENT row
    base2 = build_iceberg_table(
        tmp_path / "sres_eq",
        [
            a,
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 2}]},
            },  # seq 2 (eq-manifest-2)
            {
                "add": None,
                "eq_delete": {"columns": ["id"], "rows": [{"id": 3}]},
            },  # seq 3
            {"add": None, "drop_deletes": ["eq-manifest-2"]},  # seq 4
        ],
    )
    assert window(base2, 4) == [(2, "b", "insert", 4)]

    # surviving eq file still masks the SAME row: nothing emits
    base3 = build_iceberg_table(
        tmp_path / "sres_masked",
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
    assert window(base3, 4) == []

    # dual-kind removal: a row masked by BOTH a removed position
    # delete and a removed equality delete resurrects exactly once
    base4 = build_iceberg_table(
        tmp_path / "sres_dual",
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
    assert window(base4, 3) == [(2, "b", "insert", 3)]
