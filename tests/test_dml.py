"""SQL DML on glue references: ``engine.sql("DELETE FROM ...")`` and
friends dispatch to the format writers (the reference's "SQL in,
engine does the work" thesis — /root/reference/src/sql-transformer.ts:38-54 —
applied to the write side)."""

import pytest

from glue_table_cache_spark.catalog import LocalMetadataStore
from glue_table_cache_spark.dml import (
    DeleteStatement,
    MergeStatement,
    UpdateStatement,
    parse_dml,
)
from glue_table_cache_spark.engine import GlueSparkEngine
from glue_table_cache_spark.errors import GlueSparkError, InvalidQueryError


# -- parsing -----------------------------------------------------------------


def test_parse_delete_variants():
    s = parse_dml("DELETE FROM glue.db.t WHERE x < 0")
    assert isinstance(s, DeleteStatement)
    assert (s.ref.database, s.ref.table) == ("db", "t")
    assert s.predicate == "x < 0"
    # alias qualifiers strip (writers see unqualified columns);
    # string literals survive untouched
    s = parse_dml("DELETE FROM glue.db.t AS o WHERE o.x < 0 AND o.y = 'o.z'")
    assert s.predicate == "x < 0 AND y = 'o.z'"
    # leading comments are trivia; omitted WHERE = whole-table
    s = parse_dml("-- purge\nDELETE FROM glue.db.t")
    assert s.predicate == "true"
    # 2-part ref → default database
    s = parse_dml("DELETE FROM glue.t WHERE x = 1")
    assert s.ref.database == "default"


def test_parse_update():
    s = parse_dml(
        "UPDATE glue.db.t t SET t.a = t.a + 1, "
        "b = CASE WHEN c THEN 'x, y' ELSE b END WHERE a IN (1,2)"
    )
    assert isinstance(s, UpdateStatement)
    assert s.set_exprs == {
        "a": "a + 1",
        "b": "CASE WHEN c THEN 'x, y' ELSE b END",
    }
    assert s.predicate == "a IN (1,2)"
    # WHERE omitted → all rows; literal containing WHERE is not syntax
    s = parse_dml("UPDATE glue.db.t SET a = ' WHERE '")
    assert s.set_exprs == {"a": "' WHERE '"} and s.predicate == "true"
    with pytest.raises(InvalidQueryError, match="twice"):
        parse_dml("UPDATE glue.db.t SET a = 1, a = 2")
    with pytest.raises(InvalidQueryError, match="SET"):
        parse_dml("UPDATE glue.db.t WHERE a = 1")


def test_parse_merge():
    s = parse_dml(
        "MERGE INTO glue.db.t AS t USING (SELECT * FROM v) s "
        "ON t.k = s.k AND t.k2 = s.k2 "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert isinstance(s, MergeStatement)
    assert s.on_keys == ("k", "k2")
    assert s.source_text == "(SELECT * FROM v) s"
    assert s.whole_row  # the upsert pair takes the fast path
    # column-level WHEN clauses parse into the general grammar
    # (executed through sinks/merge_planner, not the whole-row path)
    g = parse_dml(
        "MERGE INTO glue.db.t USING v s ON t.k = s.k "
        "WHEN MATCHED AND s.a > 0 THEN UPDATE SET a = s.a "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET a = 0"
    )
    assert not g.whole_row
    assert [
        (c.when, c.action) for c in g.parsed
    ] == [
        ("matched", "update"),
        ("matched", "delete"),
        ("not_matched_by_source", "update"),
    ]
    assert g.parsed[0].condition == "__src_a > 0"
    assert g.parsed[0].set_exprs == (("a", "__src_a"),)
    assert g.parsed[2].set_exprs == (("a", "0"),)
    # expression keys refuse (writers join on same-named columns)
    with pytest.raises(InvalidQueryError, match="same-named"):
        parse_dml(
            "MERGE INTO glue.db.t USING v s ON t.k = s.k + 1 "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    with pytest.raises(InvalidQueryError, match="qualifier"):
        parse_dml(
            "MERGE INTO glue.db.t USING v s ON zz.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_parse_non_dml_falls_through():
    assert parse_dml("SELECT * FROM glue.db.t") is None
    # DML on a non-glue table is Spark's problem, not ours
    assert parse_dml("DELETE FROM warehouse.db.t WHERE x") is None
    assert parse_dml("UPDATE sometable SET a = 1") is None
    assert parse_dml("MERGE INTO other.db.t USING v ON k = k") is None


# -- engine dispatch ----------------------------------------------------------


def _engine_for(spark, location, fmt_params):
    store = LocalMetadataStore()
    store.register_parquet_dir("db", "t", str(location), parameters=fmt_params)
    return GlueSparkEngine(spark, store)


def test_sql_delete_delta(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    df = spark.createDataFrame(
        [(i, "keep" if i % 2 else "junk") for i in range(10)],
        "id long, tag string",
    )
    write_delta_append(df, str(loc))
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 10
    out = eng.sql("DELETE FROM glue.db.t WHERE tag = 'junk'").first()
    assert out.operation == "DELETE" and out.rows_deleted == 5
    # the commit invalidated the cached walk: same engine re-scans
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 5
    assert (
        eng.sql("SELECT count(*) AS n FROM glue.db.t WHERE tag='junk'")
        .first().n == 0
    )


def test_sql_delete_iceberg_and_hudi(spark, tmp_path):
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(9)], "id long, grp long"
    )
    iloc = tmp_path / "ice"
    write_iceberg_append(df, str(iloc))
    eng = _engine_for(spark, iloc, {"table_type": "ICEBERG"})
    out = eng.sql("DELETE FROM glue.db.t WHERE grp = 0").first()
    assert out.rows_deleted == 3
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 6

    hloc = tmp_path / "hud"
    write_hudi_append(df, str(hloc))
    eng = _engine_for(spark, hloc, {"hoodie.table.name": "t"})
    out = eng.sql("DELETE FROM glue.db.t WHERE grp = 1").first()
    assert out.rows_deleted == 3
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 6


def _identity_partitioned_iceberg(spark, tmp_path):
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "ice_part"
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "b")], "id long, cat string"
        ),
        str(loc),
        partition_by=["cat"],
    )
    return _engine_for(spark, loc, {"table_type": "ICEBERG"})


def test_sql_delete_iceberg_on_identity_partition_column(spark, tmp_path):
    """The partition value lives in the directory name, not the data
    files: DELETE must re-attach it before filtering on it."""
    eng = _identity_partitioned_iceberg(spark, tmp_path)
    out = eng.sql("DELETE FROM glue.db.t WHERE cat = 'b'").first()
    assert out.rows_deleted == 2
    assert [
        (r.id, r.cat) for r in eng.sql("SELECT * FROM glue.db.t").collect()
    ] == [(1, "a")]


def test_sql_insert_iceberg_writes_under_recorded_spec(spark, tmp_path):
    """An INSERT names no partitioning: its files are written under
    the table's recorded identity spec, so the partition value reads
    back and prunes like the rest."""
    eng = _identity_partitioned_iceberg(spark, tmp_path)
    eng.sql("INSERT INTO glue.db.t VALUES (4, 'c')").collect()
    assert sorted(
        (r.id, r.cat) for r in eng.sql("SELECT * FROM glue.db.t").collect()
    ) == [(1, "a"), (2, "b"), (3, "b"), (4, "c")]
    hit = eng.sql("SELECT id FROM glue.db.t WHERE cat = 'c'")
    assert [r.id for r in hit.collect()] == [4]
    assert len(hit.inputFiles()) == 1


def test_sql_insert_hudi_partitioned_binds_in_schema_order(spark, tmp_path):
    """A hive-partitioned Hudi scan surfaces the partition column in
    the commit schema's position, not appended last, so a positional
    INSERT binds each value to its declared column."""
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = tmp_path / "hud_part"
    write_hudi_append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, cat string, val long"
        ),
        str(loc),
        partition_by=["cat"],
    )
    eng = _engine_for(spark, loc, {"hoodie.table.name": "t"})
    assert eng.sql("SELECT * FROM glue.db.t").columns == ["id", "cat", "val"]
    eng.sql("INSERT INTO glue.db.t VALUES (3, 'c', 30)").collect()
    assert sorted(
        map(tuple, eng.sql("SELECT id, cat, val FROM glue.db.t").collect())
    ) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_sql_update_delta(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, price double"
    )
    write_delta_append(df, str(loc))
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    out = eng.sql(
        "UPDATE glue.db.t SET price = price * 2 WHERE id >= 2"
    ).first()
    assert out.operation == "UPDATE" and out.rows_updated == 2
    got = {
        r.id: r.price
        for r in eng.sql("SELECT id, price FROM glue.db.t").collect()
    }
    assert got == {1: 10.0, 2: 40.0, 3: 60.0}


def test_sql_merge_delta(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    write_delta_append(
        spark.createDataFrame(
            [(1, "old"), (2, "old")], "id long, v string"
        ),
        str(loc),
    )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    spark.createDataFrame(
        [(2, "new"), (3, "new")], "id long, v string"
    ).createOrReplaceTempView("dml_merge_src")
    out = eng.sql(
        "MERGE INTO glue.db.t AS t USING dml_merge_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert out.operation == "MERGE"
    assert out.rows_updated == 1 and out.rows_inserted == 1
    got = {r.id: r.v for r in eng.sql("SELECT * FROM glue.db.t").collect()}
    assert got == {1: "old", 2: "new", 3: "new"}
    spark.catalog.dropTempView("dml_merge_src")


def test_sql_dml_refusals(spark, tmp_path):
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame([(1,)], "id long")
    # HIVE (raw parquet) has no log to commit against
    ploc = tmp_path / "plain"
    df.write.parquet(str(ploc))
    eng = _engine_for(spark, ploc, None)
    with pytest.raises(GlueSparkError, match="transaction log"):
        eng.sql("DELETE FROM glue.db.t WHERE id = 1")



def test_sql_delete_noop_keeps_cache(spark, tmp_path):
    """A DELETE matching nothing commits nothing — and must not
    invalidate the cached metadata walk."""
    import glue_table_cache_spark.sources.delta as delta_mod
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    write_delta_append(
        spark.createDataFrame([(1,)], "id long"), str(loc)
    )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    eng.sql("SELECT * FROM glue.db.t").collect()
    out = eng.sql("DELETE FROM glue.db.t WHERE id = 999").first()
    assert out.version is None and out.rows_deleted == 0
    calls = {"n": 0}
    real = delta_mod.delta_scan_info

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    import pytest as _p

    mp = _p.MonkeyPatch()
    try:
        mp.setattr(delta_mod, "delta_scan_info", counting)
        eng.sql("SELECT * FROM glue.db.t").collect()
    finally:
        mp.undo()
    assert calls["n"] == 0  # served from the still-valid cache


def test_parse_insert_and_maintenance():
    from glue_table_cache_spark.dml import (
        InsertStatement,
        MaintenanceStatement,
    )

    s = parse_dml("INSERT INTO glue.db.t SELECT * FROM src")
    assert isinstance(s, InsertStatement)
    assert s.source_text == "SELECT * FROM src" and s.columns == ()
    s = parse_dml("INSERT INTO glue.db.t (a, b) VALUES (1, 'x')")
    assert s.columns == ("a", "b")
    assert s.source_text == "VALUES (1, 'x')"
    with pytest.raises(InvalidQueryError, match="SELECT/VALUES"):
        parse_dml("INSERT INTO glue.db.t SET a = 1")
    s = parse_dml("OPTIMIZE glue.db.t ZORDER BY (a, b)")
    assert isinstance(s, MaintenanceStatement)
    assert s.verb == "optimize" and s.zorder_by == ("a", "b")
    s = parse_dml("VACUUM glue.db.t RETAIN 0 HOURS")
    assert s.verb == "vacuum" and s.retain_hours == 0.0
    assert parse_dml("OPTIMIZE sometable") is None
    assert parse_dml("VACUUM '/a/path'") is None


def test_sql_insert_all_formats(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    cases = [
        ("delta", write_delta_append,
         {"spark.sql.sources.provider": "delta"}),
        ("iceberg", write_iceberg_append, {"table_type": "ICEBERG"}),
        ("hudi", write_hudi_append, {"hoodie.table.name": "t"}),
    ]
    for fmt, writer, params in cases:
        loc = tmp_path / fmt
        writer(df, str(loc))
        eng = _engine_for(spark, loc, params)
        out = eng.sql(
            "INSERT INTO glue.db.t (id, v) VALUES (2, 'b'), (3, 'c')"
        ).first()
        assert out.operation == "INSERT" and out.rows_inserted == 2
        got = sorted(
            (r.id, r.v)
            for r in eng.sql("SELECT id, v FROM glue.db.t").collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, "c")], fmt


def test_sql_insert_from_glue_select(spark, tmp_path):
    """The INSERT source resolves through the normal read path —
    another glue table works."""
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    src = tmp_path / "src"
    dst = tmp_path / "dst"
    spark.createDataFrame(
        [(10, "x"), (11, "y")], "id long, v string"
    ).write.parquet(str(src))
    write_delta_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), str(dst)
    )
    store = LocalMetadataStore()
    store.register_parquet_dir("db", "src", str(src))
    store.register_parquet_dir(
        "db", "t", str(dst),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "INSERT INTO glue.db.t SELECT id, v FROM glue.db.src "
        "WHERE id > 10"
    ).first()
    assert out.rows_inserted == 1
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 2


def test_sql_optimize_and_vacuum(spark, tmp_path):
    """OPTIMIZE compacts through the format's optimizer and VACUUM
    deletes the replaced files, all through engine.sql."""
    from pathlib import Path

    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    for i in range(3):
        write_delta_append(
            spark.createDataFrame([(i,)], "id long").coalesce(1),
            str(loc),
        )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    n_files = len(list(Path(loc).glob("*.parquet")))
    out = eng.sql("OPTIMIZE glue.db.t").first()
    assert out.operation == "OPTIMIZE" and out.version is not None
    out = eng.sql("VACUUM glue.db.t RETAIN 0 HOURS").first()
    assert out.operation == "VACUUM"
    assert out.files_removed >= n_files  # the replaced originals
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.t").collect()
    ) == [0, 1, 2]


def test_sql_update_iceberg_and_hudi(spark, tmp_path):
    """Native copy-on-write UPDATE for Iceberg (one snapshot: position
    delete + transformed re-append) and Hudi COW (replacecommit slice
    rewrite), driven through engine.sql."""
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, price double"
    )
    for fmt, writer, params in (
        ("ice", write_iceberg_append, {"table_type": "ICEBERG"}),
        ("hud", write_hudi_append, {"hoodie.table.name": "t"}),
    ):
        loc = tmp_path / fmt
        writer(df, str(loc))
        eng = _engine_for(spark, loc, params)
        out = eng.sql(
            "UPDATE glue.db.t SET price = price * 2 WHERE id >= 2"
        ).first()
        assert out.operation == "UPDATE" and out.rows_updated == 2, fmt
        got = {
            r.id: r.price
            for r in eng.sql("SELECT id, price FROM glue.db.t").collect()
        }
        assert got == {1: 10.0, 2: 40.0, 3: 60.0}, fmt
        # idempotence-ish: a no-match UPDATE commits nothing
        out = eng.sql(
            "UPDATE glue.db.t SET price = 0 WHERE id > 100"
        ).first()
        assert out.version is None and out.rows_updated == 0


def test_update_iceberg_composes_with_prior_deletes(spark, tmp_path):
    """UPDATE after DELETE: already-deleted rows are not matched, not
    resurrected, and the transformed rows survive the prior delete
    files (they live in NEW data files the deletes cannot target)."""
    from glue_table_cache_spark.sinks.iceberg_delete import (
        delete_from_iceberg,
        update_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = str(tmp_path / "ice")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "id long, v double"
        ).coalesce(1),
        loc,
    )
    delete_from_iceberg(spark, loc, "id IN (0, 1)")
    seq, n = update_iceberg(spark, loc, "id >= 1", {"v": "v + 100"})
    assert n == 4  # ids 2..5 (1 is dead, 0 unmatched)
    eng = _engine_for(spark, tmp_path / "ice", {"table_type": "ICEBERG"})
    got = {
        r.id: r.v for r in eng.sql("SELECT id, v FROM glue.db.t").collect()
    }
    assert got == {2: 102.0, 3: 103.0, 4: 104.0, 5: 105.0}


def test_update_hudi_mor_refuses(spark, tmp_path):
    from glue_table_cache_spark.sinks.hudi_log_write import update_hudi
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = str(tmp_path / "mor")
    write_hudi_append(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        loc,
        table_type="MERGE_ON_READ",
    )
    with pytest.raises(GlueSparkError, match="write_hudi_log"):
        update_hudi(spark, loc, "id = 1", {"v": "'b'"})


def test_sql_merge_iceberg_and_hudi(spark, tmp_path):
    """Whole-row MERGE native in all three formats: Iceberg retires
    matched rows via a position delete and appends every source row
    in one snapshot; Hudi COW rewrites the matched groups and opens
    one new group for inserts in one replacecommit."""
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    tgt = spark.createDataFrame(
        [(1, "old"), (2, "old")], "id long, v string"
    )
    spark.createDataFrame(
        [(2, "new"), (3, "new")], "id long, v string"
    ).createOrReplaceTempView("dml_merge_src2")
    for fmt, writer, params in (
        ("ice", write_iceberg_append, {"table_type": "ICEBERG"}),
        ("hud", write_hudi_append, {"hoodie.table.name": "t"}),
    ):
        loc = tmp_path / fmt
        writer(tgt.coalesce(1), str(loc))
        eng = _engine_for(spark, loc, params)
        out = eng.sql(
            "MERGE INTO glue.db.t AS t USING dml_merge_src2 s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        ).first()
        assert out.rows_updated == 1 and out.rows_inserted == 1, fmt
        got = {
            r.id: r.v
            for r in eng.sql("SELECT * FROM glue.db.t").collect()
        }
        assert got == {1: "old", 2: "new", 3: "new"}, fmt
    spark.catalog.dropTempView("dml_merge_src2")


def test_merge_iceberg_dup_keys_and_empty_table(spark, tmp_path):
    from glue_table_cache_spark.sinks.iceberg_delete import (
        merge_into_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = str(tmp_path / "ice")
    write_iceberg_append(
        spark.createDataFrame([(1, "a")], "id long, v string"), loc
    )
    dup = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id long, v string"
    )
    with pytest.raises(GlueSparkError, match="duplicate keys"):
        merge_into_iceberg(spark, loc, dup, "id")
    # empty table: the merge IS an append
    loc2 = str(tmp_path / "ice2")
    write_iceberg_append(
        spark.createDataFrame([], "id long, v string"), loc2
    )
    seq, n_upd, n_ins = merge_into_iceberg(
        spark,
        loc2,
        spark.createDataFrame([(5, "z")], "id long, v string"),
        "id",
    )
    assert (n_upd, n_ins) == (0, 1)


def test_sql_dml_on_hudi_mor(spark, tmp_path):
    """SQL DELETE and UPDATE on a MERGE_ON_READ table publish log
    blocks (no base rewrite): the merged snapshot view reflects them
    and the base files stay untouched."""
    from pathlib import Path

    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    loc = tmp_path / "mor"
    write_hudi_append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "id long, v double"
        ).coalesce(1),
        str(loc),
        table_type="MERGE_ON_READ",
    )
    base_files = sorted(Path(loc).glob("*.parquet"))
    eng = _engine_for(
        spark,
        loc,
        {
            "hoodie.table.name": "t",
            "hoodie.table.recordkey.fields": "id",
        },
    )
    out = eng.sql("DELETE FROM glue.db.t WHERE id IN (0, 1)").first()
    assert out.operation == "DELETE" and out.rows_deleted == 2
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.t").collect()
    ) == [2, 3, 4, 5]
    out = eng.sql(
        "UPDATE glue.db.t SET v = v + 100 WHERE id >= 4"
    ).first()
    assert out.operation == "UPDATE" and out.rows_updated == 2
    got = {
        r.id: r.v for r in eng.sql("SELECT id, v FROM glue.db.t").collect()
    }
    assert got == {2: 2.0, 3: 3.0, 4: 104.0, 5: 105.0}
    # MOR contract: no base rewrite happened — same base files
    assert sorted(Path(loc).glob("*.parquet")) == base_files
    # updated rows delete correctly afterwards (log-over-log)
    out = eng.sql("DELETE FROM glue.db.t WHERE v > 100").first()
    assert out.rows_deleted == 2
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.t").collect()
    ) == [2, 3]
    # subquery predicate on the MOR path (merged-view filter)
    spark.createDataFrame([(2,)], "bad long").createOrReplaceTempView(
        "mor_bad"
    )
    try:
        out = eng.sql(
            "UPDATE glue.db.t SET v = v + 1000 WHERE id IN "
            "(SELECT bad FROM mor_bad)"
        ).first()
        assert out.rows_updated == 1
        got = {
            r.id: r.v
            for r in eng.sql("SELECT id, v FROM glue.db.t").collect()
        }
        assert got == {2: 1002.0, 3: 3.0}
    finally:
        spark.catalog.dropTempView("mor_bad")


def test_sql_insert_overwrite_all_formats(spark, tmp_path):
    """INSERT OVERWRITE atomically replaces the table contents in all
    three formats (Delta: removes in the same commit; Iceberg: the
    snapshot's manifest list carries only the new manifest; Hudi: one
    replacecommit retiring every active group)."""
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    for fmt, writer, params in (
        ("delta", write_delta_append,
         {"spark.sql.sources.provider": "delta"}),
        ("iceberg", write_iceberg_append, {"table_type": "ICEBERG"}),
        ("hudi", write_hudi_append, {"hoodie.table.name": "t"}),
    ):
        loc = tmp_path / fmt
        writer(df.coalesce(1), str(loc))
        writer(df.coalesce(1), str(loc))  # 4 rows total
        eng = _engine_for(spark, loc, params)
        assert (
            eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 4
        ), fmt
        out = eng.sql(
            "INSERT OVERWRITE glue.db.t VALUES (9, 'z')"
        ).first()
        assert out.operation == "INSERT OVERWRITE"
        assert out.rows_inserted == 1
        got = [
            (r.id, r.v)
            for r in eng.sql("SELECT id, v FROM glue.db.t").collect()
        ]
        assert got == [(9, "z")], fmt


def test_delta_insert_overwrite_time_travel(spark, tmp_path):
    """The pre-overwrite state stays reachable via VERSION AS OF —
    the replace is one commit, not history loss."""
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    write_delta_append(
        spark.createDataFrame([(1,), (2,)], "id long").coalesce(1),
        str(loc),
    )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    eng.sql("INSERT OVERWRITE glue.db.t VALUES (9)")
    assert [
        r.id for r in eng.sql("SELECT id FROM glue.db.t").collect()
    ] == [9]
    assert sorted(
        r.id
        for r in eng.sql(
            "SELECT id FROM glue.db.t VERSION AS OF 0"
        ).collect()
    ) == [1, 2]


# -- CTAS / DROP TABLE -------------------------------------------------------


def test_parse_create_and_drop():
    from glue_table_cache_spark.dml import (
        CreateTableStatement,
        DropTableStatement,
    )

    s = parse_dml(
        "CREATE TABLE glue.db.t2 USING DELTA PARTITIONED BY (year) "
        "LOCATION '/tmp/x' AS SELECT * FROM glue.db.t"
    )
    assert isinstance(s, CreateTableStatement)
    assert (s.ref.database, s.ref.table) == ("db", "t2")
    assert s.using == "DELTA"
    assert s.partition_by == ("year",)
    assert s.location == "/tmp/x"
    assert not s.if_not_exists
    assert s.source_text == "SELECT * FROM glue.db.t"
    # clause order is free; defaults: PARQUET, no partitions
    s = parse_dml(
        "CREATE TABLE IF NOT EXISTS glue.db.t2 LOCATION '/tmp/x' "
        "USING ICEBERG AS (SELECT 1 AS a)"
    )
    assert s.using == "ICEBERG" and s.if_not_exists
    s = parse_dml("CREATE TABLE glue.t2 LOCATION '/l' AS VALUES (1)")
    assert s.using == "PARQUET" and s.ref.database == "default"
    # non-glue names pass through to Spark
    assert parse_dml("CREATE TABLE plain AS SELECT 1") is None
    assert parse_dml("CREATE TABLE t (a INT)") is None
    with pytest.raises(InvalidQueryError, match="supported formats"):
        parse_dml("CREATE TABLE glue.db.t2 USING CSV AS SELECT 1")
    with pytest.raises(InvalidQueryError, match="column-definition"):
        parse_dml("CREATE TABLE glue.db.t2 (a INT, b STRING)")
    with pytest.raises(InvalidQueryError, match="after AS"):
        parse_dml("CREATE TABLE glue.db.t2 AS DROP TABLE x")
    d = parse_dml("DROP TABLE glue.db.t2")
    assert isinstance(d, DropTableStatement) and not d.if_exists
    d = parse_dml("DROP TABLE IF EXISTS glue.db.t2")
    assert d.if_exists
    assert parse_dml("DROP TABLE plain") is None
    with pytest.raises(InvalidQueryError, match="trailing"):
        parse_dml("DROP TABLE glue.db.t2 CASCADE")


def test_ctas_and_drop_all_formats(spark, tmp_path):
    """CREATE TABLE ... AS writes through the format writer, registers
    the table, and the new name scans through the engine immediately;
    DROP TABLE unregisters WITHOUT deleting data files."""
    from glue_table_cache_spark.errors import TableNotFoundError
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    src_loc = tmp_path / "src"
    write_delta_append(
        spark.createDataFrame(
            [(1, "2020", "a"), (2, "2020", "b"), (3, "2021", "c")],
            "id long, year string, v string",
        ),
        str(src_loc),
    )
    eng = _engine_for(
        spark, src_loc, {"spark.sql.sources.provider": "delta"}
    )
    for fmt in ("PARQUET", "DELTA", "ICEBERG", "HUDI"):
        name = f"ct_{fmt.lower()}"
        loc = tmp_path / name
        out = eng.sql(
            f"CREATE TABLE glue.db.{name} USING {fmt} "
            f"PARTITIONED BY (year) LOCATION '{loc}' "
            "AS SELECT id, year, v FROM glue.db.t WHERE id < 3"
        ).first()
        assert out.operation == "CREATE TABLE"
        assert out.rows_inserted == 2
        got = sorted(
            r.id
            for r in eng.sql(f"SELECT id FROM glue.db.{name}").collect()
        )
        assert got == [1, 2], fmt
        # partition pruning works on the new table
        pruned = eng.sql(
            f"SELECT id FROM glue.db.{name} WHERE year = '2020'"
        )
        assert sorted(r.id for r in pruned.collect()) == [1, 2], fmt
        # plain CREATE on an existing name refuses; IF NOT EXISTS
        # no-ops
        with pytest.raises(GlueSparkError, match="already exists"):
            eng.sql(
                f"CREATE TABLE glue.db.{name} LOCATION '{loc}' "
                "AS SELECT 1 AS a"
            )
        noop = eng.sql(
            f"CREATE TABLE IF NOT EXISTS glue.db.{name} "
            f"LOCATION '{loc}' AS SELECT 1 AS a"
        ).first()
        assert noop.rows_inserted == 0
        # DROP unregisters but never deletes data
        eng.sql(f"DROP TABLE glue.db.{name}")
        with pytest.raises(TableNotFoundError):
            eng.sql(f"SELECT * FROM glue.db.{name}")
        assert loc.exists(), fmt
        eng.sql(f"DROP TABLE IF EXISTS glue.db.{name}")  # no-op
        with pytest.raises(TableNotFoundError):
            eng.sql(f"DROP TABLE glue.db.{name}")


def test_ctas_warehouse_dir_and_refusals(spark, tmp_path):
    """Location-less CTAS lands under warehouse_dir/<db>/<table>;
    without a warehouse_dir it refuses; unknown partition columns
    refuse before writing."""
    from glue_table_cache_spark.config import EngineConfig

    store = LocalMetadataStore()
    eng = GlueSparkEngine(spark, store)
    with pytest.raises(GlueSparkError, match="warehouse_dir"):
        eng.sql("CREATE TABLE glue.db.w AS SELECT 1 AS a")
    eng = GlueSparkEngine(
        spark, store, config=EngineConfig(warehouse_dir=str(tmp_path))
    )
    eng.sql("CREATE TABLE glue.db.w AS SELECT 1 AS a, 'x' AS b")
    assert (tmp_path / "db" / "w").exists()
    assert eng.sql("SELECT a FROM glue.db.w").first().a == 1
    with pytest.raises(GlueSparkError, match="PARTITIONED BY"):
        eng.sql(
            "CREATE TABLE glue.db.w2 PARTITIONED BY (nope) "
            "AS SELECT 1 AS a"
        )


def test_parse_alter_add_columns():
    from glue_table_cache_spark.dml import AlterTableStatement

    s = parse_dml(
        "ALTER TABLE glue.db.t ADD COLUMNS (a INT, b DECIMAL(10,2))"
    )
    assert isinstance(s, AlterTableStatement)
    assert s.columns_ddl == "a INT, b DECIMAL(10,2)"
    s = parse_dml("ALTER TABLE glue.t ADD COLUMN (x STRING)")
    assert s.ref.database == "default" and s.columns_ddl == "x STRING"
    assert parse_dml("ALTER TABLE plain ADD COLUMNS (a INT)") is None
    with pytest.raises(InvalidQueryError, match="only"):
        parse_dml("ALTER TABLE glue.db.t RENAME TO glue.db.u")
    with pytest.raises(InvalidQueryError, match="unterminated"):
        parse_dml("ALTER TABLE glue.db.t ADD COLUMNS (a DECIMAL(10,2)")
    with pytest.raises(InvalidQueryError, match="trailing"):
        parse_dml("ALTER TABLE glue.db.t ADD COLUMNS (a INT) x")


def test_sql_alter_add_columns_all_formats(spark, tmp_path):
    """ALTER TABLE ADD COLUMNS commits a schema-only version in each
    format: pre-alter rows surface nulls for the new column, new
    appends carry it, and the old data files are untouched."""
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    for fmt, writer, params in (
        ("delta", write_delta_append,
         {"spark.sql.sources.provider": "delta"}),
        ("iceberg", write_iceberg_append, {"table_type": "ICEBERG"}),
        ("hudi", write_hudi_append, {"hoodie.table.name": "t"}),
    ):
        loc = tmp_path / fmt
        writer(df.coalesce(1), str(loc))
        n_files = sum(
            1 for p in loc.rglob("*.parquet")
            if "_delta_log" not in p.parts and "metadata" not in p.parts
        )
        eng = _engine_for(spark, loc, params)
        out = eng.sql(
            "ALTER TABLE glue.db.t ADD COLUMNS (score DOUBLE)"
        ).first()
        assert out.operation == "ADD COLUMNS", fmt
        # pre-alter rows: new column scans as null
        got = eng.sql(
            "SELECT id, score FROM glue.db.t ORDER BY id"
        ).collect()
        assert [(r.id, r.score) for r in got] == [
            (1, None), (2, None),
        ], fmt
        # no data files were written by the ALTER
        assert sum(
            1 for p in loc.rglob("*.parquet")
            if "_delta_log" not in p.parts and "metadata" not in p.parts
        ) == n_files, fmt
        # a post-alter append carries the column end-to-end
        eng.sql("INSERT INTO glue.db.t VALUES (3, 'c', 9.5)")
        got = eng.sql(
            "SELECT id, score FROM glue.db.t WHERE score IS NOT NULL"
        ).collect()
        assert [(r.id, r.score) for r in got] == [(3, 9.5)], fmt
        # duplicates and non-ALTER-able situations refuse
        with pytest.raises(GlueSparkError, match="already exist"):
            eng.sql("ALTER TABLE glue.db.t ADD COLUMNS (id BIGINT)")
        with pytest.raises(GlueSparkError, match="invalid column"):
            eng.sql("ALTER TABLE glue.db.t ADD COLUMNS (x NOTATYPE)")


def test_sql_alter_refuses_on_parquet_and_mor(spark, tmp_path):
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append

    # plain parquet: no schema authority to evolve
    (tmp_path / "p").mkdir()
    spark.range(2).write.mode("overwrite").parquet(str(tmp_path / "p"))
    eng = _engine_for(spark, tmp_path / "p", {})
    with pytest.raises(GlueSparkError, match="no transaction log"):
        eng.sql("ALTER TABLE glue.db.t ADD COLUMNS (a INT)")
    # MOR: log blocks carry their own record schemas
    loc = tmp_path / "mor"
    write_hudi_append(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        str(loc),
        table_type="MERGE_ON_READ",
    )
    eng = _engine_for(spark, loc, {"hoodie.table.name": "t"})
    with pytest.raises(GlueSparkError, match="compact first"):
        eng.sql("ALTER TABLE glue.db.t ADD COLUMNS (a INT)")


def test_show_and_describe(spark, tmp_path):
    """SHOW TABLES / SHOW PARTITIONS / DESCRIBE answer from the
    engine's own metadata paths; non-glue shapes pass through."""
    from glue_table_cache_spark.dml import ShowStatement
    from tests.conftest import TESTDATA

    s = parse_dml("SHOW TABLES IN glue.db")
    assert isinstance(s, ShowStatement)
    assert s.verb == "tables" and s.database == "db"
    assert parse_dml("SHOW TABLES IN glue").database is None
    assert parse_dml("SHOW TABLES") is None
    assert parse_dml("DESCRIBE SELECT 1") is None
    assert parse_dml("SHOW PARTITIONS plain.t") is None
    assert parse_dml("DESC glue.db.t").verb == "describe"

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "tpch", "orders", str(TESTDATA / "orders.parquet")
    )
    store.register_parquet_dir(
        "tpch", "nation", str(TESTDATA / "nation.parquet")
    )
    eng = GlueSparkEngine(spark, store)
    rows = eng.sql("SHOW TABLES IN glue.tpch").collect()
    assert [(r.database, r.tableName) for r in rows] == [
        ("tpch", "nation"), ("tpch", "orders"),
    ]
    assert rows[0].tableType == "UNPARTITIONED"
    assert not eng.sql("SHOW TABLES IN glue.nope").collect()
    # describe: scan schema
    cols = {
        r.col_name: r.data_type
        for r in eng.sql("DESCRIBE glue.tpch.orders").collect()
    }
    assert cols["o_orderkey"] in ("bigint", "int")
    assert "o_totalprice" in cols
    with pytest.raises(GlueSparkError, match="not partitioned"):
        eng.sql("SHOW PARTITIONS glue.tpch.orders")


def test_show_partitions_from_listing(spark, tmp_path):
    """Partitioned directory, no registered partition listing: the
    tuples come from the (cached) file listing — the same values
    pruning runs on."""
    from glue_table_cache_spark.catalog import PartitionKey

    df = spark.createDataFrame(
        [(1, "2020", "01"), (2, "2020", "02"), (3, "2021", "01")],
        "id long, year string, month string",
    )
    loc = tmp_path / "part"
    df.write.partitionBy("year", "month").parquet(str(loc))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        partition_keys=[PartitionKey("year"), PartitionKey("month")],
    )
    eng = GlueSparkEngine(spark, store)
    parts = [r.partition for r in eng.sql("SHOW PARTITIONS glue.db.t").collect()]
    assert parts == [
        "year=2020/month=01", "year=2020/month=02", "year=2021/month=01",
    ]
    # describe shows the partition-information section
    names = [r.col_name for r in eng.sql("DESCRIBE glue.db.t").collect()]
    assert "# Partition Information" in names


def test_sql_restore_all_formats(spark, tmp_path):
    """RESTORE TABLE ... TO VERSION AS OF dispatches to the format's
    restore: Delta re-commits the old state, Iceberg rolls current
    back, Hudi rewinds the timeline."""
    from glue_table_cache_spark.dml import RestoreStatement
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    s = parse_dml("RESTORE TABLE glue.db.t TO VERSION AS OF 3")
    assert isinstance(s, RestoreStatement) and s.version == 3
    assert parse_dml("RESTORE TABLE plain TO VERSION AS OF 1") is None
    ts = parse_dml(
        "RESTORE TABLE glue.db.t TO TIMESTAMP AS OF '2020-01-01'"
    )
    assert ts.version is None and ts.timestamp == "2020-01-01"
    with pytest.raises(InvalidQueryError, match="TO VERSION"):
        parse_dml("RESTORE TABLE glue.db.t TO YESTERDAY")

    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    for fmt, writer, params, target in (
        ("delta", write_delta_append,
         {"spark.sql.sources.provider": "delta"}, lambda v1: 0),
        ("iceberg", write_iceberg_append,
         {"table_type": "ICEBERG"}, lambda v1: 1),
        ("hudi", write_hudi_append,
         {"hoodie.table.name": "t"}, lambda v1: int(v1)),
    ):
        loc = tmp_path / fmt
        v1 = writer(df1.coalesce(1), str(loc))
        writer(df2.coalesce(1), str(loc))
        eng = _engine_for(spark, loc, params)
        assert eng.sql(
            "SELECT count(*) AS n FROM glue.db.t"
        ).first().n == 2, fmt
        out = eng.sql(
            f"RESTORE TABLE glue.db.t TO VERSION AS OF {target(v1)}"
        ).first()
        assert out.operation == "RESTORE", fmt
        got = [
            (r.id, r.v)
            for r in eng.sql("SELECT id, v FROM glue.db.t").collect()
        ]
        assert got == [(1, "a")], fmt


def test_sql_history_and_tblproperties(spark, tmp_path):
    """DESCRIBE HISTORY surfaces the retained commit timeline per
    format (version = the travel identifier); SHOW TBLPROPERTIES
    surfaces the format's own configuration — both answered from the
    transaction metadata, never the catalog."""
    from glue_table_cache_spark.dml import ShowStatement
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    s = parse_dml("DESCRIBE HISTORY glue.db.t")
    assert isinstance(s, ShowStatement) and s.verb == "history"
    assert parse_dml("DESC HISTORY plain.t") is None
    s = parse_dml("SHOW TBLPROPERTIES glue.db.t")
    assert isinstance(s, ShowStatement) and s.verb == "tblproperties"
    with pytest.raises(InvalidQueryError, match="trailing"):
        parse_dml("DESCRIBE HISTORY glue.db.t garbage")

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    for fmt, writer, params in (
        ("delta", write_delta_append,
         {"spark.sql.sources.provider": "delta"}),
        ("iceberg", write_iceberg_append, {"table_type": "ICEBERG"}),
        ("hudi", write_hudi_append, {"hoodie.table.name": "t"}),
    ):
        loc = tmp_path / fmt
        writer(df.coalesce(1), str(loc))
        writer(df.coalesce(1), str(loc))
        eng = _engine_for(spark, loc, params)
        hist = eng.sql("DESCRIBE HISTORY glue.db.t").collect()
        assert len(hist) == 2, fmt
        assert [r.version for r in hist] == sorted(
            r.version for r in hist
        ), fmt
        if fmt == "delta":
            assert {r.operation for r in hist} == {"WRITE"}
        elif fmt == "iceberg":
            assert {r.operation for r in hist} == {"append"}
            assert [r.is_current for r in hist] == [False, True]
        else:
            assert {r.operation for r in hist} == {"commit"}
            assert all(r.timestamp is not None for r in hist)
        props = {
            r.key: r.value
            for r in eng.sql("SHOW TBLPROPERTIES glue.db.t").collect()
        }
        if fmt == "hudi":
            # the writer names the table after its directory
            assert props.get("hoodie.table.name") == "hudi"

    # ALTER-set properties surface in SHOW TBLPROPERTIES
    eng = _engine_for(
        spark, tmp_path / "delta",
        {"spark.sql.sources.provider": "delta"},
    )
    eng.sql("ALTER TABLE glue.db.t SET TBLPROPERTIES ('k'='v')")
    props = {
        r.key: r.value
        for r in eng.sql("SHOW TBLPROPERTIES glue.db.t").collect()
    }
    assert props == {"k": "v"}
    # history shows the metadata-only commit too
    ops = [
        r.operation
        for r in eng.sql("DESCRIBE HISTORY glue.db.t").collect()
    ]
    assert ops == ["WRITE", "WRITE", "SET TBLPROPERTIES"]

    # raw parquet has no transaction metadata
    plain = tmp_path / "plain"
    df.write.parquet(str(plain))
    eng = _engine_for(spark, plain, {})
    with pytest.raises(GlueSparkError, match="transaction metadata"):
        eng.sql("DESCRIBE HISTORY glue.db.t")
    with pytest.raises(GlueSparkError, match="transaction metadata"):
        eng.sql("SHOW TBLPROPERTIES glue.db.t")


def test_sql_iceberg_refs(spark, tmp_path):
    """ALTER TABLE CREATE/DROP TAG|BRANCH + VERSION AS OF '<name>'
    travel — the SQL surface over the refs map; non-Iceberg formats
    refuse."""
    from glue_table_cache_spark.dml import RefStatement
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    s = parse_dml("ALTER TABLE glue.db.t CREATE TAG v1 AS OF VERSION 3")
    assert isinstance(s, RefStatement) and s.version == 3
    assert s.action == "create" and s.ref_type == "tag"
    s = parse_dml("ALTER TABLE glue.db.t DROP BRANCH dev")
    assert s.action == "drop" and s.ref_type == "branch"
    with pytest.raises(InvalidQueryError, match="no AS OF"):
        parse_dml("ALTER TABLE glue.db.t DROP TAG v1 AS OF VERSION 3")

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    loc = tmp_path / "it"
    v1 = write_iceberg_append(df.coalesce(1), str(loc))
    write_iceberg_append(df2.coalesce(1), str(loc))
    eng = _engine_for(spark, loc, {"table_type": "ICEBERG"})
    out = eng.sql(
        f"ALTER TABLE glue.db.t CREATE TAG stable AS OF VERSION {v1}"
    ).first()
    assert out.operation == "CREATE TAG"
    got = [
        r.id
        for r in eng.sql(
            "SELECT id FROM glue.db.t VERSION AS OF 'stable'"
        ).collect()
    ]
    assert got == [1]
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t"
    ).first().n == 2
    eng.sql("ALTER TABLE glue.db.t DROP TAG stable")
    with pytest.raises(GlueSparkError, match="does not exist"):
        eng.sql("SELECT id FROM glue.db.t VERSION AS OF 'stable'")

    # non-Iceberg formats refuse refs AND named travel
    dloc = tmp_path / "dt"
    write_delta_append(df.coalesce(1), str(dloc))
    deng = _engine_for(
        spark, dloc, {"spark.sql.sources.provider": "delta"}
    )
    with pytest.raises(GlueSparkError, match="Iceberg feature"):
        deng.sql("ALTER TABLE glue.db.t CREATE TAG x")
    with pytest.raises(GlueSparkError, match="does not exist"):
        deng.sql("SELECT id FROM glue.db.t VERSION AS OF 'x'")


# -- SHALLOW CLONE -----------------------------------------------------------


def test_parse_shallow_clone():
    from glue_table_cache_spark.dml import CloneStatement

    s = parse_dml("CREATE TABLE glue.db.c SHALLOW CLONE glue.db.t")
    assert isinstance(s, CloneStatement)
    assert (s.ref.database, s.ref.table) == ("db", "c")
    assert (s.source.database, s.source.table) == ("db", "t")
    assert s.version is None and s.location is None
    assert not s.if_not_exists
    s = parse_dml(
        "CREATE TABLE IF NOT EXISTS glue.db.c SHALLOW CLONE glue.t "
        "VERSION AS OF 3 LOCATION '/tmp/c'"
    )
    assert s.if_not_exists and s.version == 3 and s.location == "/tmp/c"
    assert s.source.database == "default"
    with pytest.raises(InvalidQueryError, match="glue reference"):
        parse_dml("CREATE TABLE glue.db.c SHALLOW CLONE plain_table")
    with pytest.raises(InvalidQueryError, match="trailing"):
        parse_dml("CREATE TABLE glue.db.c SHALLOW CLONE glue.db.t EXTRA")


def test_shallow_clone_e2e(spark, tmp_path):
    """SHALLOW CLONE: zero-copy (no data files under the clone),
    reads equal the source at clone time, fully independent logs
    (writes/DML on either side never leak to the other), VERSION AS
    OF clones history, and OPTIMIZE on the clone localizes its data
    into the clone's own directory."""
    from glue_table_cache_spark.config import EngineConfig
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    src = tmp_path / "src"
    df = spark.createDataFrame(
        [(i, "2020" if i < 5 else "2021", f"v{i}") for i in range(10)],
        "id long, year string, v string",
    )
    write_delta_append(df.coalesce(1), str(src), partition_by=["year"])
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(src),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(
        spark, store,
        config=EngineConfig(warehouse_dir=str(tmp_path / "wh")),
    )
    # a DV on the source BEFORE the clone must carry over
    eng.sql("DELETE FROM glue.db.t WHERE id = 9")

    out = eng.sql(
        "CREATE TABLE glue.db.c SHALLOW CLONE glue.db.t"
    ).first()
    assert out.operation == "CLONE"
    clone_dir = tmp_path / "wh" / "db" / "c"
    assert (clone_dir / "_delta_log").is_dir()
    # zero-copy: not a single parquet under the clone
    assert not list(clone_dir.rglob("*.parquet"))
    got = sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.c").collect()
    )
    assert got == list(range(9))
    # log-driven partition pruning works on the clone (absolute
    # source paths, widened basePath)
    pruned = eng.sql(
        "SELECT id FROM glue.db.c WHERE year = '2020'"
    )
    assert sorted(r.id for r in pruned.collect()) == [0, 1, 2, 3, 4]

    # independence 1: append lands under the CLONE's directory only
    eng.sql("INSERT INTO glue.db.c VALUES (100, '2022', 'new')")
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.c"
    ).first().n == 10
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t"
    ).first().n == 9
    assert list(clone_dir.rglob("*.parquet"))

    # independence 2: DELETE on the clone (a DV against a SOURCE
    # file, sidecar under the clone) leaves the source untouched
    eng.sql("DELETE FROM glue.db.c WHERE id = 0")
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.c"
    ).first().n == 9
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t"
    ).first().n == 9

    # independence 3: DELETE on the source after the clone is
    # invisible to the clone (its log pinned the clone-time state)
    eng.sql("DELETE FROM glue.db.t WHERE id = 1")
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t"
    ).first().n == 8
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.c"
    ).first().n == 9

    # VERSION AS OF: clone the pre-DELETE source state (version 0)
    eng.sql(
        "CREATE TABLE glue.db.c0 SHALLOW CLONE glue.db.t "
        "VERSION AS OF 0"
    )
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.c0"
    ).first().n == 10

    # OPTIMIZE localizes: every active file moves under the clone
    from glue_table_cache_spark.sources.delta import delta_scan_info

    eng.sql("OPTIMIZE glue.db.c")
    entries, _r = delta_scan_info(str(clone_dir))
    assert entries
    root = str(clone_dir).rstrip("/") + "/"
    assert all(p.startswith(root) for p, _pv, _dv in entries)
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.c"
    ).first().n == 9
    assert sorted(
        r.id for r in eng.sql(
            "SELECT id FROM glue.db.c WHERE year='2020'"
        ).collect()
    ) == [1, 2, 3, 4]


def test_shallow_clone_refusals(spark, tmp_path):
    from glue_table_cache_spark.config import EngineConfig
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    src = tmp_path / "src"
    df = spark.createDataFrame([(1,)], "id long")
    write_delta_append(df, str(src))
    iloc = tmp_path / "ice"
    write_iceberg_append(df, str(iloc))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(src),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    store.register_parquet_dir(
        "db", "ice", str(iloc), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(
        spark, store,
        config=EngineConfig(warehouse_dir=str(tmp_path / "wh")),
    )
    # non-Delta source refuses
    with pytest.raises(GlueSparkError, match="Delta verb"):
        eng.sql("CREATE TABLE glue.db.c SHALLOW CLONE glue.db.ice")
    # bad version refuses
    with pytest.raises(GlueSparkError, match="does not exist"):
        eng.sql(
            "CREATE TABLE glue.db.c SHALLOW CLONE glue.db.t "
            "VERSION AS OF 99"
        )
    eng.sql("CREATE TABLE glue.db.c SHALLOW CLONE glue.db.t")
    # existing name refuses; IF NOT EXISTS no-ops
    with pytest.raises(GlueSparkError, match="already exists"):
        eng.sql("CREATE TABLE glue.db.c SHALLOW CLONE glue.db.t")
    noop = eng.sql(
        "CREATE TABLE IF NOT EXISTS glue.db.c SHALLOW CLONE glue.db.t"
    ).first()
    assert noop.operation == "CLONE"
    # destination directory already holding a Delta log refuses
    with pytest.raises(GlueSparkError, match="already holds"):
        eng.sql(
            "CREATE TABLE glue.db.c2 SHALLOW CLONE glue.db.t "
            f"LOCATION '{src}'"
        )


# -- CONVERT TO DELTA --------------------------------------------------------


def test_parse_convert_to_delta():
    from glue_table_cache_spark.dml import ConvertStatement

    s = parse_dml("CONVERT TO DELTA glue.db.t")
    assert isinstance(s, ConvertStatement)
    assert (s.ref.database, s.ref.table) == ("db", "t")
    assert s.partition_keys == ()
    s = parse_dml(
        "CONVERT TO DELTA glue.t PARTITIONED BY (year string, m int)"
    )
    assert s.ref.database == "default"
    assert s.partition_keys == (("year", "string"), ("m", "int"))
    # untyped keys default to string
    s = parse_dml("CONVERT TO DELTA glue.db.t PARTITIONED BY (year)")
    assert s.partition_keys == (("year", "string"),)
    with pytest.raises(InvalidQueryError, match="trailing"):
        parse_dml("CONVERT TO DELTA glue.db.t NO STATISTICS")


def test_convert_to_delta_e2e(spark, tmp_path):
    """CONVERT TO DELTA generates a version-0 log over the existing
    hive-partitioned parquet (metadata-only: the data files never
    move), flips the catalog entry to the DELTA provider, and from
    then on the full Delta surface works: log-driven pruning,
    DELETE via deletion vectors, time travel back to the conversion
    state."""
    from glue_table_cache_spark.catalog import PartitionKey
    from glue_table_cache_spark.sources.delta import delta_scan_info

    loc = tmp_path / "pt"
    df = spark.createDataFrame(
        [(i, "2020" if i < 5 else "2021", f"v{i}") for i in range(10)],
        "id long, year string, v string",
    )
    df.coalesce(1).write.partitionBy("year").parquet(str(loc))
    before = {
        str(p) for p in loc.rglob("*.parquet") if "_delta_log" not in str(p)
    }
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc), partition_keys=[PartitionKey("year")]
    )
    eng = GlueSparkEngine(spark, store)
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 10

    out = eng.sql("CONVERT TO DELTA glue.db.t").first()
    assert out.operation == "CONVERT"
    # catalog flipped; the same engine now scans through the log
    assert store.get_table("db", "t").table_type.name == "DELTA"
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 10
    assert sorted(
        r.id for r in eng.sql(
            "SELECT id FROM glue.db.t WHERE year = '2020'"
        ).collect()
    ) == [0, 1, 2, 3, 4]
    # metadata-only: the data files did not move, and the log's adds
    # carry typed partition columns + footer stats
    entries, _r = delta_scan_info(str(loc))
    assert {p for p, _pv, _dv in entries} == before
    assert all(pv.get("year") for _p, pv, _dv in entries)
    # the full Delta surface now works: DV DELETE + time travel
    out = eng.sql("DELETE FROM glue.db.t WHERE id = 3").first()
    assert out.rows_deleted == 1
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 9
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t VERSION AS OF 0"
    ).first().n == 10
    # re-convert refuses (it IS a Delta table now)
    with pytest.raises(GlueSparkError, match="DELTA"):
        eng.sql("CONVERT TO DELTA glue.db.t")


def test_convert_to_delta_refusals(spark, tmp_path):
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame([(1, "2020")], "id long, year string")
    # partitioned layout with undeclared keys refuses before writing
    loc = tmp_path / "pt"
    df.write.partitionBy("year").parquet(str(loc))
    store = LocalMetadataStore()
    store.register_parquet_dir("db", "t", str(loc))  # no keys declared
    eng = GlueSparkEngine(spark, store)
    with pytest.raises(GlueSparkError, match="declared keys"):
        eng.sql("CONVERT TO DELTA glue.db.t")
    # ...and succeeds once the keys are declared in the statement
    eng.sql("CONVERT TO DELTA glue.db.t PARTITIONED BY (year string)")
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 1
    # other formats refuse
    iloc = tmp_path / "ice"
    write_iceberg_append(df, str(iloc))
    store2 = LocalMetadataStore()
    store2.register_parquet_dir(
        "db", "i", str(iloc), parameters={"table_type": "ICEBERG"}
    )
    with pytest.raises(GlueSparkError, match="ICEBERG"):
        GlueSparkEngine(spark, store2).sql("CONVERT TO DELTA glue.db.i")


def test_sql_reorg_apply_purge(spark, tmp_path):
    """REORG TABLE ... APPLY (PURGE) rewrites ONLY the DV-carrying
    files (masked rows materialize away, sidecars become
    vacuum-able); DV-free files keep their original paths however
    small — the minimal-write-amplification DV purge."""
    from glue_table_cache_spark.dml import MaintenanceStatement
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sources.delta import delta_scan_info

    s = parse_dml("REORG TABLE glue.db.t APPLY (PURGE)")
    assert isinstance(s, MaintenanceStatement) and s.verb == "reorg"
    with pytest.raises(InvalidQueryError, match="APPLY"):
        parse_dml("REORG TABLE glue.db.t")

    loc = tmp_path / "dt"
    a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(6)], "id long, v string"
    )
    b = spark.createDataFrame(
        [(i, f"b{i}") for i in range(10, 16)], "id long, v string"
    )
    write_delta_append(a.coalesce(1), str(loc))
    write_delta_append(b.coalesce(1), str(loc))
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    eng.sql("DELETE FROM glue.db.t WHERE id = 2")
    entries, _r = delta_scan_info(str(loc))
    untouched = {p for p, _pv, dv in entries if dv is None}
    assert len(untouched) == 1  # b's file carries no DV
    out = eng.sql("REORG TABLE glue.db.t APPLY (PURGE)").first()
    assert out.operation == "REORG" and out.version is not None
    after, _r = delta_scan_info(str(loc))
    assert all(dv is None for _p, _pv, dv in after)  # DVs purged
    # the DV-free file was NOT rewritten
    assert untouched <= {p for p, _pv, _dv in after}
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.t").collect()
    ) == [0, 1, 3, 4, 5, 10, 11, 12, 13, 14, 15]
    # nothing left to purge: REORG is a no-op now
    out = eng.sql("REORG TABLE glue.db.t APPLY (PURGE)").first()
    assert out.version is None
    # non-Delta refuses
    with pytest.raises(GlueSparkError, match="Delta feature"):
        _engine_for(spark, tmp_path, {"table_type": "ICEBERG"}).sql(
            "REORG TABLE glue.db.t APPLY (PURGE)"
        )


def test_describe_detail_all_formats(spark, tmp_path):
    """DESCRIBE DETAIL: one row of physical facts per table, from the
    format's OWN metadata — format, id, partitionColumns, active
    numFiles/sizeInBytes, properties."""
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame(
        [(1, "2020"), (2, "2021")], "id long, year string"
    )
    dloc, iloc, hloc, ploc = (
        tmp_path / n for n in ("dt", "ice", "ht", "pq")
    )
    write_delta_append(df.coalesce(1), str(dloc), partition_by=["year"])
    write_iceberg_append(df.coalesce(1), str(iloc))
    write_hudi_append(df.coalesce(1), str(hloc), partition_by=["year"])
    df.coalesce(1).write.parquet(str(ploc))

    d = _engine_for(
        spark, dloc, {"spark.sql.sources.provider": "delta"}
    ).sql("DESCRIBE DETAIL glue.db.t").first()
    assert d.format == "delta" and d.id and d.createdAt
    assert d.partitionColumns == ["year"]
    assert d.numFiles == 2 and d.sizeInBytes > 0

    i = _engine_for(spark, iloc, {"table_type": "ICEBERG"}).sql(
        "DESCRIBE DETAIL glue.db.t"
    ).first()
    assert i.format == "iceberg" and i.id
    assert i.numFiles == 1 and i.sizeInBytes > 0

    h = _engine_for(spark, hloc, {"hoodie.table.name": "ht"}).sql(
        "DESCRIBE DETAIL glue.db.t"
    ).first()
    assert h.format == "hudi"
    assert h.partitionColumns == ["year"]
    assert h.numFiles == 2
    assert h.properties.get("hoodie.table.type") == "COPY_ON_WRITE"

    p = _engine_for(spark, ploc, {}).sql(
        "DESCRIBE DETAIL glue.db.t"
    ).first()
    assert p.format == "parquet" and p.numFiles >= 1


def test_sql_vacuum_dry_run(spark, tmp_path):
    """VACUUM ... DRY RUN surfaces the deletable set as path rows and
    deletes NOTHING; the plain VACUUM then removes exactly that set."""
    from pathlib import Path

    from glue_table_cache_spark.sinks.delta_optimize import optimize_delta
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    for lo in (0, 5):
        write_delta_append(
            spark.createDataFrame(
                [(i,) for i in range(lo, lo + 5)], "id long"
            ).coalesce(1),
            str(loc),
        )
    optimize_delta(spark, str(loc))  # retires the two small files
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    dry = sorted(
        r.path
        for r in eng.sql(
            "VACUUM glue.db.t RETAIN 0 HOURS DRY RUN"
        ).collect()
    )
    assert len(dry) == 2
    assert all(Path(p).exists() for p in dry)  # nothing deleted
    out = eng.sql("VACUUM glue.db.t RETAIN 0 HOURS").first()
    assert out.files_removed == 2
    assert not any(Path(p).exists() for p in dry)
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 10


def test_deep_clone_e2e(spark, tmp_path):
    """DEEP CLONE copies the active files (and DV sidecars) into the
    clone's own directory — relative adds, zero ties to the source:
    vacuuming the source afterwards cannot break the clone."""
    from glue_table_cache_spark.config import EngineConfig
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sources.delta import delta_scan_info

    src = tmp_path / "src"
    df = spark.createDataFrame(
        [(i, "2020" if i < 5 else "2021") for i in range(10)],
        "id long, year string",
    )
    write_delta_append(df.coalesce(1), str(src), partition_by=["year"])
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(src),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(
        spark, store,
        config=EngineConfig(warehouse_dir=str(tmp_path / "wh")),
    )
    eng.sql("DELETE FROM glue.db.t WHERE id = 9")  # DV on the source

    eng.sql("CREATE TABLE glue.db.c DEEP CLONE glue.db.t")
    clone_dir = tmp_path / "wh" / "db" / "c"
    # every add is CLONE-relative; partition layout survives
    entries, _r = delta_scan_info(str(clone_dir))
    root = str(clone_dir).rstrip("/") + "/"
    assert entries and all(p.startswith(root) for p, _pv, _dv in entries)
    assert all(pv.get("year") for _p, pv, _dv in entries)
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.c").collect()
    ) == list(range(9))
    # zero ties: delete every source file — the clone still reads
    import shutil as _sh

    _sh.rmtree(src)
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.c WHERE year='2021'"
    ).first().n == 4
    # bare CLONE == DEEP (the Delta default)
    with pytest.raises(GlueSparkError, match="no Delta log"):
        eng.sql("CREATE TABLE glue.db.c2 CLONE glue.db.t")


def test_check_constraints_and_append_only(spark, tmp_path):
    """CHECK constraints (delta.constraints.<name>) gate every write
    path — append, UPDATE postimage, MERGE source — with the SQL
    CHECK semantic (NULL passes); ADD CONSTRAINT validates existing
    rows and DROP removes the gate.  delta.appendOnly=true refuses
    DELETE/UPDATE/MERGE/INSERT OVERWRITE/RESTORE while plain appends
    keep working."""
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    write_delta_append(
        spark.createDataFrame(
            [(1, "a"), (2, None)], "id long, v string"
        ),
        str(loc),
    )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    # existing rows violate → ADD refuses
    with pytest.raises(GlueSparkError, match="existing rows"):
        eng.sql(
            "ALTER TABLE glue.db.t ADD CONSTRAINT pos CHECK (id > 1)"
        )
    out = eng.sql(
        "ALTER TABLE glue.db.t ADD CONSTRAINT pos CHECK (id > 0)"
    ).first()
    assert out.operation == "ADD CONSTRAINT"
    with pytest.raises(GlueSparkError, match="already exists"):
        eng.sql(
            "ALTER TABLE glue.db.t ADD CONSTRAINT pos CHECK (id > 9)"
        )
    # violating INSERT refuses, nothing written
    with pytest.raises(GlueSparkError, match="CHECK constraint 'pos'"):
        eng.sql("INSERT INTO glue.db.t VALUES (0, 'x')")
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 2
    # NULL passes (SQL CHECK semantics)
    eng.sql("INSERT INTO glue.db.t VALUES (NULL, 'n')")
    # violating UPDATE refuses, table unchanged
    with pytest.raises(GlueSparkError, match="CHECK constraint 'pos'"):
        eng.sql("UPDATE glue.db.t SET id = -1 WHERE v = 'a'")
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t WHERE id = 1"
    ).first().n == 1
    # violating MERGE refuses
    with pytest.raises(GlueSparkError, match="CHECK constraint 'pos'"):
        eng.sql(
            "MERGE INTO glue.db.t AS t USING (SELECT * FROM VALUES "
            "(CAST(-5 AS BIGINT), 'bad') AS s(id, v)) AS s "
            "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    # DROP lifts the gate
    eng.sql("ALTER TABLE glue.db.t DROP CONSTRAINT pos")
    with pytest.raises(GlueSparkError, match="no constraint"):
        eng.sql("ALTER TABLE glue.db.t DROP CONSTRAINT pos")
    eng.sql("INSERT INTO glue.db.t VALUES (0, 'x')")

    # appendOnly: the write gates flip on via TBLPROPERTIES
    eng.sql(
        "ALTER TABLE glue.db.t SET TBLPROPERTIES "
        "('delta.appendOnly'='true')"
    )
    for stmt_sql, msg in [
        ("DELETE FROM glue.db.t WHERE id = 1", "DELETE"),
        ("UPDATE glue.db.t SET v = 'y' WHERE id = 1", "UPDATE"),
        ("INSERT OVERWRITE glue.db.t VALUES (9, 'z')", "OVERWRITE"),
    ]:
        with pytest.raises(GlueSparkError, match="append-only"):
            eng.sql(stmt_sql)
    # plain appends still work
    eng.sql("INSERT INTO glue.db.t VALUES (7, 'ok')")
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t"
    ).first().n == 5


def test_insert_derives_generated_partition_column(spark, tmp_path):
    """INSERT into a table partitioned by a GENERATED column derives
    the column from delta.generationExpression (the batch never
    supplies it) — files land in the right partition dirs and the
    generated-column pruning keeps working over the new data."""
    import datetime as dt
    import json as _json

    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "gen"
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 3, 5, 10, 0), dt.date(2024, 3, 5))],
        "id long, ts timestamp, pdate date",
    )
    write_delta_append(df, str(loc), partition_by=["pdate"])
    commit = loc / "_delta_log" / "00000000000000000000.json"
    out = []
    for line in commit.read_text().splitlines():
        action = _json.loads(line)
        if "metaData" in action:
            schema = _json.loads(action["metaData"]["schemaString"])
            for f in schema["fields"]:
                if f["name"] == "pdate":
                    f.setdefault("metadata", {})[
                        "delta.generationExpression"
                    ] = "CAST(ts AS DATE)"
            action["metaData"]["schemaString"] = _json.dumps(schema)
        out.append(_json.dumps(action))
    commit.write_text("\n".join(out) + "\n")

    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    # the batch supplies id + ts ONLY; pdate derives
    eng.sql(
        "INSERT INTO glue.db.t (id, ts) VALUES "
        "(2, TIMESTAMP '2024-03-06 09:00:00')"
    )
    got = eng.sql(
        "SELECT id, pdate FROM glue.db.t ORDER BY id"
    ).collect()
    assert [(r.id, str(r.pdate)) for r in got] == [
        (1, "2024-03-05"), (2, "2024-03-06"),
    ]
    # derived value landed as a REAL partition dir + pruning works
    assert (loc / "pdate=2024-03-06").is_dir()
    pruned = eng.sql(
        "SELECT id FROM glue.db.t "
        "WHERE ts >= TIMESTAMP '2024-03-06 00:00:00'"
    )
    assert len(pruned.inputFiles()) == 1
    assert [r.id for r in pruned.collect()] == [2]


def test_set_tblproperties_iceberg_and_hudi(spark, tmp_path):
    """SET TBLPROPERTIES symmetry: Iceberg commits a metadata-only
    version updating the `properties` map; Hudi merges into
    hoodie.properties (structural keys refuse); both round-trip
    through SHOW TBLPROPERTIES."""
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    df = spark.createDataFrame([(1,)], "id long")
    iloc, hloc = tmp_path / "ice", tmp_path / "ht"
    write_iceberg_append(df, str(iloc))
    write_hudi_append(df, str(hloc))

    ieng = _engine_for(spark, iloc, {"table_type": "ICEBERG"})
    ieng.sql(
        "ALTER TABLE glue.db.t SET TBLPROPERTIES "
        "('commit.retry.num-retries'='7', 'owner'='pipeline')"
    )
    props = {
        r.key: r.value
        for r in ieng.sql("SHOW TBLPROPERTIES glue.db.t").collect()
    }
    assert props["commit.retry.num-retries"] == "7"
    assert props["owner"] == "pipeline"
    # the table still scans (the new metadata version is coherent)
    assert ieng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 1

    heng = _engine_for(spark, hloc, {"hoodie.table.name": "ht"})
    heng.sql(
        "ALTER TABLE glue.db.t SET TBLPROPERTIES ('owner'='pipeline')"
    )
    hprops = {
        r.key: r.value
        for r in heng.sql("SHOW TBLPROPERTIES glue.db.t").collect()
    }
    assert hprops["owner"] == "pipeline"
    assert hprops["hoodie.table.type"] == "COPY_ON_WRITE"  # preserved
    assert heng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 1
    # structural keys refuse
    with pytest.raises(GlueSparkError, match="structural"):
        heng.sql(
            "ALTER TABLE glue.db.t SET TBLPROPERTIES "
            "('hoodie.table.type'='MERGE_ON_READ')"
        )


def test_unset_tblproperties(spark, tmp_path):
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    write_delta_append(spark.createDataFrame([(1,)], "id long"), str(loc))
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    eng.sql(
        "ALTER TABLE glue.db.t SET TBLPROPERTIES ('a'='1', 'b'='2')"
    )
    out = eng.sql(
        "ALTER TABLE glue.db.t UNSET TBLPROPERTIES ('a')"
    ).first()
    assert out.operation == "UNSET TBLPROPERTIES"
    props = {
        r.key: r.value
        for r in eng.sql("SHOW TBLPROPERTIES glue.db.t").collect()
    }
    assert "a" not in props and props["b"] == "2"


def test_copy_into_idempotent_loading(spark, tmp_path):
    """COPY INTO loads every source file exactly once across re-runs
    (per-file SetTransaction ledger, atomic with the adds, surviving
    checkpoints + log cleanup); new landing files load on the next
    run; a COPY INTO racing marker conflict refuses loudly."""
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        clean_delta_log,
        write_delta_checkpoint,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        copy_into_delta,
        write_delta_append,
    )

    landing = tmp_path / "landing"
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "id long, v string"
    ).coalesce(2).write.parquet(str(landing))
    loc = tmp_path / "dt"
    write_delta_append(
        spark.createDataFrame([(100, "seed")], "id long, v string"),
        str(loc),
    )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    out = eng.sql(
        f"COPY INTO glue.db.t FROM '{landing}'"
    ).first()
    assert out.operation == "COPY INTO" and out.rows_inserted == 6
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 7
    # re-run: everything already loaded → no-op, no duplicates
    out = eng.sql(f"COPY INTO glue.db.t FROM '{landing}'").first()
    assert out.version is None and out.rows_inserted == 0
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 7
    # the ledger survives checkpoint + log cleanup
    v = write_delta_checkpoint(str(loc))
    clean_delta_log(str(loc), retention_hours=0, dry_run=False)
    out = eng.sql(f"COPY INTO glue.db.t FROM '{landing}'").first()
    assert out.rows_inserted == 0
    # a NEW landing file loads on the next run — only it
    spark.createDataFrame(
        [(7, "late")], "id long, v string"
    ).coalesce(1).write.mode("append").parquet(str(landing))
    out = eng.sql(f"COPY INTO glue.db.t FROM '{landing}'").first()
    assert out.rows_inserted == 1
    assert eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 8
    assert sorted(
        r.id for r in eng.sql("SELECT id FROM glue.db.t").collect()
    ) == [0, 1, 2, 3, 4, 5, 7, 100]
    # loading a table into itself refuses
    with pytest.raises(GlueSparkError, match="into itself"):
        copy_into_delta(spark, str(loc), str(loc))
    # non-delta target refuses
    with pytest.raises(GlueSparkError, match="SetTransaction"):
        _engine_for(spark, landing, {}).sql(
            f"COPY INTO glue.db.t FROM '{landing}'"
        )


def test_optimize_where_partition_scoped(spark, tmp_path):
    """OPTIMIZE ... WHERE compacts only partitions that might match —
    the others keep their original files byte-for-byte; conservative
    pruning means a predicate on a non-partition column compacts
    everything (never skips a match)."""
    from glue_table_cache_spark.sinks.delta_write import write_delta_append
    from glue_table_cache_spark.sources.delta import delta_scan_info

    loc = tmp_path / "dt"
    for i in range(4):  # 2 small files in each of 2 partitions
        write_delta_append(
            spark.createDataFrame(
                [(i * 10 + j, "2020" if i % 2 else "2021")
                 for j in range(3)],
                "id long, year string",
            ).coalesce(1),
            str(loc),
            partition_by=["year"],
        )
    before = {
        p for p, _pv, _dv in delta_scan_info(str(loc))[0]
    }
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    out = eng.sql("OPTIMIZE glue.db.t WHERE year = '2020'").first()
    assert out.version is not None
    after = {p for p, _pv, _dv in delta_scan_info(str(loc))[0]}
    kept_2021 = {p for p in before if "year=2021" in p}
    assert kept_2021 <= after  # untouched partition keeps its files
    assert not any("year=2020" in p for p in before & after)
    assert len([p for p in after if "year=2020" in p]) == 1
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t"
    ).first().n == 12
    # unpartitioned tables refuse the scope; non-Delta refuses WHERE
    uloc = tmp_path / "ut"
    write_delta_append(
        spark.createDataFrame([(1,)], "id long"), str(uloc)
    )
    with pytest.raises(GlueSparkError, match="no partitions"):
        _engine_for(
            spark, uloc, {"spark.sql.sources.provider": "delta"}
        ).sql("OPTIMIZE glue.db.t WHERE x = 1")
    with pytest.raises(GlueSparkError, match="Delta only"):
        _engine_for(spark, uloc, {"table_type": "ICEBERG"}).sql(
            "OPTIMIZE glue.db.t WHERE x = 1"
        )


# ---------------------------------------------------------------------------
# Partitioned Iceberg UPDATE / MERGE (r8)
# ---------------------------------------------------------------------------


def test_update_iceberg_partitioned_identity(spark, tmp_path):
    """UPDATE on an identity-partitioned Iceberg table: the predicate
    can reference the partition column (re-attached from manifests),
    replacement rows land in their partition directories with correct
    manifest tuples, and a SET on the partition column moves rows."""
    from glue_table_cache_spark.sinks.iceberg_delete import (
        update_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    loc = str(tmp_path / "pice")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, "a" if i < 3 else "b", float(i)) for i in range(6)],
            "id long, p string, v double",
        ).coalesce(1),
        loc,
        partition_by=["p"],
    )
    seq, n = update_iceberg(spark, loc, "p = 'a'", {"v": "v + 100"})
    assert n == 3
    entries, _d, _e = iceberg_scan_details(loc)
    # the rewrite's new file carries the partition tuple
    assert any(
        pv.get("p") == "a" and "part-upd-" in p
        for p, pv, _seq in entries
    )
    eng = _engine_for(spark, loc, {"table_type": "ICEBERG"})
    got = {(r.id, r.p, r.v) for r in eng.sql(
        "SELECT id, p, v FROM glue.db.t"
    ).collect()}
    assert got == {
        (i, "a" if i < 3 else "b",
         float(i) + (100 if i < 3 else 0))
        for i in range(6)
    }
    # SET on the partition column moves the row
    seq, n = update_iceberg(spark, loc, "id = 5", {"p": "'z'"})
    assert n == 1
    eng.invalidate_table("db", "t")
    got = {(r.id, r.p) for r in eng.sql(
        "SELECT id, p FROM glue.db.t WHERE p = 'z'"
    ).collect()}
    assert got == {(5, "z")}


def test_merge_into_iceberg_partitioned_identity(spark, tmp_path):
    """MERGE into an identity-partitioned table: untouched partitions'
    data files are never rewritten (only position deletes retire
    matched rows), inserts land with correct partition tuples."""
    from glue_table_cache_spark.sinks.iceberg_delete import (
        merge_into_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    loc = str(tmp_path / "pmice")
    write_iceberg_append(
        spark.createDataFrame(
            [(i, "a" if i < 3 else "b", f"v{i}") for i in range(6)],
            "id long, p string, v string",
        ).coalesce(1),
        loc,
        partition_by=["p"],
    )
    before = {
        p for p, _pv, _seq in iceberg_scan_details(loc)[0]
    }
    src = spark.createDataFrame(
        [(0, "a", "V0"), (9, "c", "V9")],
        "id long, p string, v string",
    )
    seq, n_up, n_ins = merge_into_iceberg(spark, loc, src, on=["id"])
    assert (n_up, n_ins) == (1, 1)
    entries, _d, _e = iceberg_scan_details(loc)
    after = {p for p, _pv, _seq in entries}
    assert before <= after  # originals still active (pos-deleted only)
    assert any(pv == {"p": "c"} for _p, pv, _seq in entries)
    eng = _engine_for(spark, loc, {"table_type": "ICEBERG"})
    got = sorted(
        (r.id, r.p, r.v)
        for r in eng.sql("SELECT id, p, v FROM glue.db.t").collect()
    )
    want = sorted(
        [(0, "a", "V0"), (9, "c", "V9")]
        + [(i, "a" if i < 3 else "b", f"v{i}") for i in range(1, 6)]
    )
    assert got == want


def test_update_iceberg_partitioned_hidden(spark, tmp_path):
    """UPDATE on a hidden-partitioned table (day transform): the
    source column stays in the data files, the rewrite derives the
    transform for placement, and pruning metadata stays coherent."""
    import datetime

    from glue_table_cache_spark.sinks.iceberg_delete import (
        update_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    loc = str(tmp_path / "hice")
    d1 = datetime.date(2024, 1, 1)
    d2 = datetime.date(2024, 1, 2)
    write_iceberg_append(
        spark.createDataFrame(
            [(1, d1, 10.0), (2, d1, 20.0), (3, d2, 30.0)],
            "id long, d date, v double",
        ).coalesce(1),
        loc,
        partition_transforms={"d": "day"},
    )
    seq, n = update_iceberg(spark, loc, "id = 2", {"v": "v * 10"})
    assert n == 1
    entries, _dl, _e = iceberg_scan_details(loc)
    upd = [(p, pv) for p, pv, _s in entries if "part-upd-" in p]
    assert upd and all(pv.get("d_day") for _p, pv in upd)
    eng = _engine_for(spark, loc, {"table_type": "ICEBERG"})
    got = {
        r.id: r.v
        for r in eng.sql("SELECT id, v FROM glue.db.t").collect()
    }
    assert got == {1: 10.0, 2: 200.0, 3: 30.0}


def test_truncate_table(spark, tmp_path):
    """TRUNCATE TABLE == DELETE FROM t (no WHERE): the TRUE
    predicate proves every file full, so Delta retires everything
    metadata-only; all three formats scan empty afterwards with the
    schema intact."""
    from glue_table_cache_spark.dml import DeleteStatement
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    s = parse_dml("TRUNCATE TABLE glue.db.t")
    assert isinstance(s, DeleteStatement) and s.predicate == "true"
    assert parse_dml("TRUNCATE TABLE plain.t") is None
    with pytest.raises(InvalidQueryError, match="DELETE FROM"):
        parse_dml("TRUNCATE TABLE glue.db.t WHERE id = 1")

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    writers = {
        "delta": (
            write_delta_append,
            {"spark.sql.sources.provider": "delta"},
        ),
        "iceberg": (write_iceberg_append, {"table_type": "ICEBERG"}),
        "hudi": (write_hudi_append, {"hoodie.table.name": "t"}),
    }
    for fmt, (writer, params) in writers.items():
        loc = tmp_path / fmt
        writer(df, str(loc))
        store = LocalMetadataStore()
        store.register_parquet_dir(
            "db", "t", str(loc), parameters=params
        )
        eng = GlueSparkEngine(spark, store)
        out = eng.sql("TRUNCATE TABLE glue.db.t").first()
        assert out.rows_deleted == 2, fmt
        left = eng.sql("SELECT * FROM glue.db.t")
        assert left.count() == 0, fmt
        assert left.columns == ["id", "v"], fmt


def test_show_create_table(spark, tmp_path):
    """SHOW CREATE TABLE reconstructs the registration DDL from the
    scan schema + the format's own metadata."""
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
        write_delta_append,
    )

    loc = tmp_path / "sct"
    write_delta_append(
        spark.createDataFrame(
            [(1, "p1", 1.5)], "id long, part string, x double"
        ),
        str(loc),
        partition_by=["part"],
    )
    set_delta_table_properties(str(loc), {"delta.appendOnly": "false"})
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    ddl = eng.sql("SHOW CREATE TABLE glue.db.t").first().createtab_stmt
    assert ddl.startswith("CREATE TABLE glue.db.t (")
    assert "id BIGINT" in ddl and "x DOUBLE" in ddl
    assert "USING DELTA" in ddl
    assert "PARTITIONED BY (part)" in ddl
    assert f"LOCATION '{loc}'" in ddl
    assert "'delta.appendOnly' = 'false'" in ddl
    # parser: non-glue passes through, trailing text refuses
    assert parse_dml("SHOW CREATE TABLE plain.t") is None
    with pytest.raises(InvalidQueryError, match="trailing"):
        parse_dml("SHOW CREATE TABLE glue.db.t JUNK")
    # raw parquet renders its catalog registration
    store2 = LocalMetadataStore()
    store2.register_parquet_dir("db", "raw", str(loc / "part=p1"))
    eng2 = GlueSparkEngine(spark, store2)
    ddl2 = eng2.sql(
        "SHOW CREATE TABLE glue.db.raw"
    ).first().createtab_stmt
    assert "USING PARQUET" in ddl2


def test_hudi_partitioned_dml_partition_predicate(spark, tmp_path):
    """Hive-partitioned COW base files do not STORE their partition
    columns; DELETE/UPDATE predicates referencing them must still
    resolve (the directory-parsed values attach for evaluation and
    never land in the staged data files).  SET on a partition column
    refuses — the slice rewrite cannot move rows across partition
    directories."""
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )

    loc = tmp_path / "hp"
    write_hudi_append(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)],
            "id long, part string, x double",
        ),
        str(loc),
        partition_by=["part"],
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc), parameters={"hoodie.table.name": "t"}
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "DELETE FROM glue.db.t WHERE part = 'a' AND id = 1"
    ).first()
    assert out.rows_deleted == 1
    out = eng.sql(
        "UPDATE glue.db.t SET x = x * 10 WHERE part = 'b'"
    ).first()
    assert out.rows_updated == 1
    rows = sorted(
        (r.id, r.part, r.x)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    )
    assert rows == [(2, "b", 20.0), (3, "a", 3.0)]
    # no staged data file carries the partition column
    import pyarrow.parquet as pq

    for p in loc.rglob("*.parquet"):
        assert "part" not in pq.ParquetFile(p).schema_arrow.names
    with pytest.raises(GlueSparkError, match="partition column"):
        eng.sql("UPDATE glue.db.t SET part = 'z' WHERE id = 2")
    # partition-scoped retirement: every row of partition 'a' dies
    # metadata-free of the predicate columns
    out = eng.sql("DELETE FROM glue.db.t WHERE part = 'a'").first()
    assert out.rows_deleted == 1
    assert (
        eng.sql("SELECT count(*) AS n FROM glue.db.t").first().n == 1
    )


def test_describe_detail_iceberg_with_deletes(spark, tmp_path):
    """DESCRIBE DETAIL (and SHOW CREATE TABLE on top of it) must not
    refuse an Iceberg table carrying position-delete files — delete
    files are live storage and count in numFiles."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "iddd"
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ),
        str(loc),
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql("DELETE FROM glue.db.t WHERE id = 1")
    d = eng.sql("DESCRIBE DETAIL glue.db.t").first()
    assert d.format == "iceberg"
    # every live file counts: the data files plus the delete file
    n_disk = len(list((loc / "data").rglob("*.parquet")))
    assert d.numFiles == n_disk
    assert any(
        p.name.startswith("pos-delete-")
        for p in (loc / "data").rglob("*.parquet")
    )
    ddl = eng.sql("SHOW CREATE TABLE glue.db.t").first().createtab_stmt
    assert "USING ICEBERG" in ddl


def test_insert_by_name(spark, tmp_path):
    """INSERT ... BY NAME binds on the source's own column names —
    order-free, NULL-filling missing target columns."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = tmp_path / "ibn"
    write_delta_append(
        spark.createDataFrame(
            [(1, "a", 10.0)], "id long, tag string, amt double"
        ),
        str(loc),
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        "INSERT INTO glue.db.t BY NAME "
        "SELECT 5.0 AS amt, 9 AS id"
    ).first()
    assert out.rows_inserted == 1
    got = {
        r.id: (r.tag, r.amt)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    }
    assert got == {1: ("a", 10.0), 9: (None, 5.0)}
    with pytest.raises(GlueSparkError, match="not in the table"):
        eng.sql(
            "INSERT INTO glue.db.t BY NAME SELECT 1 AS nope"
        )
    with pytest.raises(InvalidQueryError, match="no column list"):
        parse_dml(
            "INSERT INTO glue.db.t BY NAME (id) SELECT 1"
        )


def test_table_changes_tvf(spark, tmp_path):
    """table_changes(glue.db.t, start [, end]) — the batch CDF TVF:
    inclusive version window, typed change rows, quoted or bare table
    argument, composable with data scans; non-Delta refuses."""
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
        write_delta_append,
    )

    loc = tmp_path / "tc"
    write_delta_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ),
        str(loc),
    )  # v0: 2 inserts
    set_delta_table_properties(
        str(loc), {"delta.enableChangeDataFeed": "true"}
    )  # v1
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql("DELETE FROM glue.db.t WHERE id = 1")  # v2: cdc delete
    eng.sql(
        "INSERT INTO glue.db.t VALUES (3, 'c')"
    )  # v3: synthesized insert
    rows = eng.sql(
        "SELECT id, _change_type, _commit_version "
        "FROM table_changes(glue.db.t, 2) ORDER BY _commit_version"
    ).collect()
    assert [(r.id, r._change_type, r._commit_version) for r in rows] == [
        (1, "delete", 2),
        (3, "insert", 3),
    ]
    # inclusive bounded window + QUOTED table argument
    rows = eng.sql(
        "SELECT count(*) AS n "
        "FROM table_changes('glue.db.t', 0, 0)"
    ).first()
    assert rows.n == 2  # v0's two inserts
    # composes with a live scan in one query
    joined = eng.sql(
        "SELECT c.id FROM table_changes(glue.db.t, 3, 3) c "
        "JOIN glue.db.t d ON c.id = d.id"
    ).collect()
    assert [r.id for r in joined] == [3]
    # a string literal NOT inside the call is untouched
    lit = eng.sql(
        "SELECT 'table_changes(glue.db.t, 0)' AS s"
    ).first().s
    assert lit == "table_changes(glue.db.t, 0)"

    # non-lakehouse refuses; malformed arguments refuse POINTEDLY
    # (never fall through to an unresolved-TVF Spark error)
    store3 = LocalMetadataStore()
    store3.register_parquet_dir("db", "t", str(tmp_path / "plain"))
    with pytest.raises(GlueSparkError, match="DELTA, ICEBERG"):
        GlueSparkEngine(spark, store3).sql(
            "SELECT * FROM table_changes(glue.db.t, 0)"
        )
    from glue_table_cache_spark.errors import InvalidQueryError

    with pytest.raises(InvalidQueryError, match="inclusive start"):
        eng.sql("SELECT * FROM table_changes(glue.db.t, 1 + 1)")
    with pytest.raises(InvalidQueryError, match="inclusive start"):
        eng.sql("SELECT * FROM table_changes(glue.db.t)")

    # timestamp bounds resolve against commitInfo timestamps: the
    # whole history window equals the full version window
    n_all = eng.sql(
        "SELECT count(*) AS n FROM table_changes(glue.db.t, 0)"
    ).first().n
    n_ts = eng.sql(
        "SELECT count(*) AS n FROM "
        "table_changes(glue.db.t, '2000-01-01', '2100-01-01')"
    ).first().n
    assert n_ts == n_all
    with pytest.raises(GlueSparkError, match="at or after"):
        eng.sql(
            "SELECT * FROM table_changes(glue.db.t, '2100-01-01')"
        )
    with pytest.raises(GlueSparkError, match="unparseable"):
        eng.sql(
            "SELECT * FROM table_changes(glue.db.t, 'not a date')"
        )


def test_table_changes_tvf_iceberg(spark, tmp_path):
    """table_changes() on Iceberg: inclusive sequence-number window
    with per-commit attribution; windows that change row-level
    delete files refuse; identity partition columns re-attach."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "tci"
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, p string"
        ),
        str(loc),
        partition_by=["p"],
    )  # seq 1
    write_iceberg_append(
        spark.createDataFrame([(3, "a")], "id long, p string"),
        str(loc),
        partition_by=["p"],
    )  # seq 2
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    rows = eng.sql(
        "SELECT id, p, _change_type, _commit_version "
        "FROM table_changes(glue.db.t, 1) ORDER BY id"
    ).collect()
    assert [
        (r.id, r.p, r._change_type, r._commit_version) for r in rows
    ] == [
        (1, "a", "insert", 1),
        (2, "b", "insert", 1),
        (3, "a", "insert", 2),
    ]
    # bounded window isolates the second append
    rows = eng.sql(
        "SELECT id FROM table_changes(glue.db.t, 2, 2)"
    ).collect()
    assert [r.id for r in rows] == [3]
    # a DELETE adds a position-delete file: the window synthesizes
    # the per-row delta — the deleted row, read back from the prior
    # state's data file via its (file_path, pos) target
    eng.sql("DELETE FROM glue.db.t WHERE id = 1")  # seq 3
    got = eng.sql(
        "SELECT id, p, _change_type, _commit_version "
        "FROM table_changes(glue.db.t, 3)"
    ).collect()
    assert [
        (r.id, r.p, r._change_type, r._commit_version) for r in got
    ] == [(1, "a", "delete", 3)]
    # pre-delete windows still read fine
    assert eng.sql(
        "SELECT count(*) AS n FROM table_changes(glue.db.t, 1, 2)"
    ).first().n == 3
    # a second DELETE only emits ITS rows (pairs an older delete
    # file already masked are subtracted — a row dies once)
    eng.sql("DELETE FROM glue.db.t WHERE id = 2")  # seq 4
    got = eng.sql(
        "SELECT id, _change_type, _commit_version "
        "FROM table_changes(glue.db.t, 4)"
    ).collect()
    assert [
        (r.id, r._change_type, r._commit_version) for r in got
    ] == [(2, "delete", 4)]
    # the full-history replay nets every insert and both deletes
    both = eng.sql(
        "SELECT id, _change_type FROM table_changes(glue.db.t, 1) "
        "ORDER BY _commit_version, id"
    ).collect()
    assert [(r.id, r._change_type) for r in both] == [
        (1, "insert"),
        (2, "insert"),
        (3, "insert"),
        (1, "delete"),
        (2, "delete"),
    ]
    # timestamp bounds resolve via snapshot timestamp-ms
    assert eng.sql(
        "SELECT count(*) AS n FROM "
        "table_changes(glue.db.t, '2000-01-01', 2)"
    ).first().n == 3


def test_table_changes_iceberg_update_and_replay(spark, tmp_path):
    """An Iceberg UPDATE (one snapshot: position deletes + new data
    files) surfaces as delete(preimage) + insert(postimage) rows, and
    the full changelog replays onto a fresh Delta twin via
    apply_changes to exactly the source's current state."""
    from glue_table_cache_spark.operators.incremental import (
        apply_changes,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "tciu"
    write_iceberg_append(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, x double"
        ),
        str(loc),
    )  # seq 1
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc), parameters={"table_type": "ICEBERG"}
    )
    twin = tmp_path / "twin"
    write_delta_append(
        spark.createDataFrame([], "id long, x double"), str(twin)
    )
    store.register_parquet_dir(
        "db",
        "twin",
        str(twin),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql("UPDATE glue.db.t SET x = x + 1 WHERE id >= 2")  # seq 2
    got = eng.sql(
        "SELECT id, x, _change_type "
        "FROM table_changes(glue.db.t, 2) ORDER BY _change_type, id"
    ).collect()
    assert [(r.id, r.x, r._change_type) for r in got] == [
        (2, 20.0, "delete"),
        (3, 30.0, "delete"),
        (2, 21.0, "insert"),
        (3, 31.0, "insert"),
    ]
    eng.sql("DELETE FROM glue.db.t WHERE id = 1")  # seq 3
    feed = eng.sql("SELECT * FROM table_changes(glue.db.t, 1)")
    apply_changes(eng, "glue.db.twin", feed, keys=["id"])
    assert sorted(
        (r.id, r.x)
        for r in eng.sql("SELECT * FROM glue.db.twin").collect()
    ) == [(2, 21.0), (3, 31.0)]
    # idempotent: replaying the same feed changes nothing
    apply_changes(eng, "glue.db.twin", feed, keys=["id"])
    assert sorted(
        (r.id, r.x)
        for r in eng.sql("SELECT * FROM glue.db.twin").collect()
    ) == [(2, 21.0), (3, 31.0)]


def test_table_changes_tvf_hudi(spark, tmp_path):
    """table_changes() on Hudi COW: inclusive instant window over
    consecutive-instant file diffs; a replacecommit (COW DELETE)
    emits deletes + re-inserts; MOR deltacommit windows refuse."""
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )

    loc = tmp_path / "tch"
    write_hudi_append(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)],
            "id long, part string, x double",
        ),
        str(loc),
        partition_by=["part"],
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc), parameters={"hoodie.table.name": "t"}
    )
    eng = GlueSparkEngine(spark, store)
    first = eng.sql(
        "SELECT DISTINCT _commit_version AS v "
        "FROM table_changes(glue.db.t, '2000-01-01')"
    ).first().v
    rows = eng.sql(
        f"SELECT id, part, _change_type "
        f"FROM table_changes(glue.db.t, {first}) ORDER BY id"
    ).collect()
    assert [(r.id, r.part, r._change_type) for r in rows] == [
        (1, "a", "insert"),
        (2, "b", "insert"),
    ]
    # COW DELETE = replacecommit; id=1 is alone in partition 'a', so
    # its file group drains with no replacement slice: exactly one
    # delete, partition 'b' untouched
    eng.sql("DELETE FROM glue.db.t WHERE id = 1")
    changed = eng.sql(
        f"SELECT id, _change_type "
        f"FROM table_changes(glue.db.t, {first + 1}) "
        "ORDER BY _change_type, id"
    ).collect()
    assert [(r.id, r._change_type) for r in changed] == [
        (1, "delete")
    ]
    # a same-partition rewrite DOES re-emit: delete old slice state,
    # insert the rewritten one
    eng.sql("UPDATE glue.db.t SET x = 99.0 WHERE part = 'b'")
    latest = eng.sql(
        "SELECT max(_commit_version) AS v "
        "FROM table_changes(glue.db.t, '2000-01-01')"
    ).first().v
    got = sorted(
        (r.id, r._change_type, r.x)
        for r in eng.sql(
            f"SELECT id, _change_type, x "
            f"FROM table_changes(glue.db.t, {latest}, {latest})"
        ).collect()
    )
    assert got == [(2, "delete", 2.0), (2, "insert", 99.0)]


def test_fsck_repair_table(spark, tmp_path):
    """FSCK REPAIR TABLE drops log entries whose backing file
    vanished out-of-band: scans die on the missing file until the
    repair, then see the surviving rows; DRY RUN reports only."""
    import os as _os

    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = tmp_path / "fsck"
    write_delta_append(
        spark.createDataFrame([(1, "a")], "id long, v string"),
        str(loc),
    )
    write_delta_append(
        spark.createDataFrame([(2, "b")], "id long, v string"),
        str(loc),
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    # delete the file holding id=2 out-of-band (batch-uuid file
    # names don't sort by append order)
    import pyarrow.parquet as pq

    victim = next(
        p
        for p in loc.glob("part-*.parquet")
        if 2 in pq.read_table(p, columns=["id"])["id"].to_pylist()
    )
    _os.unlink(victim)
    eng.invalidate_table("db", "t")
    dry = eng.sql("FSCK REPAIR TABLE glue.db.t DRY RUN").collect()
    assert [r.path for r in dry] == [str(victim)]
    out = eng.sql("FSCK REPAIR TABLE glue.db.t").first()
    assert out.operation == "FSCK" and out.files_removed == 1
    rows = eng.sql("SELECT * FROM glue.db.t").collect()
    assert [(r.id, r.v) for r in rows] == [(1, "a")]
    # repaired: second pass is a no-op
    out = eng.sql("FSCK REPAIR TABLE glue.db.t").first()
    assert out.files_removed == 0 and out.version is None
    assert parse_dml("FSCK REPAIR TABLE plain.t") is None


def test_restore_to_timestamp(spark, tmp_path):
    """RESTORE ... TO TIMESTAMP AS OF resolves through the same rule
    read-side timestamp travel uses (newest commit at or before the
    literal) and restores that state."""
    import json as _json
    import time as _time

    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = tmp_path / "rts"
    write_delta_append(
        spark.createDataFrame([(1,)], "id long"), str(loc)
    )
    _time.sleep(0.05)
    write_delta_append(
        spark.createDataFrame([(2,)], "id long"), str(loc)
    )
    ts0 = _json.loads(
        (loc / "_delta_log" / f"{0:020d}.json")
        .read_text()
        .splitlines()[0]
    )["commitInfo"]["timestamp"]
    import datetime as _dt

    lit = (
        _dt.datetime.fromtimestamp(
            ts0 / 1000.0, tz=_dt.timezone.utc
        )
        .replace(tzinfo=None)
        .isoformat()
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql(
        f"RESTORE TABLE glue.db.t TO TIMESTAMP AS OF '{lit}'"
    ).first()
    assert out.operation == "RESTORE"
    assert [r.id for r in eng.sql(
        "SELECT * FROM glue.db.t"
    ).collect()] == [1]
    with pytest.raises(GlueSparkError, match="VERSION AS OF"):
        store2 = LocalMetadataStore()
        iloc = tmp_path / "rtsi"
        from glue_table_cache_spark.sinks.iceberg_write import (
            write_iceberg_append,
        )

        write_iceberg_append(
            spark.createDataFrame([(1,)], "id long"), str(iloc)
        )
        store2.register_parquet_dir(
            "db", "t", str(iloc),
            parameters={"table_type": "ICEBERG"},
        )
        GlueSparkEngine(spark, store2).sql(
            "RESTORE TABLE glue.db.t TO TIMESTAMP AS OF "
            "'2024-01-01T00:00:00'"
        )


def test_delete_with_subquery_predicate(spark, tmp_path):
    """The decontamination DELETE: ``WHERE id IN (SELECT ... FROM
    glue.db.contaminated)`` — glue refs inside the predicate resolve
    to per-call temp views, the writers evaluate InSubquery in
    filters, and the metadata-only Delta proof treats the subquery as
    Unknown (no unsound full-file retire).  UPDATE refuses with a
    MERGE pointer."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    bad = spark.createDataFrame([(2,), (3,)], "bad long")
    bad_dir = tmp_path / "badlist"
    bad.write.parquet(str(bad_dir))
    rows = [(1, "a"), (2, "b"), (3, "c")]
    writers = {
        "delta": (
            write_delta_append,
            {"spark.sql.sources.provider": "delta"},
        ),
        "iceberg": (write_iceberg_append, {"table_type": "ICEBERG"}),
        "hudi": (write_hudi_append, {"hoodie.table.name": "t"}),
    }
    for fmt, (writer, params) in writers.items():
        loc = tmp_path / fmt
        writer(
            spark.createDataFrame(rows, "id long, v string"),
            str(loc),
        )
        store = LocalMetadataStore()
        store.register_parquet_dir(
            "db", "t", str(loc), parameters=params
        )
        store.register_parquet_dir("db", "badlist", str(bad_dir))
        eng = GlueSparkEngine(spark, store)
        # UPDATE with a subquery predicate executes (filter-union
        # rewrite in the writers); only SET-expression subqueries
        # still refuse toward MERGE
        out = eng.sql(
            "UPDATE glue.db.t SET v = upper(v) WHERE id IN "
            "(SELECT bad FROM glue.db.badlist)"
        ).first()
        assert out.rows_updated == 2, fmt
        got = {
            r.id: r.v
            for r in eng.sql("SELECT * FROM glue.db.t").collect()
        }
        assert got == {1: "a", 2: "B", 3: "C"}, fmt
        with pytest.raises(GlueSparkError, match="MERGE INTO"):
            eng.sql(
                "UPDATE glue.db.t SET v = (SELECT max(bad) FROM "
                "glue.db.badlist) WHERE id = 1"
            )
        out = eng.sql(
            "DELETE FROM glue.db.t WHERE id IN "
            "(SELECT bad FROM glue.db.badlist)"
        ).first()
        assert out.rows_deleted == 2, fmt
        left = [
            r.id for r in eng.sql("SELECT * FROM glue.db.t").collect()
        ]
        assert left == [1], fmt
        # no leaked per-call predicate views
        assert not [
            t.name
            for t in spark.catalog.listTables()
            if "__pred_q" in t.name
        ], fmt
        # correlated EXISTS resolves in the same filters
        out = eng.sql(
            "DELETE FROM glue.db.t WHERE EXISTS "
            "(SELECT 1 FROM glue.db.badlist b WHERE b.bad + 1 = id)"
        ).first()
        assert out.rows_deleted == 0  # ids 3,4 not present anymore
        if fmt == "delta":
            eng.sql(
                "INSERT INTO glue.db.t VALUES (4, 'd'), (5, 'e')"
            )
            out = eng.sql(
                "DELETE FROM glue.db.t WHERE EXISTS (SELECT 1 "
                "FROM glue.db.badlist b WHERE b.bad + 2 = id)"
            ).first()
            assert out.rows_deleted == 2  # ids 4 and 5


def test_delete_subquery_on_partitioned_delta_stays_sound(
    spark, tmp_path
):
    """A subquery conjunct must BLOCK the metadata-only full-file
    proof: ``p = 'a' AND id IN (...)`` on a partitioned table deletes
    exactly the matched rows, never the whole partition."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = tmp_path / "pdsq"
    write_delta_append(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "id long, p string"
        ),
        str(loc),
        partition_by=["p"],
    )
    spark.createDataFrame([(1,)], "bad long").createOrReplaceTempView(
        "sq_bad"
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    try:
        out = eng.sql(
            "DELETE FROM glue.db.t WHERE p = 'a' AND id IN "
            "(SELECT bad FROM sq_bad)"
        ).first()
        assert out.rows_deleted == 1
        left = sorted(
            (r.id, r.p)
            for r in eng.sql("SELECT * FROM glue.db.t").collect()
        )
        assert left == [(2, "a"), (3, "b")]
    finally:
        spark.catalog.dropTempView("sq_bad")


def test_show_columns_and_databases(spark, tmp_path):
    from tests.conftest import TESTDATA

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "tpch", "orders", str(TESTDATA / "orders.parquet")
    )
    store.register_parquet_dir(
        "other", "nation", str(TESTDATA / "nation.parquet")
    )
    eng = GlueSparkEngine(spark, store)
    cols = [
        r.col_name
        for r in eng.sql("SHOW COLUMNS IN glue.tpch.orders").collect()
    ]
    assert "o_orderkey" in cols and "o_totalprice" in cols
    dbs = [
        r.namespace
        for r in eng.sql("SHOW DATABASES IN glue").collect()
    ]
    assert dbs == ["other", "tpch"]
    assert parse_dml("SHOW COLUMNS IN plain.t") is None
    assert parse_dml("SHOW DATABASES") is None
    with pytest.raises(InvalidQueryError, match="trailing"):
        parse_dml("SHOW COLUMNS IN glue.db.t JUNK")


def test_hudi_mor_partitioned_merge_inserts(spark, tmp_path):
    """MERGE on a hive-partitioned MERGE_ON_READ table: NOT MATCHED
    rows route into THEIR partition's log (by the row's own partition
    values, stripped from the payload), updates land by record key,
    and an insert aimed at a partition with no file group refuses."""
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )

    loc = tmp_path / "morp"
    write_hudi_append(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)],
            "id long, part string, x double",
        ),
        str(loc),
        partition_by=["part"],
        table_type="MERGE_ON_READ",
    )
    eng = _engine_for(
        spark,
        loc,
        {
            "hoodie.table.name": "t",
            "hoodie.table.recordkey.fields": "id",
        },
    )
    spark.createDataFrame(
        [(2, "b", 20.0), (3, "a", 3.0), (4, "b", 4.0)],
        "id long, part string, x double",
    ).createOrReplaceTempView("morp_src")
    try:
        out = eng.sql(
            "MERGE INTO glue.db.t t USING morp_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        ).first()
        assert out.rows_updated == 1 and out.rows_inserted == 2
        rows = sorted(
            (r.id, r.part, r.x)
            for r in eng.sql("SELECT * FROM glue.db.t").collect()
        )
        assert rows == [
            (1, "a", 1.0),
            (2, "b", 20.0),
            (3, "a", 3.0),
            (4, "b", 4.0),
        ]
        # partition-scoped predicate sees the log-inserted rows
        assert eng.sql(
            "SELECT count(*) AS n FROM glue.db.t WHERE part = 'a'"
        ).first().n == 2
        # the log files landed inside their partition directories
        assert list((loc / "part=a").glob(".*.log.*"))
        assert list((loc / "part=b").glob(".*.log.*"))
        # an insert into a partition with NO file group refuses
        spark.createDataFrame(
            [(9, "zzz", 9.0)], "id long, part string, x double"
        ).createOrReplaceTempView("morp_new")
        with pytest.raises(GlueSparkError, match="no active file"):
            eng.sql(
                "MERGE INTO glue.db.t t USING morp_new s "
                "ON t.id = s.id "
                "WHEN NOT MATCHED THEN INSERT *"
            )
    finally:
        spark.catalog.dropTempView("morp_src")
        spark.catalog.dropTempView("morp_new")


def test_alter_rename_and_drop_column_delta(spark, tmp_path):
    """RENAME/DROP COLUMN: metadata-only commits through an automatic
    column-mapping upgrade — physical names pin to the on-disk
    spelling, scans project the logical schema, and DML + appends
    keep working on the mapped table."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = tmp_path / "arc"
    write_delta_append(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)],
            "id long, v string, junk double",
        ),
        str(loc),
    )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    out = eng.sql(
        "ALTER TABLE glue.db.t RENAME COLUMN v TO label"
    ).first()
    assert out.operation == "RENAME COLUMN"
    got = {
        r.id: r.label
        for r in eng.sql("SELECT id, label FROM glue.db.t").collect()
    }
    assert got == {1: "a", 2: "b"}
    # DML on the now-mapped table still works
    assert eng.sql(
        "UPDATE glue.db.t SET label = 'z' WHERE id = 1"
    ).first().rows_updated == 1
    assert eng.sql(
        "DELETE FROM glue.db.t WHERE label = 'b'"
    ).first().rows_deleted == 1
    # appends stage under PHYSICAL names: the logical scan stays whole
    eng.sql("INSERT INTO glue.db.t VALUES (3, 'c', 3.0)")
    rows = sorted(
        (r.id, r.label, r.junk)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    )
    assert rows == [(1, "z", 1.0), (3, "c", 3.0)]
    import json as _json

    adds = [
        _json.loads(line)["add"]
        for p in sorted((loc / "_delta_log").glob("*.json"))
        for line in p.read_text().splitlines()
        if '"add"' in line
    ]
    # every staged file carries the physical column name ('v')
    import pyarrow.parquet as pq
    from urllib.parse import unquote as _uq

    last = loc / _uq(adds[-1]["path"])
    assert "v" in pq.ParquetFile(last).schema_arrow.names

    # DROP COLUMN: the field leaves the logical schema, data stays
    out = eng.sql("ALTER TABLE glue.db.t DROP COLUMN junk").first()
    assert out.operation == "DROP COLUMN"
    df = eng.sql("SELECT * FROM glue.db.t")
    assert df.columns == ["id", "label"]
    assert sorted((r.id, r.label) for r in df.collect()) == [
        (1, "z"), (3, "c"),
    ]
    # positional INSERT binds to the two remaining logical columns
    eng.sql("INSERT INTO glue.db.t VALUES (4, 'd')")
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t"
    ).first().n == 3


def test_alter_column_refusal_matrix(spark, tmp_path):
    """RENAME/DROP COLUMN refusals: partition columns, constraint and
    generated-column references, CDF tables, non-Delta formats, and
    unknown columns — all loud, nothing half-commits."""
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "arm"
    write_delta_append(
        spark.createDataFrame(
            [(1, "a", 5.0)], "id long, p string, amt double"
        ),
        str(loc),
        partition_by=["p"],
    )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    with pytest.raises(GlueSparkError, match="partition column"):
        eng.sql("ALTER TABLE glue.db.t RENAME COLUMN p TO q")
    with pytest.raises(GlueSparkError, match="partition column"):
        eng.sql("ALTER TABLE glue.db.t DROP COLUMN p")
    with pytest.raises(GlueSparkError, match="no such column"):
        eng.sql("ALTER TABLE glue.db.t DROP COLUMN nope")
    eng.sql(
        "ALTER TABLE glue.db.t ADD CONSTRAINT pos CHECK (amt > 0)"
    )
    with pytest.raises(GlueSparkError, match="CHECK constraint"):
        eng.sql("ALTER TABLE glue.db.t DROP COLUMN amt")
    with pytest.raises(GlueSparkError, match="CHECK constraint"):
        eng.sql("ALTER TABLE glue.db.t RENAME COLUMN amt TO cost")
    eng.sql("ALTER TABLE glue.db.t DROP CONSTRAINT pos")
    # CDF tables rename fine now: cdc files carry PHYSICAL names and
    # the reader maps them through the current metadata (the
    # dedicated coverage is test_cdf_through_column_mapping)
    cdf = tmp_path / "armc"
    write_delta_append(
        spark.createDataFrame([(1, 1.0)], "id long, x double"),
        str(cdf),
    )
    set_delta_table_properties(
        str(cdf), {"delta.enableChangeDataFeed": "true"}
    )
    eng2 = _engine_for(
        spark, cdf, {"spark.sql.sources.provider": "delta"}
    )
    eng2.sql("ALTER TABLE glue.db.t RENAME COLUMN x TO y")
    assert eng2.sql(
        "SELECT y FROM table_changes(glue.db.t, 0, 0)"
    ).first().y == 1.0
    # Iceberg renames natively by FIELD ID (r11 prior session); the
    # dedicated coverage lives in the iceberg alter tests
    iloc = tmp_path / "armi"
    write_iceberg_append(
        spark.createDataFrame([(1, 2.0)], "id long, x double"),
        str(iloc),
    )
    eng3 = _engine_for(spark, iloc, {"table_type": "ICEBERG"})
    eng3.sql("ALTER TABLE glue.db.t RENAME COLUMN id TO key")
    assert eng3.sql(
        "SELECT key FROM glue.db.t"
    ).first().key == 1
    # HUDI still refuses with a pointer (name-tracked files)
    hloc = tmp_path / "armh"
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )

    write_hudi_append(
        spark.createDataFrame([(1,)], "id long"), str(hloc)
    )
    eng4 = _engine_for(spark, hloc, {"hoodie.table.name": "t"})
    with pytest.raises(GlueSparkError, match="Hudi tracks columns"):
        eng4.sql("ALTER TABLE glue.db.t RENAME COLUMN id TO key")


def test_apply_changes_cross_format_cdc(spark, tmp_path):
    """apply_changes: a Delta table's change feed (the TVF) nets to
    latest-action-per-key and replays onto a HUDI twin through one
    general MERGE — deletes remove, updates win over their preimages,
    and a replay of the same window is idempotent."""
    from glue_table_cache_spark.operators.incremental import (
        apply_changes,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )

    src = tmp_path / "cdc_src"
    dst = tmp_path / "cdc_dst"
    rows = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    write_delta_append(
        spark.createDataFrame(rows, "id long, v string, x double"),
        str(src),
    )  # v0
    set_delta_table_properties(
        str(src), {"delta.enableChangeDataFeed": "true"}
    )  # v1
    write_hudi_append(
        spark.createDataFrame(rows, "id long, v string, x double"),
        str(dst),
    )  # the seeded twin at source v0
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "src", str(src),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    store.register_parquet_dir(
        "db", "dst", str(dst), parameters={"hoodie.table.name": "dst"}
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql("DELETE FROM glue.db.src WHERE id = 1")          # v2
    eng.sql("UPDATE glue.db.src SET x = 20.0 WHERE id = 2")  # v3
    eng.sql("INSERT INTO glue.db.src VALUES (4, 'd', 4.0)")  # v4
    eng.sql("UPDATE glue.db.src SET v = 'dd' WHERE id = 4")  # v5

    changes = eng.sql("SELECT * FROM table_changes(glue.db.src, 2)")
    out = apply_changes(eng, "glue.db.dst", changes, ["id"])
    assert out.rows_deleted == 1
    assert out.rows_updated == 1
    assert out.rows_inserted == 1  # id=4's insert+update NETS to one

    def _snap(tbl):
        return sorted(
            (r.id, r.v, r.x)
            for r in eng.sql(f"SELECT * FROM {tbl}").collect()
        )

    assert _snap("glue.db.dst") == _snap("glue.db.src") == [
        (2, "b", 20.0),
        (3, "c", 3.0),
        (4, "dd", 4.0),
    ]
    # replaying the SAME window is idempotent (latest state re-lands)
    changes2 = eng.sql("SELECT * FROM table_changes(glue.db.src, 2)")
    apply_changes(eng, "glue.db.dst", changes2, ["id"])
    assert _snap("glue.db.dst") == _snap("glue.db.src")


def test_table_changes_iceberg_skips_replace_snapshots(
    spark, tmp_path
):
    """OPTIMIZE's replace snapshot is content-preserving: the TVF
    window over it emits NOTHING (and does not refuse on its purged
    delete files), while the DELETE's own window synthesizes the
    deleted row from its position-delete targets (r11)."""
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "tcir"
    for batch in ([(1, "a"), (2, "b")], [(3, "c")]):
        write_iceberg_append(
            spark.createDataFrame(batch, "id long, v string"),
            str(loc),
        )  # seq 1, 2
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql("DELETE FROM glue.db.t WHERE id = 1")  # seq 3: pos-delete
    optimize_iceberg(spark, str(loc))              # seq 4: replace
    eng.invalidate_table("db", "t")
    assert eng.sql(
        "SELECT count(*) AS n FROM table_changes(glue.db.t, 4, 4)"
    ).first().n == 0
    got = eng.sql(
        "SELECT id, v, _change_type "
        "FROM table_changes(glue.db.t, 3, 3)"
    ).collect()
    assert [(r.id, r.v, r._change_type) for r in got] == [
        (1, "a", "delete")
    ]
    # pre-delete windows keep reading
    assert eng.sql(
        "SELECT count(*) AS n FROM table_changes(glue.db.t, 1, 2)"
    ).first().n == 3


def test_predicate_has_subquery_masked_scan():
    """predicate_has_subquery ignores string literals / comments and
    tolerates trivia between '(' and SELECT (r10 advice)."""
    from glue_table_cache_spark.dml import predicate_has_subquery

    assert predicate_has_subquery("id IN (SELECT id FROM t)")
    assert predicate_has_subquery("id IN ( /*x*/ SELECT id FROM t)")
    assert predicate_has_subquery("id IN ((SELECT id FROM t))")
    assert predicate_has_subquery(
        "id IN (\n -- note\n SELECT id FROM t)"
    )
    assert not predicate_has_subquery("v = '(SELECT' AND id = 1")
    assert not predicate_has_subquery("id = 3 /* (SELECT x) */")
    assert not predicate_has_subquery(None)


def test_constraint_refusal_matches_backticked_identifiers(
    spark, tmp_path
):
    """A CHECK constraint written with backtick-quoted column names
    still blocks RENAME/DROP of the referenced column (r10 advice:
    the lookbehind used to exclude backticks)."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    loc = tmp_path / "btc"
    write_delta_append(
        spark.createDataFrame(
            [(1, 5.0)], "id long, amt double"
        ),
        str(loc),
    )
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    eng.sql(
        "ALTER TABLE glue.db.t ADD CONSTRAINT pos CHECK (`amt` > 0)"
    )
    with pytest.raises(GlueSparkError, match="CHECK constraint"):
        eng.sql("ALTER TABLE glue.db.t RENAME COLUMN amt TO cost")
    with pytest.raises(GlueSparkError, match="CHECK constraint"):
        eng.sql("ALTER TABLE glue.db.t DROP COLUMN amt")


def test_apply_changes_with_map_column(spark, tmp_path):
    """apply_changes orders by (sequence, priority) only — a
    changelog carrying a non-orderable MAP column aggregates fine
    (r10 advice: data columns stay out of the ordering struct)."""
    from glue_table_cache_spark.operators.incremental import (
        apply_changes,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    dst = tmp_path / "mapdst"
    write_delta_append(
        spark.createDataFrame(
            [(1, {"k": "old"})], "id long, attrs map<string,string>"
        ),
        str(dst),
    )
    eng = _engine_for(
        spark, dst, {"spark.sql.sources.provider": "delta"}
    )
    changes = spark.createDataFrame(
        [
            (1, {"k": "v1"}, "update_postimage", 2),
            (1, {"k": "old"}, "update_preimage", 2),
            (1, {"k": "v2"}, "update_postimage", 3),
            (2, {"k": "new"}, "insert", 3),
        ],
        "id long, attrs map<string,string>, "
        "_change_type string, _commit_version long",
    )
    out = apply_changes(eng, "glue.db.t", changes, ["id"])
    assert out.rows_updated == 1 and out.rows_inserted == 1
    got = {
        r.id: dict(r.attrs)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    }
    assert got == {1: {"k": "v2"}, 2: {"k": "new"}}


def test_alter_rename_and_drop_column_iceberg(spark, tmp_path):
    """Iceberg RENAME/DROP COLUMN: one metadata commit each — readers
    resolve by FIELD ID, the name-mapping property pins the on-disk
    spelling (this engine's files carry no embedded field ids), and
    every scan/DML/INSERT works uniformly afterwards."""
    import json as _json

    import pyarrow.parquet as pq

    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "iarc"
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)],
            "id long, v string, junk double",
        ),
        str(loc),
    )
    eng = _engine_for(spark, loc, {"table_type": "ICEBERG"})
    out = eng.sql(
        "ALTER TABLE glue.db.t RENAME COLUMN v TO label"
    ).first()
    assert out.operation == "RENAME COLUMN"
    got = {
        r.id: r.label
        for r in eng.sql("SELECT id, label FROM glue.db.t").collect()
    }
    assert got == {1: "a", 2: "b"}
    # DML keeps working on the renamed table
    assert eng.sql(
        "UPDATE glue.db.t SET label = 'z' WHERE id = 1"
    ).first().rows_updated == 1
    assert eng.sql(
        "DELETE FROM glue.db.t WHERE label = 'b'"
    ).first().rows_deleted == 1
    # MERGE with a SET on the renamed column
    eng.sql(
        "MERGE INTO glue.db.t t USING (SELECT 1 AS id, 'zz' AS "
        "label) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET label = s.label"
    )
    # appends stage under the PHYSICAL spelling ('v')
    eng.sql("INSERT INTO glue.db.t VALUES (3, 'c', 3.0)")
    rows = sorted(
        (r.id, r.label, r.junk)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    )
    assert rows == [(1, "zz", 1.0), (3, "c", 3.0)]
    newest = max(
        (loc / "data").rglob("*.parquet"), key=lambda p: p.stat().st_mtime
    )
    names = pq.ParquetFile(newest).schema_arrow.names
    assert "v" in names and "label" not in names
    # the mapping property pins physical 'v' to the field id
    meta = _json.loads(
        max(
            (loc / "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name[1:].split(".")[0]),
        ).read_text()
    )
    mapping = _json.loads(
        meta["properties"]["schema.name-mapping.default"]
    )
    assert {"field-id": 2, "names": ["v"]} in mapping

    # DROP COLUMN: field leaves the schema, old bytes stay invisible
    out = eng.sql("ALTER TABLE glue.db.t DROP COLUMN junk").first()
    assert out.operation == "DROP COLUMN"
    df = eng.sql("SELECT * FROM glue.db.t")
    assert df.columns == ["id", "label"]
    # re-ADD of the dropped name mints a fresh id + fresh physical —
    # old values must NOT resurrect
    eng.sql("ALTER TABLE glue.db.t ADD COLUMNS (junk double)")
    rows = sorted(
        (r.id, r.label, r.junk)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    )
    assert rows == [(1, "zz", None), (3, "c", None)]
    eng.sql("INSERT INTO glue.db.t VALUES (4, 'd', 44.0)")
    rows = sorted(
        (r.id, r.label, r.junk)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    )
    assert rows == [(1, "zz", None), (3, "c", None), (4, "d", 44.0)]
    # positional INSERT bound to the logical order throughout


def test_alter_iceberg_refusal_matrix(spark, tmp_path):
    """Iceberg RENAME/DROP refusals mirror Delta's: partition columns
    (identity AND hidden-transform sources), unknown columns,
    duplicate targets, the last column, and equality-delete-referenced
    columns all refuse loudly; a merge-schema append reusing a
    dropped spelling refuses toward ALTER ADD COLUMNS."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "iref"
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "a", 5.0)], "id long, p string, amt double"
        ),
        str(loc),
        partition_by=["p"],
    )
    eng = _engine_for(spark, loc, {"table_type": "ICEBERG"})
    with pytest.raises(GlueSparkError, match="partition column"):
        eng.sql("ALTER TABLE glue.db.t RENAME COLUMN p TO q")
    with pytest.raises(GlueSparkError, match="partition column"):
        eng.sql("ALTER TABLE glue.db.t DROP COLUMN p")
    with pytest.raises(GlueSparkError, match="no such column"):
        eng.sql("ALTER TABLE glue.db.t DROP COLUMN nope")
    with pytest.raises(GlueSparkError, match="already exists"):
        eng.sql("ALTER TABLE glue.db.t RENAME COLUMN amt TO id")

    # hidden partitioning: the transform SOURCE refuses too
    hloc = tmp_path / "ihid"
    write_iceberg_append(
        spark.createDataFrame(
            [(1, "2024-01-02")], "id long, d string"
        ).selectExpr("id", "cast(d as date) d"),
        str(hloc),
        partition_transforms={"d": "month"},
    )
    eng2 = _engine_for(spark, hloc, {"table_type": "ICEBERG"})
    with pytest.raises(GlueSparkError, match="partition column"):
        eng2.sql("ALTER TABLE glue.db.t RENAME COLUMN d TO dt")

    # the only column cannot drop
    sloc = tmp_path / "isolo"
    write_iceberg_append(
        spark.createDataFrame([(1,)], "id long"), str(sloc)
    )
    eng3 = _engine_for(spark, sloc, {"table_type": "ICEBERG"})
    with pytest.raises(GlueSparkError, match="only column"):
        eng3.sql("ALTER TABLE glue.db.t DROP COLUMN id")

    # a merge-schema append reusing a DROPPED spelling refuses
    mloc = tmp_path / "imrs"
    write_iceberg_append(
        spark.createDataFrame([(1, 2.0)], "id long, x double"),
        str(mloc),
    )
    eng4 = _engine_for(spark, mloc, {"table_type": "ICEBERG"})
    eng4.sql("ALTER TABLE glue.db.t DROP COLUMN x")
    with pytest.raises(GlueSparkError, match="ALTER TABLE"):
        write_iceberg_append(
            spark.createDataFrame([(9, 9.0)], "id long, x double"),
            str(mloc),
            merge_schema=True,
        )


def test_iceberg_rename_keeps_field_id_resolution(spark, tmp_path):
    """RENAME is metadata-only because everything else keys on FIELD
    IDS: an equality delete written against the OLD spelling still
    applies after the rename (including its seq scoping), and the
    manifests' bound maps keep skipping files under the NEW name."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from tests.test_iceberg import build_iceberg_table

    loc = tmp_path / "ieq"
    a = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    reinsert = spark.createDataFrame([(2, "b2")], "id long, v string")
    build_iceberg_table(
        loc,
        [
            a,
            {
                "add": None,
                "eq_delete": {
                    "columns": ["id"],
                    "rows": [{"id": 2}],
                },
            },
            reinsert,
        ],
    )
    eng = _engine_for(spark, loc, {"table_type": "ICEBERG"})
    # rename the EQUALITY-REFERENCED column itself
    eng.sql("ALTER TABLE glue.db.t RENAME COLUMN id TO key")
    got = sorted(
        (r.key, r.v)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    )
    # id=2 deleted from the pre-delete file; the re-insert survives
    assert got == [(1, "a"), (2, "b2"), (3, "c")]
    # dropping the eq-referenced column refuses (delete would strand)
    with pytest.raises(GlueSparkError, match="equality-delete"):
        eng.sql("ALTER TABLE glue.db.t DROP COLUMN key")

    # manifest BOUNDS skip under the new name: two files with
    # disjoint ranges, renamed, predicate on the new spelling
    bloc = tmp_path / "ibnd"
    write_iceberg_append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, x double"
        ).coalesce(1),
        str(bloc),
    )
    write_iceberg_append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100, 110)],
            "id long, x double",
        ).coalesce(1),
        str(bloc),
    )
    eng2 = _engine_for(spark, bloc, {"table_type": "ICEBERG"})
    eng2.sql("ALTER TABLE glue.db.t RENAME COLUMN id TO key")
    out = eng2.sql("SELECT key FROM glue.db.t WHERE key >= 100")
    assert len(out.inputFiles()) == 1
    assert sorted(r.key for r in out.collect()) == list(
        range(100, 110)
    )


def test_iceberg_append_preserves_properties_and_refs(
    spark, tmp_path
):
    """Appends rebuild the metadata document — table-level state
    (properties, refs, last-column-id) must ride along, or a single
    INSERT erases SET TBLPROPERTIES and severs the name mapping."""
    import json as _json

    from glue_table_cache_spark.sinks.iceberg_write import (
        set_iceberg_table_properties,
        write_iceberg_append,
    )

    loc = tmp_path / "iprops"
    write_iceberg_append(
        spark.createDataFrame([(1,)], "id long"), str(loc)
    )
    set_iceberg_table_properties(str(loc), {"owner": "me"})
    write_iceberg_append(
        spark.createDataFrame([(2,)], "id long"), str(loc)
    )
    meta = _json.loads(
        max(
            (loc / "metadata").glob("v*.metadata.json"),
            key=lambda p: int(p.name[1:].split(".")[0]),
        ).read_text()
    )
    assert meta["properties"]["owner"] == "me"
    assert meta["last-column-id"] == 1


def test_apply_changes_scd_type2(spark, tmp_path):
    """apply_changes(stored_as_scd_type=2): history versions with
    __START_AT/__END_AT — upserts open a version and close the prior
    one, deletes close without inserting, replay is idempotent, and
    cross-batch LATE actions splice into the middle of a key's
    history (the existing versions are decompiled and the history
    recomputed)."""
    from glue_table_cache_spark.operators.incremental import (
        apply_changes,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    tgt = tmp_path / "scd2"
    write_delta_append(
        spark.createDataFrame(
            [], "id long, v string, __START_AT long, __END_AT long"
        ),
        str(tgt),
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "dim", str(tgt),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)

    def feed(rows):
        return spark.createDataFrame(
            rows,
            "id long, v string, _change_type string, "
            "_commit_version long",
        )

    def hist():
        return sorted(
            (r["id"], r["v"], r["__START_AT"], r["__END_AT"])
            for r in eng.sql("SELECT * FROM glue.db.dim").collect()
        )

    b1 = feed(
        [(1, "a", "insert", 10), (2, "b", "insert", 10)]
    )
    apply_changes(
        eng, "glue.db.dim", b1, ["id"], stored_as_scd_type=2
    )
    assert hist() == [(1, "a", 10, None), (2, "b", 10, None)]
    # update opens a new version and closes the old; delete closes
    # without inserting; preimages are ignored
    b2 = feed(
        [
            (1, "a", "update_preimage", 20),
            (1, "a2", "update_postimage", 20),
            (2, None, "delete", 30),
        ]
    )
    apply_changes(
        eng, "glue.db.dim", b2, ["id"], stored_as_scd_type=2
    )
    expect = [
        (1, "a", 10, 20),
        (1, "a2", 20, None),
        (2, "b", 10, 30),
    ]
    assert hist() == expect
    # idempotent: replaying the same window changes nothing
    apply_changes(
        eng, "glue.db.dim", b2, ["id"], stored_as_scd_type=2
    )
    assert hist() == expect
    # a LATE action with a sequence in the middle splices in: the
    # surrounding versions' bounds adjust, the tail stays
    late = feed([(1, "a15", "update_postimage", 15)])
    apply_changes(
        eng, "glue.db.dim", late, ["id"], stored_as_scd_type=2
    )
    assert hist() == [
        (1, "a", 10, 15),
        (1, "a15", 15, 20),
        (1, "a2", 20, None),
        (2, "b", 10, 30),
    ]
    # out-of-order REPLAY of the full history converges too
    allb = b1.unionByName(b2).unionByName(late)
    apply_changes(
        eng, "glue.db.dim", allb, ["id"], stored_as_scd_type=2
    )
    assert hist() == [
        (1, "a", 10, 15),
        (1, "a15", 15, 20),
        (1, "a2", 20, None),
        (2, "b", 10, 30),
    ]
    # a target without the history columns refuses
    plain = tmp_path / "plain"
    write_delta_append(
        spark.createDataFrame([], "id long, v string"), str(plain)
    )
    store.register_parquet_dir(
        "db", "plain", str(plain),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    with pytest.raises(ValueError, match="__START_AT"):
        apply_changes(
            eng, "glue.db.plain", b1, ["id"], stored_as_scd_type=2
        )


def test_apply_changes_scd_type2_cross_format(spark, tmp_path):
    """SCD2 lands through the same general MERGE as Type 1, so a
    Hudi-sourced changelog can build a Delta dimension — and the
    Iceberg twin of the dimension accepts the same feed."""
    from glue_table_cache_spark.operators.incremental import (
        apply_changes,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    tgt = tmp_path / "scd2i"
    write_iceberg_append(
        spark.createDataFrame(
            [], "id long, v string, __START_AT long, __END_AT long"
        ),
        str(tgt),
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "dim", str(tgt), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    feed = spark.createDataFrame(
        [
            (1, "a", "insert", 1),
            (1, "a2", "update_postimage", 2),
            (1, None, "delete", 3),
        ],
        "id long, v string, _change_type string, "
        "_commit_version long",
    )
    apply_changes(
        eng, "glue.db.dim", feed, ["id"], stored_as_scd_type=2
    )
    assert sorted(
        (r["id"], r["v"], r["__START_AT"], r["__END_AT"])
        for r in eng.sql("SELECT * FROM glue.db.dim").collect()
    ) == [(1, "a", 1, 2), (1, "a2", 2, 3)]


def test_partition_evolving_dml_moves_rows(spark, tmp_path):
    """An UPDATE/MERGE that changes a value FEEDING a partition
    column must MOVE the row between partitions: Delta re-derives
    delta.generationExpression columns on the rewrite (and the staged
    file lands in the new hive dir), Iceberg re-derives the hidden
    transform tuple for the replacement file's manifest entry — in
    both, partition pruning sees the row ONLY in its new home."""
    import datetime as dt
    import json as _json

    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    # --- Delta: generated partition column
    loc = tmp_path / "pevd"
    write_delta_append(
        spark.createDataFrame(
            [
                (1, dt.datetime(2024, 3, 5, 10, 0), dt.date(2024, 3, 5)),
                (2, dt.datetime(2024, 3, 5, 11, 0), dt.date(2024, 3, 5)),
            ],
            "id long, ts timestamp, pdate date",
        ),
        str(loc),
        partition_by=["pdate"],
    )
    commit = loc / "_delta_log" / "00000000000000000000.json"
    out = []
    for line in commit.read_text().splitlines():
        action = _json.loads(line)
        if "metaData" in action:
            schema = _json.loads(action["metaData"]["schemaString"])
            for f in schema["fields"]:
                if f["name"] == "pdate":
                    f.setdefault("metadata", {})[
                        "delta.generationExpression"
                    ] = "CAST(ts AS DATE)"
            action["metaData"]["schemaString"] = _json.dumps(schema)
        out.append(_json.dumps(action))
    commit.write_text("\n".join(out) + "\n")
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    # UPDATE moves id=2 a day forward: pdate must re-derive and the
    # row must physically move partitions
    eng.sql(
        "UPDATE glue.db.t SET ts = TIMESTAMP '2024-03-06 11:00:00' "
        "WHERE id = 2"
    )
    moved = eng.sql(
        "SELECT id FROM glue.db.t WHERE pdate = DATE'2024-03-06'"
    )
    assert [r.id for r in moved.collect()] == [2]
    assert all("pdate=2024-03-06" in f for f in moved.inputFiles())
    stale = eng.sql(
        "SELECT id FROM glue.db.t WHERE pdate = DATE'2024-03-05'"
    )
    assert [r.id for r in stale.collect()] == [1]
    # MERGE through the same rewrite: move id=1 too
    eng.sql(
        "MERGE INTO glue.db.t t USING (SELECT 1 AS id, "
        "TIMESTAMP '2024-03-07 08:00:00' AS ts) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET ts = s.ts"
    )
    got = eng.sql(
        "SELECT id FROM glue.db.t WHERE pdate = DATE'2024-03-07'"
    )
    assert [r.id for r in got.collect()] == [1]
    assert eng.sql(
        "SELECT count(*) AS n FROM glue.db.t "
        "WHERE pdate = DATE'2024-03-05'"
    ).first().n == 0

    # --- Iceberg: hidden (day-transform) partitioning
    iloc = str(tmp_path / "pevi")
    write_iceberg_append(
        spark.createDataFrame(
            [
                (1, dt.date(2024, 1, 1), 10.0),
                (2, dt.date(2024, 1, 1), 20.0),
            ],
            "id long, d date, v double",
        ),
        iloc,
        partition_transforms={"d": "day"},
    )
    ieng = _engine_for(spark, iloc, {"table_type": "ICEBERG"})
    ieng.sql(
        "UPDATE glue.db.t SET d = DATE'2024-02-05' WHERE id = 2"
    )
    # the replacement file's manifest tuple carries the NEW day
    entries, _dl, _e = iceberg_scan_details(iloc)
    upd = [pv for p, pv, _s in entries if "part-upd-" in p]
    assert upd and all(
        pv.get("d_day") in ("2024-02-05", "19758") for pv in upd
    )
    assert sorted(
        (r.id, str(r.d)) for r in ieng.sql(
            "SELECT id, d FROM glue.db.t WHERE d = DATE'2024-02-05'"
        ).collect()
    ) == [(2, "2024-02-05")]
    assert [
        r.id for r in ieng.sql(
            "SELECT id FROM glue.db.t WHERE d = DATE'2024-01-01'"
        ).collect()
    ] == [1]


def test_optimize_iceberg_after_rename_keeps_values(spark, tmp_path):
    """OPTIMIZE on a RENAMED Iceberg table must read/write the files'
    PHYSICAL spelling (the name mapping pins it) — before r11's fix
    the rewrite read the logical name, nulled the column, and
    permanently replaced the data."""
    from glue_table_cache_spark.sinks.iceberg_optimize import (
        optimize_iceberg,
    )
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    loc = tmp_path / "optr"
    for batch in ([(1, 10.0)], [(2, 20.0)]):
        write_iceberg_append(
            spark.createDataFrame(batch, "id long, price double"),
            str(loc),
        )
    eng = _engine_for(spark, loc, {"table_type": "ICEBERG"})
    eng.sql("ALTER TABLE glue.db.t RENAME COLUMN price TO cost")
    optimize_iceberg(spark, str(loc))
    eng.invalidate_table("db", "t")
    assert sorted(
        (r.id, r.cost)
        for r in eng.sql("SELECT * FROM glue.db.t").collect()
    ) == [(1, 10.0), (2, 20.0)]
    # staged files keep the PHYSICAL spelling, so the mapping holds
    import pyarrow.parquet as pq

    newest = max(
        (loc / "data").glob("part-*.parquet"),
        key=lambda p: p.stat().st_mtime,
    )
    assert "price" in pq.ParquetFile(newest).schema_arrow.names
    # DROP + OPTIMIZE: the dropped bytes leave the rewritten files
    eng.sql("ALTER TABLE glue.db.t DROP COLUMN cost")
    optimize_iceberg(spark, str(loc), min_files_per_partition=1)
    eng.invalidate_table("db", "t")
    df = eng.sql("SELECT * FROM glue.db.t")
    assert df.columns == ["id"]
    assert sorted(r.id for r in df.collect()) == [1, 2]
    # changelog windows surface the CURRENT logical names too
    got = eng.sql("SELECT * FROM table_changes(glue.db.t, 1, 2)")
    assert got.columns == ["id", "_change_type", "_commit_version"]


def test_apply_changes_scd2_late_delete_retires_version(
    spark, tmp_path
):
    """A late batch whose delete REPLACES the action that had opened
    a version must remove that version row (the recomputed history
    is not a superset of the existing rows — the MERGE ships kill
    rows)."""
    from glue_table_cache_spark.operators.incremental import (
        apply_changes,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )

    tgt = tmp_path / "scd2k"
    write_delta_append(
        spark.createDataFrame(
            [], "id long, v string, __START_AT long, __END_AT long"
        ),
        str(tgt),
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "dim", str(tgt),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)

    def feed(rows):
        return spark.createDataFrame(
            rows,
            "id long, v string, _change_type string, "
            "_commit_version long",
        )

    apply_changes(
        eng, "glue.db.dim",
        feed([(1, "a", "insert", 5), (1, "b", "update_postimage", 8)]),
        ["id"], stored_as_scd_type=2,
    )
    # late correction: seq 8 was actually a DELETE — the (1, b, 8, ∅)
    # version must retire and (1, a) must CLOSE at 8
    apply_changes(
        eng, "glue.db.dim",
        feed([(1, None, "delete", 8)]),
        ["id"], stored_as_scd_type=2,
    )
    assert sorted(
        (r["id"], r["v"], r["__START_AT"], r["__END_AT"])
        for r in eng.sql("SELECT * FROM glue.db.dim").collect()
    ) == [(1, "a", 5, 8)]


def test_describe_detail_reads_checkpointed_delta_properties(
    spark, tmp_path
):
    """DESCRIBE DETAIL and SHOW TBLPROPERTIES read a Delta table's
    configuration through one reader: after a checkpoint the
    ``metaData.configuration`` map decodes as key/value pairs, and
    both verbs must still answer with the same properties."""
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        write_delta_checkpoint,
    )
    from glue_table_cache_spark.sinks.delta_write import (
        set_delta_table_properties,
        write_delta_append,
    )

    loc = tmp_path / "dt"
    write_delta_append(
        spark.createDataFrame([(1,)], "id long"), str(loc)
    )
    set_delta_table_properties(str(loc), {"owner": "x"})
    write_delta_checkpoint(str(loc))
    eng = _engine_for(
        spark, loc, {"spark.sql.sources.provider": "delta"}
    )
    shown = eng.sql("SHOW TBLPROPERTIES glue.db.t").collect()
    assert [tuple(r) for r in shown] == [("owner", "x")]
    d = eng.sql("DESCRIBE DETAIL glue.db.t").first()
    assert d.format == "delta" and d.properties == {"owner": "x"}


@pytest.fixture(scope="module")
def one_table_per_format(spark, tmp_path_factory):
    """A two-row table of each registered format the refusal matrix
    needs: DELTA, ICEBERG, HUDI (copy-on-write) and partitioned raw
    parquet (HIVE)."""
    from glue_table_cache_spark.catalog import PartitionKey
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sinks.hudi_write import write_hudi_append
    from glue_table_cache_spark.sinks.iceberg_write import (
        write_iceberg_append,
    )

    base = tmp_path_factory.mktemp("refusals")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, p string")
    write_delta_append(df, str(base / "delta"))
    write_iceberg_append(df, str(base / "iceberg"))
    write_hudi_append(df, str(base / "hudi"))
    df.write.partitionBy("p").parquet(str(base / "hive"))
    params = {
        "DELTA": {"spark.sql.sources.provider": "delta"},
        "ICEBERG": {"table_type": "ICEBERG"},
        "HUDI": {"hoodie.table.name": "t"},
        "HIVE": {},
    }
    keys = {"HIVE": [PartitionKey("p")]}
    engines = {}
    for fmt, p in params.items():
        store = LocalMetadataStore()
        store.register_parquet_dir(
            "db", "t", str(base / fmt.lower()),
            partition_keys=keys.get(fmt), parameters=p,
        )
        engines[fmt] = GlueSparkEngine(spark, store)
    return engines, base


@pytest.mark.parametrize(
    "fmt, verb, statement",
    [
        ("ICEBERG", "COPY INTO", "COPY INTO glue.db.t FROM '{base}'"),
        ("HUDI", "COPY INTO", "COPY INTO glue.db.t FROM '{base}'"),
        (
            "ICEBERG", "ADD CONSTRAINT",
            "ALTER TABLE glue.db.t ADD CONSTRAINT c CHECK (id > 0)",
        ),
        ("HUDI", "DROP CONSTRAINT", "ALTER TABLE glue.db.t DROP CONSTRAINT c"),
        (
            "HIVE", "SET TBLPROPERTIES",
            "ALTER TABLE glue.db.t SET TBLPROPERTIES ('k' = 'v')",
        ),
        ("HIVE", "OPTIMIZE", "OPTIMIZE glue.db.t"),
        ("ICEBERG", "OPTIMIZE", "OPTIMIZE glue.db.t WHERE p = 'a'"),
        ("HIVE", "VACUUM", "VACUUM glue.db.t"),
        ("HIVE", "RESTORE", "RESTORE TABLE glue.db.t TO VERSION AS OF 0"),
        (
            "ICEBERG", "RESTORE",
            "RESTORE TABLE glue.db.t TO TIMESTAMP AS OF '2020-01-01'",
        ),
        ("HIVE", "INSERT", "INSERT INTO glue.db.t VALUES (9, 'z')"),
        ("HIVE", "DELETE", "DELETE FROM glue.db.t WHERE id = 1"),
        ("HIVE", "UPDATE", "UPDATE glue.db.t SET id = 0 WHERE id = 1"),
        (
            "HIVE", "MERGE",
            "MERGE INTO glue.db.t AS t USING (SELECT 1 AS id) s "
            "ON t.id = s.id WHEN MATCHED THEN DELETE",
        ),
        ("HUDI", "RENAME COLUMN", "ALTER TABLE glue.db.t RENAME COLUMN id TO k"),
        ("HIVE", "DROP COLUMN", "ALTER TABLE glue.db.t DROP COLUMN id"),
        ("HUDI", "REORG", "REORG TABLE glue.db.t APPLY (PURGE)"),
        ("ICEBERG", "FSCK", "FSCK REPAIR TABLE glue.db.t"),
        ("DELTA", "CREATE TAG", "ALTER TABLE glue.db.t CREATE TAG v1"),
        ("HUDI", "DROP BRANCH", "ALTER TABLE glue.db.t DROP BRANCH b"),
        ("HIVE", "DESCRIBE HISTORY", "DESCRIBE HISTORY glue.db.t"),
        ("HIVE", "SHOW TBLPROPERTIES", "SHOW TBLPROPERTIES glue.db.t"),
    ],
)
def test_statement_refuses_on_format(
    one_table_per_format, fmt, verb, statement
):
    """Every (statement, registered format) pair without a writer
    refuses loudly, naming the verb and the table's format, and
    writes nothing."""
    engines, base = one_table_per_format
    eng = engines[fmt]
    ttype = eng.get_table_metadata_cached("db", "t").table_type
    assert ttype.name == fmt
    with pytest.raises(GlueSparkError) as err:
        eng.sql(statement.format(base=base / "delta")).collect()
    assert verb in str(err.value) and fmt in str(err.value)


def test_format_dispatch_table_integrity():
    """Every ``"module:function"`` entry of the verb table imports and
    is callable, and every (verb, format) pair either has an entry or
    refuses naming both — a misspelled entry would otherwise surface
    only at the first statement that uses it.  Needs no Spark."""
    from glue_table_cache_spark.catalog import ETableType
    from glue_table_cache_spark.engine import _HUDI_MOR_WRITERS
    from glue_table_cache_spark.formats import VERBS, for_format

    for verb, (reason, entries) in VERBS.items():
        assert reason is None or reason.strip(), verb
        for ttype in ETableType:
            if ttype in entries:
                assert callable(for_format(verb, ttype, "glue.db.t")), (
                    verb, ttype,
                )
            elif reason is None:
                assert for_format(verb, ttype, "glue.db.t") is None
            else:
                with pytest.raises(GlueSparkError) as err:
                    for_format(verb, ttype, "glue.db.t")
                assert verb in str(err.value)
                assert ttype.name in str(err.value)
    # the Hudi MERGE_ON_READ writers cover the row-level verbs they
    # replace and exist on the engine
    for verb, method in _HUDI_MOR_WRITERS.items():
        assert ETableType.HUDI in VERBS[verb][1]
        assert callable(getattr(GlueSparkEngine, method))
