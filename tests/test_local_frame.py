"""``local_frame``: the package's one way to turn driver-built rows into
a DataFrame.  It must answer exactly as ``createDataFrame(<python
list>)`` did (rows, schema, nullability) while Spark plans it as a
``LocalRelation``, and nothing in the package may bypass it."""

from __future__ import annotations

import ast
import datetime as dt
import time
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from glue_table_cache_spark.catalog import LocalMetadataStore
from glue_table_cache_spark.engine import GlueSparkEngine
from glue_table_cache_spark.session import local_frame

PACKAGE = Path(__file__).resolve().parents[1] / "glue_table_cache_spark"


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def assert_local_and_list_frames_equal(spark, rows, schema, list_rows=None):
    """``local_frame(rows)`` equals ``createDataFrame(list_rows or
    rows)`` in ``collect()`` and ``schema`` (nullability included),
    and plans as a ``LocalRelation``."""
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(
        rows if list_rows is None else list_rows, schema
    )
    assert got.schema == want.schema
    assert [f.nullable for f in got.schema.fields] == [
        f.nullable for f in want.schema.fields
    ]
    assert got.collect() == want.collect()
    plan = _plan(got)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    return got


SCALARS = (
    "s string, i int, l long, d double, b boolean, bin binary, "
    "av array<double>, as_ array<string>, m map<string,string>"
)


def test_scalar_and_nested_types(spark):
    rows = [
        ("a", 1, 1 << 40, 1.5, True, b"\x00\x01", [1.0, -2.5], ["x"],
         {"k": "v"}),
        ("", -7, -1, -0.0, False, b"", [], [], {}),
        (None, None, None, None, None, None, None, None, None),
        ("ü", 0, 0, 1e300, True, b"z", [None, 3.0], [None], {"k": None}),
    ]
    assert_local_and_list_frames_equal(spark, rows, SCALARS)


def test_numpy_vectors(spark):
    """Codebook and centroid rows may carry numpy vectors; they read
    back as the plain lists the list path takes."""
    vecs = [np.array([0.5, 1.25]), np.zeros(2), np.arange(2.0)]
    rows = [(i, 0, v) for i, v in enumerate(vecs)]
    assert_local_and_list_frames_equal(
        spark,
        rows,
        "s int, c int, bv array<double>",
        list_rows=[(i, c, v.tolist()) for i, c, v in rows],
    )


def test_zero_rows(spark):
    for schema in (SCALARS, "committed_at timestamp, n long"):
        df = assert_local_and_list_frames_equal(spark, [], schema)
        assert df.count() == 0


def test_non_nullable_field(spark):
    schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("v", LongType(), True),
        ]
    )
    assert_local_and_list_frames_equal(
        spark, [("a", 1), ("b", None)], schema
    )
    with pytest.raises(Exception):
        spark.createDataFrame([(None, 1)], schema).collect()
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None, 1)], schema)


def test_non_string_values_in_string_columns(spark):
    """The list path stores any object in a string column as its JVM
    ``toString``; partition-value routes rely on it."""
    assert_local_and_list_frames_equal(
        spark, [(3, "x"), (True, None), (None, "y")], "p string, f string"
    )


@pytest.fixture
def non_utc_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_timestamps_under_non_utc_tz(spark, non_utc_tz):
    """A naive datetime means local wall time on both paths, an aware
    one its instant — checked where local time is not UTC."""
    assert time.timezone != 0
    rows = [
        (dt.datetime(2024, 1, 2, 3, 4, 5, 678901), 1),
        (dt.datetime(2024, 7, 1, 23, 30), 2),
        (dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc), 3),
        (
            dt.datetime(
                2024, 3, 10, 12, 0,
                tzinfo=dt.timezone(dt.timedelta(hours=5, minutes=30)),
            ),
            4,
        ),
        (None, 5),
    ]
    assert_local_and_list_frames_equal(
        spark, rows, "committed_at timestamp, n long"
    )


def test_rows_must_match_the_schema(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1), ("b",)], "s string, n long")
    with pytest.raises(ValueError):
        local_frame(spark, [("a",)], "s string, n long")


# -- the single path ---------------------------------------------------------


def _create_dataframe_calls(tree: ast.AST):
    """(enclosing function name, line) of every ``.createDataFrame(``
    call in ``tree``."""
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                found.append((name, child.lineno))
            visit(child, name)

    visit(tree, None)
    return found


def test_package_builds_frames_only_through_local_frame():
    stray = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line in _create_dataframe_calls(
            ast.parse(path.read_text(), filename=str(path))
        ):
            if not (rel == "session.py" and fn == "local_frame"):
                stray.append(f"{rel}:{line} (in {fn})")
    assert stray == [], "createDataFrame outside local_frame: " + ", ".join(
        stray
    )


def test_dml_metrics_and_dv_mask_plan_as_local_relations(spark, tmp_path):
    """The metrics frame of an INSERT and a DELETE, and the
    deletion-vector mask of the Delta read after the DELETE, are local
    relations: no Python-worker RDD anywhere in their plans."""
    from glue_table_cache_spark.sinks.delta_write import write_delta_append

    loc = tmp_path / "dt"
    write_delta_append(
        spark.createDataFrame(
            [(i, "keep" if i % 2 else "junk") for i in range(10)],
            "id long, tag string",
        ),
        str(loc),
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    for stmt, op in (
        ("INSERT INTO glue.db.t VALUES (10, 'keep')", "INSERT"),
        ("DELETE FROM glue.db.t WHERE tag = 'junk'", "DELETE"),
    ):
        metrics = eng.sql(stmt)
        plan = _plan(metrics)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
        assert metrics.first().operation == op
    read = eng.sql("SELECT id FROM glue.db.t")
    plan = _plan(read)
    # the DELETE wrote a deletion vector: the read joins its mask
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert sorted(r.id for r in read.collect()) == [
        1, 3, 5, 7, 9, 10
    ]


def test_manifest_path_list_plans_as_local_relation(
    spark, tmp_path, monkeypatch
):
    """The forced-distributed Iceberg walk feeds ``mapInPandas`` from
    a local relation of manifest paths."""
    import glue_table_cache_spark.sources.iceberg as ice
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )

    base = build_iceberg_table(
        tmp_path / "ice",
        [
            spark.createDataFrame([(1, "a")], "id long, v string"),
            spark.createDataFrame([(2, "b")], "id long, v string"),
        ],
    )
    frames = []

    def spy(spark_, rows, schema):
        df = local_frame(spark_, rows, schema)
        frames.append(df)
        return df

    monkeypatch.setattr(ice, "local_frame", spy)
    monkeypatch.setattr(ice, "DISTRIBUTED_MANIFEST_MIN_BYTES", 0)
    entries, _pos, _eq = ice.iceberg_scan_details(str(base))
    assert len(entries) == 2
    assert len(frames) == 1
    assert frames[0].columns == ["path"]
    plan = _plan(frames[0])
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
