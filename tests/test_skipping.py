"""Zone-map data skipping: evaluator soundness + stats providers.

The load-bearing property: :func:`may_match` may return ``False`` ONLY
for files provably free of matching rows.  The hypothesis test below
checks it against a brute-force SQL three-valued row evaluator for
random data and random predicate trees — the same oracle posture as
``test_pruning_properties``.
"""

from __future__ import annotations

from datetime import date, datetime
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from glue_table_cache_spark.pruning import (
    And,
    Comparison,
    InList,
    Not,
    Or,
    TruePredicate,
)
from glue_table_cache_spark.skipping import (
    FileStats,
    decode_iceberg_bound,
    delta_file_stats,
    may_match,
    parquet_footer_stats,
    skip_files,
)

# --------------------------------------------------------------------
# Brute-force row oracle (SQL three-valued semantics over typed rows)
# --------------------------------------------------------------------

_PY_OPS = {
    "COMPARE_EQUAL": lambda a, b: a == b,
    "COMPARE_NOTEQUAL": lambda a, b: a != b,
    "COMPARE_GREATERTHAN": lambda a, b: a > b,
    "COMPARE_LESSTHAN": lambda a, b: a < b,
    "COMPARE_GREATERTHANOREQUALTO": lambda a, b: a >= b,
    "COMPARE_LESSTHANOREQUALTO": lambda a, b: a <= b,
}


def _row_eval(pred, row: dict) -> bool | None:
    if isinstance(pred, TruePredicate):
        return True
    if isinstance(pred, Comparison):
        v = row.get(pred.column)
        if v is None:
            return None
        return _PY_OPS[pred.op](v, pred.const)
    if isinstance(pred, InList):
        v = row.get(pred.column)
        if v is None:
            return None
        hit = v in pred.consts
        return (not hit) if pred.negated else hit
    if isinstance(pred, And):
        res = [_row_eval(c, row) for c in pred.children]
        if any(r is False for r in res):
            return False
        return None if any(r is None for r in res) else True
    if isinstance(pred, Or):
        res = [_row_eval(c, row) for c in pred.children]
        if any(r is True for r in res):
            return True
        return None if any(r is None for r in res) else False
    if isinstance(pred, Not):
        r = _row_eval(pred.child, row)
        return None if r is None else (not r)
    raise AssertionError(type(pred))


def _stats_for(rows: list[dict], cols: list[str]) -> FileStats:
    mins, maxs, nulls = {}, {}, {}
    for c in cols:
        vals = [r[c] for r in rows if r.get(c) is not None]
        nulls[c] = len(rows) - len(vals)
        if vals:
            mins[c] = min(vals)
            maxs[c] = max(vals)
    return FileStats.build(len(rows), mins, maxs, nulls)


_ops = st.sampled_from(list(_PY_OPS))
_col = st.sampled_from(["a", "b"])
_const = st.integers(-5, 5)


def _preds(depth: int):
    leaf = st.one_of(
        st.builds(Comparison, _col, _ops, _const),
        st.builds(
            InList,
            _col,
            st.lists(_const, min_size=1, max_size=3).map(tuple),
            st.booleans(),
        ),
    )
    if depth == 0:
        return leaf
    sub = _preds(depth - 1)
    return st.one_of(
        leaf,
        st.builds(Not, sub),
        st.builds(And, st.lists(sub, min_size=1, max_size=3).map(tuple)),
        st.builds(Or, st.lists(sub, min_size=1, max_size=3).map(tuple)),
    )


@settings(max_examples=300, deadline=None)
@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {
                "a": st.one_of(st.none(), st.integers(-5, 5)),
                "b": st.one_of(st.none(), st.integers(-5, 5)),
            }
        ),
        max_size=8,
    ),
    pred=_preds(2),
)
def test_may_match_never_drops_a_matching_file(rows, pred):
    stats = _stats_for(rows, ["a", "b"])
    if any(_row_eval(pred, r) is True for r in rows):
        assert may_match(pred, stats)


def test_drops_out_of_range_and_all_null_and_empty():
    st_ = FileStats.build(
        10, {"x": 100, "s": "m"}, {"x": 200, "s": "p"}, {"x": 0, "y": 10}
    )
    assert not may_match(Comparison("x", "COMPARE_EQUAL", 50), st_)
    assert not may_match(Comparison("x", "COMPARE_GREATERTHAN", 200), st_)
    assert not may_match(Comparison("x", "COMPARE_LESSTHAN", 100), st_)
    assert may_match(Comparison("x", "COMPARE_LESSTHANOREQUALTO", 100), st_)
    # y is entirely null: no comparison can match it
    assert not may_match(Comparison("y", "COMPARE_NOTEQUAL", 1), st_)
    # string range checks work; equality-point inference must not
    assert not may_match(Comparison("s", "COMPARE_GREATERTHAN", "q"), st_)
    assert may_match(Comparison("s", "COMPARE_EQUAL", "n"), st_)
    point = FileStats.build(5, {"s": "abc"}, {"s": "abc"}, {})
    # min == max == const is NOT trusted for strings (truncated bounds)
    assert may_match(Comparison("s", "COMPARE_NOTEQUAL", "abc"), point)
    ipoint = FileStats.build(5, {"x": 7}, {"x": 7}, {})
    assert not may_match(Comparison("x", "COMPARE_NOTEQUAL", 7), ipoint)
    empty = FileStats.build(0, {}, {}, {})
    assert not may_match(TruePredicate(), empty)
    # missing stats keep the file
    assert may_match(Comparison("z", "COMPARE_EQUAL", 1), st_)


def test_not_and_or_and_inlist_soundness_points():
    st_ = FileStats.build(10, {"x": 5}, {"x": 9}, {"x": 0})
    # NOT(x >= 5) needs a row with x < 5: provably none
    assert not may_match(
        Not(Comparison("x", "COMPARE_GREATERTHANOREQUALTO", 5)), st_
    )
    # with nulls present the rows could be NULL, but NOT(NULL) is not
    # TRUE either, so the drop is still sound
    st_nulls = FileStats.build(10, {"x": 5}, {"x": 9}, {"x": 3})
    assert not may_match(
        Not(Comparison("x", "COMPARE_GREATERTHANOREQUALTO", 5)), st_nulls
    )
    assert not may_match(
        InList("x", (1, 2, 3), negated=False), st_
    )
    assert not may_match(
        Or(
            (
                Comparison("x", "COMPARE_LESSTHAN", 5),
                Comparison("x", "COMPARE_GREATERTHAN", 9),
            )
        ),
        st_,
    )
    assert not may_match(
        And(
            (
                Comparison("x", "COMPARE_GREATERTHAN", 0),
                Comparison("x", "COMPARE_GREATERTHAN", 9),
            )
        ),
        st_,
    )
    # NOT IN over the single-point file drops
    pt = FileStats.build(4, {"x": 3}, {"x": 3}, {"x": 0})
    assert not may_match(InList("x", (3,), negated=True), pt)
    assert may_match(InList("x", (2,), negated=True), pt)


def test_temporal_comparisons():
    st_ = FileStats.build(
        10,
        {"d": "2024-01-10", "t": "2024-01-10T05:00:00.000Z"},
        {"d": "2024-03-01", "t": "2024-03-01T05:00:00.000Z"},
        {},
    )
    assert not may_match(
        Comparison("d", "COMPARE_LESSTHAN", "2024-01-10"), st_
    )
    assert may_match(
        Comparison("d", "COMPARE_GREATERTHAN", "2024-02-20"), st_
    )
    assert not may_match(
        Comparison("d", "COMPARE_GREATERTHAN", "2024-03-01"), st_
    )
    # tz-aware stat vs naive-looking constant: date-only const against
    # datetime stats is ambiguous -> keep
    assert may_match(Comparison("t", "COMPARE_LESSTHAN", "2024-01-01"), st_)
    # aware vs aware compares for real
    assert not may_match(
        Comparison(
            "t", "COMPARE_LESSTHAN", "2024-01-01 00:00:00+00:00"
        ),
        st_,
    )
    # typed date stats (iceberg/parquet) against string constants
    st_typed = FileStats.build(
        10, {"d": date(2024, 1, 10)}, {"d": date(2024, 3, 1)}, {}
    )
    assert not may_match(
        Comparison("d", "COMPARE_LESSTHAN", "2024-01-10"), st_typed
    )
    assert may_match(
        Comparison("d", "COMPARE_EQUAL", "2024-02-02"), st_typed
    )


def test_mixed_type_constants_keep():
    st_ = FileStats.build(10, {"x": 1, "s": "a"}, {"x": 9, "s": "b"}, {})
    # numeric column vs string constant (and vice versa) -> keep
    assert may_match(Comparison("x", "COMPARE_EQUAL", "zzz"), st_)
    assert may_match(Comparison("s", "COMPARE_EQUAL", 42), st_)
    # bool constants only compare to bool stats
    assert may_match(Comparison("x", "COMPARE_EQUAL", True), st_)
    bst = FileStats.build(10, {"f": False}, {"f": False}, {"f": 0})
    assert not may_match(Comparison("f", "COMPARE_EQUAL", True), bst)


def test_delta_file_stats_parsing():
    js = (
        '{"numRecords": 3, "minValues": {"x": 1, "s": "a", '
        '"nested": {"y": 1}}, "maxValues": {"x": 7, "s": "c"}, '
        '"nullCount": {"x": 0, "s": 1}}'
    )
    st_ = delta_file_stats(js)
    assert st_.num_records == 3
    assert st_.min_values == {"x": 1, "s": "a"}
    assert st_.max_values == {"x": 7, "s": "c"}
    assert st_.null_counts == {"x": 0, "s": 1}
    assert delta_file_stats(None) is None
    assert delta_file_stats("not json") is None
    assert delta_file_stats('"just a string"') is None


def test_skip_files_keeps_statless():
    pred = Comparison("x", "COMPARE_GREATERTHAN", 10)
    entries = [
        ("a", FileStats.build(5, {"x": 0}, {"x": 5}, {})),
        ("b", FileStats.build(5, {"x": 8}, {"x": 20}, {})),
        ("c", None),
    ]
    assert skip_files(entries, pred) == {"b", "c"}


def test_decode_iceberg_bounds():
    import struct as s

    assert decode_iceberg_bound("int", s.pack("<i", -7)) == -7
    assert decode_iceberg_bound("long", s.pack("<q", 1 << 40)) == 1 << 40
    assert decode_iceberg_bound("double", s.pack("<d", 2.5)) == 2.5
    assert abs(decode_iceberg_bound("float", s.pack("<f", 0.5)) - 0.5) < 1e-9
    assert decode_iceberg_bound("string", "héllo".encode()) == "héllo"
    assert decode_iceberg_bound("boolean", b"\x01") is True
    assert decode_iceberg_bound("date", s.pack("<i", 19723)) == date(
        2024, 1, 1
    )
    ts = decode_iceberg_bound("timestamp", s.pack("<q", 86_400_000_000))
    assert ts == datetime(1970, 1, 2)
    dec = decode_iceberg_bound("decimal(9,2)", (12345).to_bytes(4, "big"))
    assert dec == Decimal("123.45")
    assert decode_iceberg_bound("uuid", b"\x00" * 16) is None
    assert decode_iceberg_bound("int", b"\x00") is None  # malformed


def test_parquet_footer_stats(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "x": pa.array([5, None, 9], pa.int64()),
            "s": pa.array(["b", "a", None], pa.string()),
            "d": pa.array([date(2024, 1, 1), date(2024, 2, 1), None]),
        }
    )
    p = tmp_path / "f.parquet"
    pq.write_table(t, p, row_group_size=2)
    st_ = parquet_footer_stats(str(p))
    assert st_.num_records == 3
    assert st_.min_values["x"] == 5 and st_.max_values["x"] == 9
    assert st_.min_values["s"] == "a" and st_.max_values["s"] == "b"
    assert st_.null_counts["x"] == 1 and st_.null_counts["s"] == 1
    assert st_.min_values["d"] == date(2024, 1, 1)
    assert not may_match(Comparison("x", "COMPARE_GREATERTHAN", 9), st_)
    assert may_match(Comparison("x", "COMPARE_GREATERTHAN", 8), st_)
    assert parquet_footer_stats(str(tmp_path / "missing.parquet")) is None


@settings(max_examples=120, deadline=None)
@given(
    rows=st.lists(
        st.one_of(st.none(), st.integers(-1000, 1000)), max_size=6
    ),
    op=_ops,
    const=st.integers(-1000, 1000),
)
def test_footer_stats_sound_against_real_parquet(tmp_path_factory, rows, op, const):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tmp_path_factory.mktemp("fp")
    t = pa.table({"v": pa.array(rows, pa.int64())})
    p = tmp / "f.parquet"
    pq.write_table(t, p, row_group_size=3)
    st_ = parquet_footer_stats(str(p))
    pred = Comparison("v", op, const)
    satisfied = any(
        r is not None and _PY_OPS[op](r, const) for r in rows
    )
    if satisfied:
        assert may_match(pred, st_)


# --------------------------------------------------------------------
# Engine integration: files provably outside the predicate never reach
# the scan, and results stay byte-identical to the unskipped plan
# --------------------------------------------------------------------


@pytest.fixture()
def _delta_ranges(spark, tmp_path):
    from glue_table_cache_spark.sources.delta_fixture import (
        build_delta_table,
    )

    lo = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    mid = spark.createDataFrame([(3, "c")], "id long, v string")
    hi = spark.createDataFrame([(4, "d"), (5, "e")], "id long, v string")
    base = build_delta_table(
        tmp_path / "dt", [{"add": [lo, mid, hi]}]
    )
    from glue_table_cache_spark.catalog import LocalMetadataStore

    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "dt", str(base),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    return store


def test_engine_delta_zone_map_skipping(spark, _delta_ranges):
    from glue_table_cache_spark import GlueSparkEngine
    from glue_table_cache_spark.config import EngineConfig

    eng = GlueSparkEngine(spark, _delta_ranges)
    out = eng.sql("SELECT id FROM glue.db.dt WHERE id >= 4 ORDER BY id")
    assert [r.id for r in out.collect()] == [4, 5]
    assert len(out.inputFiles()) == 1  # lo and mid files never scanned

    # OR across two stats columns: only the provably-impossible file
    # is dropped
    out = eng.sql(
        "SELECT id FROM glue.db.dt WHERE id = 1 OR v = 'c' ORDER BY id"
    )
    assert [r.id for r in out.collect()] == [1, 3]
    assert len(out.inputFiles()) == 2

    # parity: the skipped plan returns exactly what the unskipped
    # plan returns
    eng_off = GlueSparkEngine(
        spark, _delta_ranges, config=EngineConfig(stats_skipping=False)
    )
    q = "SELECT * FROM glue.db.dt WHERE id > 2 AND v < 'e'"
    assert sorted(map(tuple, eng.sql(q).collect())) == sorted(
        map(tuple, eng_off.sql(q).collect())
    )
    assert len(eng_off.sql(q).inputFiles()) == 3


def test_engine_footer_skipping_hive_explicit(spark, tmp_path):
    from glue_table_cache_spark import GlueSparkEngine
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.config import EngineConfig

    base = tmp_path / "plain"
    for i, rng in enumerate([(0, 100), (100, 200), (200, 300)]):
        spark.createDataFrame(
            [(x, f"r{x}") for x in range(*rng)], "x long, s string"
        ).coalesce(1).write.mode("append").parquet(str(base))
    store = LocalMetadataStore()
    store.register_parquet_dir("db", "plain", str(base))
    eng = GlueSparkEngine(
        spark,
        store,
        config=EngineConfig(footer_stats_skipping=True),
    )
    out = eng.sql(
        "SELECT count(*) AS n FROM glue.db.plain WHERE x BETWEEN 40 AND 60"
    )
    assert out.collect()[0].n == 21
    probe = eng.sql("SELECT x FROM glue.db.plain WHERE x BETWEEN 40 AND 60")
    assert len(probe.inputFiles()) == 1
    # default config never reads footers and scans everything
    eng_off = GlueSparkEngine(spark, store)
    probe_off = eng_off.sql(
        "SELECT x FROM glue.db.plain WHERE x BETWEEN 40 AND 60"
    )
    assert len(probe_off.inputFiles()) == 3
    assert sorted(r.x for r in probe.collect()) == sorted(
        r.x for r in probe_off.collect()
    )


def test_engine_iceberg_manifest_bounds_skipping(spark, tmp_path):
    from glue_table_cache_spark import GlueSparkEngine
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.config import EngineConfig
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )

    lo = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    hi = spark.createDataFrame(
        [(40, "x"), (50, "y")], "id long, v string"
    )
    base = build_iceberg_table(tmp_path / "it", [lo, hi])
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "it", str(base), parameters={"table_type": "ICEBERG"}
    )
    eng = GlueSparkEngine(spark, store)
    out = eng.sql("SELECT id FROM glue.db.it WHERE id < 10 ORDER BY id")
    assert [r.id for r in out.collect()] == [1, 2]
    assert len(out.inputFiles()) == 1
    # string bounds skip too
    out2 = eng.sql("SELECT id FROM glue.db.it WHERE v >= 'x'")
    assert sorted(r.id for r in out2.collect()) == [40, 50]
    assert len(out2.inputFiles()) == 1
    # parity with skipping off
    off = GlueSparkEngine(
        spark, store, config=EngineConfig(stats_skipping=False)
    )
    q = "SELECT * FROM glue.db.it WHERE id > 30"
    assert sorted(map(tuple, eng.sql(q).collect())) == sorted(
        map(tuple, off.sql(q).collect())
    )
