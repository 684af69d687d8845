"""Parquet-footer zone-map skipping on the plain-parquet read paths.

Hive, projection and Hudi COPY_ON_WRITE tables skip files by the
min/max ranges in their parquet footers, on by default.  Each table
below holds several files with sorted, disjoint ``id`` windows, so a
range predicate on ``id`` rules most of them out.  Every skipped
answer is compared with the ``stats_skipping=False`` answer, and the
skipped scan's files with the unskipped scan's.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from glue_table_cache_spark import GlueSparkEngine
from glue_table_cache_spark import skipping
from glue_table_cache_spark.catalog import LocalMetadataStore, PartitionKey
from glue_table_cache_spark.config import EngineConfig

FILES = 4
ROWS = 5


def _rows(p: int, f: int) -> pa.Table:
    """File ``f`` of partition ``p``: ids sorted inside the file's own
    window of 100, so footers separate the files."""
    base = p * 1000 + f * 100
    ids = [base + 3 * i for i in range(ROWS)]
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "v": pa.array([i % 7 for i in ids], pa.int64()),
        }
    )


def _write_lake(root, name: str) -> None:
    """Partitions 0 and 1, ``FILES`` files each, under ``p=<p>/``
    (Hive) or ``<p>/`` (projection)."""
    for p in (0, 1):
        part = root / (f"p={p}" if name == "hive" else str(p))
        part.mkdir(parents=True)
        for f in range(FILES):
            pq.write_table(_rows(p, f), part / f"part-{f:05d}.parquet")


def _store(tmp_path) -> LocalMetadataStore:
    store = LocalMetadataStore()
    pk = [PartitionKey("p", "int")]
    _write_lake(tmp_path / "hive", "hive")
    store.register_parquet_dir("db", "hive", str(tmp_path / "hive"), pk)
    _write_lake(tmp_path / "proj", "proj")
    store.register_parquet_dir(
        "db",
        "proj",
        str(tmp_path / "proj"),
        pk,
        {
            "projection.enabled": "true",
            "projection.p.type": "integer",
            "projection.p.range": "0,1",
        },
    )
    return store


@pytest.fixture()
def footer_reads(monkeypatch):
    """Paths whose footer the engine reads, in order."""
    seen: list[str] = []
    real = skipping.parquet_footer_stats

    def counting(path, s3_client=None, columns=None):
        seen.append(path)
        return real(path, s3_client, columns)

    monkeypatch.setattr(skipping, "parquet_footer_stats", counting)
    return seen


POINT = (
    "SELECT id, v FROM glue.db.{t} WHERE p = 1 AND id BETWEEN 1100 AND 1203"
)


@pytest.mark.parametrize("table", ["hive", "proj"])
def test_footer_memo_and_gate(spark, tmp_path, footer_reads, table):
    eng = GlueSparkEngine(spark, _store(tmp_path))
    # partition keys alone: pruning decides, no footer is read
    only_keys = eng.sql(f"SELECT id FROM glue.db.{table} WHERE p = 1")
    assert only_keys.count() == FILES * ROWS
    assert footer_reads == []
    # a data-column predicate reads the partition survivors' footers
    out = eng.sql(POINT.format(t=table))
    assert sorted(r.id for r in out.collect()) == [
        1100, 1103, 1106, 1109, 1112, 1200, 1203,
    ]
    assert len(footer_reads) == FILES
    assert {p.rsplit("/", 2)[1] for p in footer_reads} == {
        "p=1" if table == "hive" else "1"
    }
    # a warm repeat reads none
    footer_reads.clear()
    assert len(eng.sql(POINT.format(t=table)).inputFiles()) == 2
    assert footer_reads == []
    # invalidate_table drops the memo with the listing
    eng.invalidate_table("db", table)
    assert len(eng.sql(POINT.format(t=table)).inputFiles()) == 2
    assert len(footer_reads) == FILES


def _twin(spark, store, sql):
    """Rows with footer skipping and without it, then the input files
    of each."""
    on = GlueSparkEngine(spark, store).sql(sql)
    off = GlueSparkEngine(
        spark, store, config=EngineConfig(stats_skipping=False)
    ).sql(sql)
    return (
        sorted(map(tuple, on.collect())),
        sorted(map(tuple, off.collect())),
        set(on.inputFiles()),
        set(off.inputFiles()),
    )


@pytest.mark.parametrize(
    "where",
    [
        "p = 1 AND id BETWEEN 1100 AND 1203",
        "id < 150",
        "id >= 1300 OR id = 6",
        "p = 0 AND v = 3 AND id > 250",
        "id > 5000",
        # decimal literals: 1.0 must not read as 10, nor 150.5 as 1505
        "p = 1.0 AND id > 1250",
        "id < 150.5",
    ],
)
@pytest.mark.parametrize("table", ["hive", "proj"])
def test_footer_skipping_matches_unskipped(spark, tmp_path, table, where):
    rows_on, rows_off, files_on, files_off = _twin(
        spark, _store(tmp_path), f"SELECT * FROM glue.db.{table} WHERE {where}"
    )
    assert rows_on == rows_off
    assert files_on < files_off


def _hudi_frames(spark, p: int):
    return {
        f"fg{p}-{f}": spark.createDataFrame(_rows(p, f).to_pandas())
        for f in range(FILES)
    }


def test_hudi_cow_footer_skipping_matches_unskipped(spark, tmp_path):
    from glue_table_cache_spark.sources.hudi_fixture import build_hudi_table

    base = build_hudi_table(
        tmp_path / "cow",
        [
            {"write": _hudi_frames(spark, 0), "partition": "p=0"},
            {"write": _hudi_frames(spark, 1), "partition": "p=1"},
        ],
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "cow", str(base),
        parameters={"spark.sql.sources.provider": "hudi"},
    )
    for where in ("p = 1 AND id BETWEEN 1100 AND 1203", "id < 150"):
        rows_on, rows_off, files_on, files_off = _twin(
            spark, store, f"SELECT id, v FROM glue.db.cow WHERE {where}"
        )
        assert rows_on == rows_off and rows_on
        assert files_on < files_off


def test_hudi_mor_is_not_footer_skipped(spark, tmp_path, footer_reads):
    """A log update moves id 1's ``v`` from 1 into ``v > 100``, which
    its base file's footer rules out: the row must still come back."""
    from glue_table_cache_spark.sources.hudi_fixture import build_hudi_table
    from glue_table_cache_spark.sources.hudi_log import data_block

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["null", "long"]},
        ],
    }
    lo = spark.createDataFrame([(1, 1), (2, 2)], "id long, v long")
    hi = spark.createDataFrame([(10, 200), (11, 300)], "id long, v long")
    base = build_hudi_table(
        tmp_path / "mor",
        [
            {"write": {"fg1": lo, "fg2": hi}},
            {"log": {"fg1": data_block(
                "20240101000001", schema, [{"id": 1, "v": 500}]
            )}},
        ],
        table_type="MERGE_ON_READ",
    )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "mor", str(base),
        parameters={
            "spark.sql.sources.provider": "hudi",
            "hoodie.table.recordkey.fields": "id",
        },
    )
    out = GlueSparkEngine(spark, store).sql(
        "SELECT id, v FROM glue.db.mor WHERE v > 100"
    )
    assert sorted((r.id, r.v) for r in out.collect()) == [
        (1, 500), (10, 200), (11, 300),
    ]
    assert footer_reads == []


def test_partition_key_column_in_files_is_not_skipped_on(spark, tmp_path):
    """A file may carry a column named like a partition key with other
    values; the table's value is the path's, so footers never skip on
    it."""
    base = tmp_path / "stale"
    for p in (1, 2):
        (base / f"p={p}").mkdir(parents=True)
        pq.write_table(
            pa.table({"id": [p, p + 10], "p": [7, 7]}),
            base / f"p={p}" / "a.parquet",
        )
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "stale", str(base), [PartitionKey("p", "int")]
    )
    rows_on, rows_off, files_on, files_off = _twin(
        spark, store, "SELECT id, p FROM glue.db.stale WHERE p <= 2 AND id > 0"
    )
    assert rows_on == rows_off == [(1, 1), (2, 2), (11, 1), (12, 2)]
    assert files_on == files_off


def test_footer_memo_under_concurrent_statements(spark, tmp_path):
    """Statements share one memo per table: threads racing to fill it
    (more threads than cores, a short switch interval) each still get
    one footer per file, in file order."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from glue_table_cache_spark.listing import FileInfo

    store = _store(tmp_path)
    tbl = store.get_table("db", "hive")
    files = [
        FileInfo(str(p), {"p": p.parent.name[2:]})
        for p in sorted((tmp_path / "hive").rglob("*.parquet"))
    ]
    want = [skipping.parquet_footer_stats(f.path) for f in files]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(5):
            eng = GlueSparkEngine(spark, store)
            stats = eng._footer_stats(tbl)
            with ThreadPoolExecutor(max_workers=16) as pool:
                futures = [pool.submit(stats, files) for _ in range(32)]
                got = [f.result(timeout=60) for f in futures]
            assert all(g == want for g in got)
    finally:
        sys.setswitchinterval(old)


def test_local_file_rewritten_in_place_is_read_again(
    spark, tmp_path, footer_reads
):
    """The memo keys a local file by a fresh stat: a file rewritten
    under its old name, with rows now in range, is read again without
    ``invalidate_table`` and its rows come back."""
    store = _store(tmp_path)
    eng = GlueSparkEngine(spark, store)
    sql = "SELECT id FROM glue.db.hive WHERE p = 1 AND id BETWEEN 1100 AND 1112"
    assert sorted(r.id for r in eng.sql(sql).collect()) == [
        1100, 1103, 1106, 1109, 1112,
    ]
    assert len(footer_reads) == FILES
    moved = tmp_path / "hive" / "p=1" / "part-00003.parquet"
    pq.write_table(
        pa.table({
            "id": pa.array([1101, 1102, 1350], pa.int64()),
            "v": pa.array([0, 0, 0], pa.int64()),
        }),
        moved,
    )
    footer_reads.clear()
    got = sorted(r.id for r in eng.sql(sql).collect())
    assert got == [1100, 1101, 1102, 1103, 1106, 1109, 1112]
    assert footer_reads == [str(moved)]
    off = GlueSparkEngine(
        spark, store, config=EngineConfig(stats_skipping=False)
    )
    assert got == sorted(r.id for r in off.sql(sql).collect())


@pytest.mark.parametrize(
    "where, called",
    [
        ("p = 1", False),
        ("p IN (0, 1) AND p <> 0", False),
        ("p = 1 AND id > 3", True),
        ("id > 3", True),
        ("t.id > 3", False),  # another table's column
    ],
)
def test_zone_maps_are_asked_for_only_with_a_data_predicate(
    spark, tmp_path, where, called
):
    """``_prune_and_skip`` calls ``stats`` only when the WHERE clause
    constrains a column other than the partition keys, and then only
    for the partition survivors; this holds for every stats source
    (footers, Delta ``add.stats``, Iceberg manifest bounds)."""
    from glue_table_cache_spark.listing import FileInfo

    store = _store(tmp_path)
    tbl = store.get_table("db", "hive")
    files = [FileInfo(f"/x/p={p}/a.parquet", {"p": str(p)}) for p in (0, 1)]
    asked: list[tuple[list[str], frozenset]] = []

    def stats(kept, columns):
        asked.append(([f.path for f in kept], columns))
        return [None] * len(kept)

    eng = GlueSparkEngine(spark, store)
    kept = eng._prune_and_skip(
        tbl, f"SELECT * FROM glue.db.hive WHERE {where}", files, ["p"],
        stats=stats,
    )
    assert asked == (
        [([f.path for f in kept], frozenset({"id"}))] if called else []
    )


def test_footer_memo_reads_at_most_a_capped_batch_per_call(
    tmp_path, footer_reads, monkeypatch
):
    """A cold call reads ``READS_PER_CALL`` footers and keeps the rest
    of the files unskipped; later calls read the rest.  Past
    ``MAX_FILES`` the oldest entries go, and only they are read
    again."""
    monkeypatch.setattr(skipping.FooterMemo, "READS_PER_CALL", 3)
    monkeypatch.setattr(skipping.FooterMemo, "MAX_FILES", 4)
    _write_lake(tmp_path, "hive")
    paths = sorted(str(p) for p in tmp_path.rglob("*.parquet"))[:5]
    memo = skipping.FooterMemo()
    first = memo.stats(paths)
    assert footer_reads == paths[:3]
    assert [s is not None for s in first] == [True] * 3 + [False] * 2
    footer_reads.clear()
    assert all(s is not None for s in memo.stats(paths))
    assert footer_reads == paths[3:]
    # five files, four held: the first one read was dropped
    footer_reads.clear()
    assert all(s is not None for s in memo.stats(paths))
    assert footer_reads == paths[:1]
    # a path that cannot be stat'ed is kept unread
    footer_reads.clear()
    assert memo.stats([str(tmp_path / "gone.parquet")]) == [None]
    assert footer_reads == []


def test_footer_memo_holds_the_columns_statements_constrain(
    tmp_path, footer_reads
):
    """A footer is decoded for the predicate's columns only.  A later
    statement on another column reads it again for the union; one on
    columns already held reads nothing."""
    _write_lake(tmp_path, "hive")
    paths = sorted(str(p) for p in tmp_path.rglob("*.parquet"))[:2]
    memo = skipping.FooterMemo()
    got = memo.stats(paths, frozenset({"id"}))
    assert footer_reads == paths
    assert [set(s.min_values) for s in got] == [{"id"}, {"id"}]
    footer_reads.clear()
    got = memo.stats(paths, frozenset({"v"}))
    assert footer_reads == paths
    assert [set(s.max_values) for s in got] == [{"id", "v"}, {"id", "v"}]
    footer_reads.clear()
    assert memo.stats(paths, frozenset({"id"})) == got
    assert footer_reads == []
    # no column set asks for every column: read once more, then held
    memo.stats(paths)
    assert footer_reads == paths
    footer_reads.clear()
    memo.stats(paths, frozenset({"v"}))
    assert footer_reads == []
