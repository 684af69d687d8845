"""Conservative pruning semantics — including the two reference quirks
we deliberately fix (SURVEY.md §2.D)."""

from __future__ import annotations

from glue_table_cache_spark.listing import FileInfo
from glue_table_cache_spark.pruning import (
    TruePredicate,
    extract_partition_predicate,
    prune_files,
)

FILES = [
    FileInfo("s3://b/t/year=2023/month=01/a.parquet", {"year": "2023", "month": "01"}),
    FileInfo("s3://b/t/year=2023/month=02/b.parquet", {"year": "2023", "month": "02"}),
    FileInfo("s3://b/t/year=2024/month=01/c.parquet", {"year": "2024", "month": "01"}),
    FileInfo("s3://b/t/year=2024/month=02/d.parquet", {"year": "2024", "month": "02"}),
]
KEYS = ["year", "month"]
IDENTS = {"tbl", "db.tbl"}


def _prune(sql: str) -> list[str]:
    pred = extract_partition_predicate(sql, KEYS, IDENTS)
    return [f.path for f in prune_files(FILES, pred)]


def test_equality_prunes():
    out = _prune("SELECT * FROM glue.db.tbl WHERE year = '2024'")
    assert out == [f.path for f in FILES[2:]]


def test_numeric_comparison_on_string_values():
    out = _prune("SELECT * FROM glue.db.tbl WHERE year >= 2024")
    assert out == [f.path for f in FILES[2:]]


def test_in_list():
    out = _prune("SELECT * FROM glue.db.tbl WHERE month IN ('02')")
    assert out == [FILES[1].path, FILES[3].path]


def test_or_preserves_boolean_structure():
    # the reference would AND these and prune to zero (SURVEY §2.D.1)
    out = _prune(
        "SELECT * FROM glue.db.tbl WHERE year = '2023' OR year = '2024'"
    )
    assert len(out) == 4


def test_or_with_non_partition_branch_keeps_all():
    # one branch not evaluable over partition values → entire OR is True
    out = _prune(
        "SELECT * FROM glue.db.tbl WHERE year = '2024' OR amount > 10"
    )
    assert len(out) == 4


def test_and_mixes_partition_and_data_predicates():
    out = _prune(
        "SELECT * FROM glue.db.tbl WHERE year = '2024' AND amount > 10 AND month='01'"
    )
    assert out == [FILES[2].path]


def test_not_in():
    out = _prune("SELECT * FROM glue.db.tbl WHERE month NOT IN ('01')")
    assert out == [FILES[1].path, FILES[3].path]


def test_between():
    out = _prune("SELECT * FROM glue.db.tbl WHERE year BETWEEN '2023' AND '2023'")
    assert out == [FILES[0].path, FILES[1].path]


def test_qualified_column_other_table_ignored():
    out = _prune("SELECT * FROM glue.db.tbl t WHERE other.year = '2024'")
    assert len(out) == 4


def test_unparseable_or_missing_where_keeps_all():
    pred = extract_partition_predicate("not sql at all (", KEYS, IDENTS)
    assert isinstance(pred, TruePredicate)
    pred = extract_partition_predicate("SELECT * FROM glue.db.tbl", KEYS, IDENTS)
    assert isinstance(pred, TruePredicate)


def test_missing_partition_value_is_kept():
    files = FILES + [FileInfo("s3://b/t/misc/e.parquet", {})]
    pred = extract_partition_predicate(
        "SELECT * FROM glue.db.tbl WHERE year='2024'", KEYS, IDENTS
    )
    out = prune_files(files, pred)
    assert files[-1] in out  # conservative: unknown value → keep


def test_not_with_missing_value_is_kept():
    """ADVICE r1: NOT over an Unknown must stay Unknown (keep), never
    flip the conservative keep into a drop."""
    files = FILES + [FileInfo("s3://b/t/misc/e.parquet", {})]
    pred = extract_partition_predicate(
        "SELECT * FROM glue.db.tbl WHERE NOT (year = '2023')", KEYS, IDENTS
    )
    out = prune_files(files, pred)
    assert files[-1] in out  # missing year → Unknown → keep
    assert [f.path for f in out[:2]] == [FILES[2].path, FILES[3].path]


def test_not_between_with_uncoercible_value_is_kept():
    """ADVICE r1 verified case: NOT (year BETWEEN 2020 AND 2023) must
    keep files whose extracted year is non-numeric."""
    files = [
        FileInfo("s3://b/t/year=2021/a.parquet", {"year": "2021"}),
        FileInfo("s3://b/t/year=2024/b.parquet", {"year": "2024"}),
        FileInfo("s3://b/t/year=unknown/c.parquet", {"year": "unknown"}),
    ]
    pred = extract_partition_predicate(
        "SELECT * FROM glue.db.tbl WHERE NOT (year BETWEEN 2020 AND 2023)",
        KEYS,
        IDENTS,
    )
    out = [f.path for f in prune_files(files, pred)]
    assert out == [files[1].path, files[2].path]


def test_in_list_mixed_constants_python_path():
    """ADVICE r2: mixed numeric/string IN lists must not blow up and
    must stay conservative (Unknown keeps the file)."""
    out = _prune("SELECT * FROM glue.db.tbl WHERE year IN (2024, 'x')")
    assert out == [f.path for f in FILES[2:]]


def test_uncoercible_and_missing_values_keep_files():
    """Partition values a constant cannot compare against (``weird``
    under a numeric constant, a missing key) evaluate Unknown and keep
    the file under every operator, negation and mixed IN list."""
    files = FILES + [
        FileInfo("s3://b/t/year=weird/month=01/e.parquet",
                 {"year": "weird", "month": "01"}),
        FileInfo("s3://b/t/misc/f.parquet", {}),
    ]
    a, b, c, d, e, f = (x.path for x in files)
    cases = {
        "year IN (2024, 'x')": [c, d, e, f],
        "year IN ('2023', 'weird')": [a, b, e, f],
        "year NOT IN (2024, 'x')": [a, b, e, f],
        "year NOT IN ('2024')": [a, b, e, f],
        "year IN (2023, 2024)": [a, b, c, d, e, f],
        "year >= 2024": [c, d, e, f],
        "NOT (year BETWEEN 2020 AND 2023)": [c, d, e, f],
        "month IN ('01', '03') OR year = '2024'": [a, c, d, e, f],
        "month NOT IN ('01')": [b, d, f],
    }
    for where, want in cases.items():
        pred = extract_partition_predicate(
            f"SELECT * FROM glue.db.tbl WHERE {where}", KEYS, IDENTS
        )
        assert [x.path for x in prune_files(files, pred)] == want, where


# ---------------------------------------------------------------------------
# Strict mode: extract_proof_predicate (full-match proofs, not pruning)
# ---------------------------------------------------------------------------


def _proof(sql: str, values: dict) -> bool | None:
    from glue_table_cache_spark.pruning import extract_proof_predicate

    pred = extract_proof_predicate(sql, KEYS, IDENTS)
    assert pred is not None
    return pred.evaluate(values)


def test_proof_partition_only_conjunct_proves():
    assert _proof(
        "SELECT * FROM tbl WHERE year = '2024'", {"year": "2024"}
    ) is True
    assert _proof(
        "SELECT * FROM tbl WHERE year = '2024'", {"year": "2023"}
    ) is False


def test_proof_data_conjunct_blocks_and():
    # pruning would drop `id >= 3` and over-claim True — the proof
    # tree keeps it as Unknown, and And(True, Unknown) is Unknown
    assert _proof(
        "SELECT * FROM tbl WHERE year = '2024' AND id >= 3",
        {"year": "2024"},
    ) is None
    # ... but a False partition conjunct still decides
    assert _proof(
        "SELECT * FROM tbl WHERE year = '2024' AND id >= 3",
        {"year": "2023"},
    ) is False


def test_proof_or_with_data_branch_still_proves_decided_branch():
    sql = (
        "SELECT * FROM tbl WHERE year = '2023' "
        "OR (year = '2024' AND id >= 3)"
    )
    assert _proof(sql, {"year": "2023"}) is True  # decided branch
    assert _proof(sql, {"year": "2024"}) is None  # rides on id
    # Or(False, And(False, Unknown)) decides False — no proof either
    assert _proof(sql, {"year": "2022"}) is False


def test_proof_not_over_unknown_stays_unknown():
    assert _proof(
        "SELECT * FROM tbl WHERE NOT (id >= 3)", {"year": "2024"}
    ) is None
    assert _proof(
        "SELECT * FROM tbl WHERE NOT (year = '2024')",
        {"year": "2023"},
    ) is True


def test_proof_missing_or_uncoercible_value_blocks():
    assert _proof(
        "SELECT * FROM tbl WHERE year = '2024'", {}
    ) is None
    assert _proof(
        "SELECT * FROM tbl WHERE year > 2020", {"year": "weird"}
    ) is None


def test_proof_no_where_returns_none():
    from glue_table_cache_spark.pruning import extract_proof_predicate

    assert extract_proof_predicate(
        "SELECT * FROM tbl", KEYS, IDENTS
    ) is None
    assert extract_proof_predicate("not sql (", KEYS, IDENTS) is None
