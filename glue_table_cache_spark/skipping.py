"""File-level data skipping from column min/max zone maps.

Partition pruning (:mod:`glue_table_cache_spark.pruning`) drops files
whose *partition values* cannot match the query; this module extends the
same conservative three-valued posture to *data column statistics* —
per-file ``min``/``max``/``null_count`` "zone maps" — so a predicate
like ``WHERE o_totalprice > 500000`` can drop whole files before the
scan.  This is the metadata-pruning step the reference never takes (its
pruning stops at partition keys, /root/reference/src/glue-table-cache.ts:217-240);
lakehouse engines treat it as table stakes because at 100 TB the
difference between "scan 40k files" and "scan the 300 whose ranges
overlap" dominates query latency.

Three stats sources, all metadata-scale (no data file is opened except
the parquet-footer reads, which touch footers only):

* **Delta Lake** — the transaction log's ``add.stats`` JSON
  (``numRecords`` / ``minValues`` / ``maxValues`` / ``nullCount``),
  already in hand from the log replay: skipping is free.
* **Iceberg** — manifest entries' ``lower_bounds`` / ``upper_bounds`` /
  ``null_value_counts`` / ``record_count`` fields, decoded from the
  spec's single-value binary serialization: also free, and deferred —
  the walk keeps them raw in a :class:`LazyFileStats`, so only files
  that survive partition pruning are decoded.
* **Parquet footers** — row-group statistics aggregated per file, for
  the plain-parquet file lists where no table format carries stats:
  Hive, unpartitioned and projection listings and Hudi
  COPY_ON_WRITE base files.  On by default under the same
  ``EngineConfig.stats_skipping`` switch.  The engine reads a footer
  only for a file that survives partition pruning, only when the
  WHERE clause constrains a non-partition column, and once per file
  version: a :class:`FooterMemo` per table holds the results.  A
  local footer costs about 0.1 ms (a 32-row benchmark-lake file,
  4-core host); a remote one two ranged GETs
  (:func:`parquet_footer_stats`).  Hudi MERGE_ON_READ base files are
  never skipped: a log record can move a row into a range its base
  file's footer rules out.

Correctness contract — the same as partition pruning: skipping is an
*optimization, never a filter of record*.  A file is dropped only when
the statistics PROVE no row in it can satisfy the predicate; anything
unknown (missing stats, uncoercible types, truncated string bounds,
exotic predicate nodes) keeps the file, and the full WHERE clause still
executes over everything scanned.  Specific conservative choices:

* ``min``/``max`` are treated as *bounds*, not exact extremes — both
  Delta (string truncation with last-char increment) and parquet
  (statistics truncation) only guarantee ``min <= all values`` and
  ``max >= all values``.  Range checks are sound under bounds; the
  ``min == max == const`` ⇒ "all rows equal const" inference is NOT,
  so it is applied to exact-typed (numeric/bool/temporal) values only,
  never to strings.
* NULL semantics follow SQL: a comparison over a NULL value satisfies
  nothing, so a column whose ``null_count == num_records`` can satisfy
  no comparison, and ``NOT(p)`` only matches rows where ``p`` is
  definitely false.
* Temporal values compare as real dates/datetimes (ISO strings are
  parsed); a type mismatch (date vs datetime, naive vs aware) degrades
  to keep rather than trust lexicographic accidents.
"""

from __future__ import annotations

import json
import os
import struct
import threading
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Mapping

from glue_table_cache_spark.pruning import (
    And,
    Comparison,
    InList,
    Not,
    Or,
    Predicate,
    TruePredicate,
)

# --------------------------------------------------------------------------
# Per-file statistics
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class FileStats:
    """Zone map for one data file.  Keys are lower-cased column names
    (predicates lower-case their column refs); a column absent from a
    map simply contributes Unknown.  ``min``/``max`` entries are
    *bounds* (see module docstring)."""

    num_records: int | None = None
    min_values: Mapping[str, Any] = field(default_factory=dict)
    max_values: Mapping[str, Any] = field(default_factory=dict)
    null_counts: Mapping[str, int] = field(default_factory=dict)

    @staticmethod
    def build(
        num_records: int | None,
        min_values: Mapping[str, Any] | None,
        max_values: Mapping[str, Any] | None,
        null_counts: Mapping[str, Any] | None,
    ) -> "FileStats":
        def lower(m: Mapping[str, Any] | None) -> dict[str, Any]:
            return {
                str(k).lower(): v
                for k, v in (m or {}).items()
                if v is not None
            }

        return FileStats(
            num_records=num_records,
            min_values=lower(min_values),
            max_values=lower(max_values),
            null_counts={
                k: int(v)
                for k, v in lower(null_counts).items()
                if isinstance(v, (int, float)) and not isinstance(v, bool)
            },
        )


# --------------------------------------------------------------------------
# Typed comparison
# --------------------------------------------------------------------------


def _maybe_temporal(s: str) -> date | datetime | None:
    """Parse an ISO date/datetime string (Delta stats carry temporals
    as JSON strings; SQL constants arrive as strings).  Returns a
    ``date`` for plain dates, ``datetime`` otherwise, ``None`` when it
    is not temporal-shaped."""
    txt = s.strip()
    if len(txt) < 10 or txt[4:5] != "-" or txt[7:8] != "-":
        return None
    try:
        if len(txt) == 10:
            return date.fromisoformat(txt)
        norm = txt.replace(" ", "T", 1)
        if norm.endswith("Z"):
            norm = norm[:-1] + "+00:00"
        return datetime.fromisoformat(norm)
    except ValueError:
        return None


def _cmp_pair(stat: Any, const: Any) -> tuple[Any, Any] | None:
    """Coerce a (statistic value, SQL constant) pair into one
    comparable domain, or ``None`` when no sound comparison exists
    (→ Unknown → keep the file)."""
    if stat is None or const is None:
        return None
    # bool is an int subclass — handle it before numerics
    if isinstance(const, bool) or isinstance(stat, bool):
        if isinstance(const, bool) and isinstance(stat, bool):
            return (stat, const)
        return None
    if isinstance(const, Decimal):
        # a SQL decimal literal: Spark compares a double column in
        # double, and integer and decimal columns exactly
        if isinstance(stat, float):
            return (stat, float(const))
        if isinstance(stat, (int, Decimal)):
            return (stat, const)
        return None
    if isinstance(const, (int, float)):
        if isinstance(stat, (int, float, Decimal)):
            # no float() coercion: Python's mixed-type numeric
            # comparisons (int/float/Decimal) are EXACT, while
            # float(10**16 + 1) == float(10**16) would collapse a
            # strict inequality at the boundary and unsoundly drop a
            # file containing matching rows
            return (stat, const)
        return None
    if isinstance(const, str):
        if isinstance(stat, str):
            st, ct = _maybe_temporal(stat), _maybe_temporal(const)
            if st is not None and ct is not None:
                stat, const = st, ct  # fall through to temporal check
            elif st is None and ct is None:
                return (stat, const)  # plain strings, lexicographic
            else:
                return None  # one temporal, one not — ambiguous
        else:
            ct = _maybe_temporal(const)
            if ct is None:
                return None
            const = ct
        if isinstance(stat, datetime) and isinstance(const, datetime):
            if (stat.tzinfo is None) != (const.tzinfo is None):
                return None  # naive vs aware — not comparable
            return (stat, const)
        if (
            isinstance(stat, date)
            and isinstance(const, date)
            and not isinstance(stat, datetime)
            and not isinstance(const, datetime)
        ):
            return (stat, const)
        return None  # date vs datetime mix — keep
    return None


def _exact_typed(stat: Any) -> bool:
    """Whether ``min == max == const`` soundly implies "all rows equal
    const": true for numerics/bools/temporals, false for strings
    (truncated bounds) and anything else."""
    if isinstance(stat, bool):
        return True
    return isinstance(stat, (int, float, Decimal, date, datetime))


# --------------------------------------------------------------------------
# Three-valued evaluation against zone maps
# --------------------------------------------------------------------------


def _all_null(stats: FileStats, column: str) -> bool:
    nc = stats.null_counts.get(column)
    return (
        nc is not None
        and stats.num_records is not None
        and nc >= stats.num_records
    )


def _cmp_may(op: str, lo, hi, const) -> bool:
    """May ANY value in [lo, hi] satisfy ``value <op> const``?  ``lo``
    / ``hi`` are coerced bound/const pairs (either side None =
    unbounded)."""
    if op == "COMPARE_EQUAL":
        if lo is not None and const < lo:
            return False
        if hi is not None and const > hi:
            return False
        return True
    if op == "COMPARE_NOTEQUAL":
        # unsatisfiable only when every value equals const — handled by
        # the caller via the exact min==max==const check
        return True
    if op == "COMPARE_GREATERTHAN":
        return hi is None or hi > const
    if op == "COMPARE_GREATERTHANOREQUALTO":
        return hi is None or hi >= const
    if op == "COMPARE_LESSTHAN":
        return lo is None or lo < const
    if op == "COMPARE_LESSTHANOREQUALTO":
        return lo is None or lo <= const
    return True


def _bounds(stats: FileStats, column: str, const: Any):
    """(lo, hi, coerced_const, exact) for a column against a constant;
    each of lo/hi may be None (no usable bound)."""
    lo = hi = cc = None
    exact = False
    mn = stats.min_values.get(column)
    if mn is not None:
        pair = _cmp_pair(mn, const)
        if pair is not None:
            lo, cc = pair
            exact = _exact_typed(mn)
    mx = stats.max_values.get(column)
    if mx is not None:
        pair = _cmp_pair(mx, const)
        if pair is not None:
            hi = pair[0]
            if cc is None:
                cc = pair[1]
            exact = exact and _exact_typed(mx)
        else:
            exact = False
    else:
        exact = False
    return lo, hi, cc, exact


def may_match(pred: Predicate, stats: FileStats) -> bool:
    """``False`` only when the statistics PROVE no row of the file can
    satisfy ``pred`` — the drop decision.  Everything uncertain returns
    ``True`` (keep)."""
    if stats.num_records == 0:
        return False
    if isinstance(pred, TruePredicate):
        return True
    if isinstance(pred, Comparison):
        if _all_null(stats, pred.column):
            return False  # comparisons never match NULL
        lo, hi, cc, exact = _bounds(stats, pred.column, pred.const)
        if cc is None:
            return True
        if (
            pred.op == "COMPARE_NOTEQUAL"
            and exact
            and lo is not None
            and lo == hi == cc
        ):
            return False  # every non-null value equals const
        return _cmp_may(pred.op, lo, hi, cc)
    if isinstance(pred, InList):
        if _all_null(stats, pred.column):
            return False
        if not pred.negated:
            return any(
                may_match(
                    Comparison(pred.column, "COMPARE_EQUAL", c), stats
                )
                for c in pred.consts
            )
        # NOT IN: unsatisfiable only when all non-null values sit in
        # the list — provable just for the single-point exact case
        for c in pred.consts:
            lo, hi, cc, exact = _bounds(stats, pred.column, c)
            if exact and lo is not None and lo == hi == cc:
                return False
        return True
    if isinstance(pred, And):
        return all(may_match(c, stats) for c in pred.children)
    if isinstance(pred, Or):
        return any(may_match(c, stats) for c in pred.children)
    if isinstance(pred, Not):
        # NOT(p) matches only rows where p is definitely false
        return not _no_row_false(pred.child, stats)
    return True


def _no_row_false(pred: Predicate, stats: FileStats) -> bool:
    """``True`` only when the statistics PROVE no row evaluates
    ``pred`` to (SQL) FALSE — i.e. every row is TRUE or NULL-Unknown.
    This is what makes ``NOT(pred)`` unsatisfiable."""
    if stats.num_records == 0:
        return True
    if isinstance(pred, Comparison):
        lo, hi, cc, exact = _bounds(stats, pred.column, pred.const)
        if cc is None:
            return False
        op = pred.op
        if op == "COMPARE_EQUAL":
            return bool(exact and lo is not None and lo == hi == cc)
        if op == "COMPARE_NOTEQUAL":
            # false only where value == const: impossible when const
            # is outside the bounds
            return not _cmp_may("COMPARE_EQUAL", lo, hi, cc)
        if op == "COMPARE_GREATERTHAN":
            return lo is not None and lo > cc
        if op == "COMPARE_GREATERTHANOREQUALTO":
            return lo is not None and lo >= cc
        if op == "COMPARE_LESSTHAN":
            return hi is not None and hi < cc
        if op == "COMPARE_LESSTHANOREQUALTO":
            return hi is not None and hi <= cc
        return False
    if isinstance(pred, InList):
        if not pred.negated:
            # false where the value misses every const: impossible only
            # in the single-point exact case with that point listed
            for c in pred.consts:
                lo, hi, cc, exact = _bounds(stats, pred.column, c)
                if exact and lo is not None and lo == hi == cc:
                    return True
            return False
        # NOT IN is false where the value hits some const: never-false
        # needs EVERY const provably outside the bounds
        for c in pred.consts:
            lo, hi, cc, _exact = _bounds(stats, pred.column, c)
            if cc is None or _cmp_may("COMPARE_EQUAL", lo, hi, cc):
                return False
        return True
    if isinstance(pred, And):
        # AND is false iff some child is false
        return all(_no_row_false(c, stats) for c in pred.children)
    if isinstance(pred, Or):
        # OR is false iff every child is false; one never-false child
        # suffices
        return any(_no_row_false(c, stats) for c in pred.children)
    if isinstance(pred, Not):
        # NOT(p) is false where p is true
        return not may_match(pred.child, stats)
    return False  # TruePredicate / unknown nodes prove nothing


def skip_files(
    entries: list[tuple[str, FileStats | None]], pred: Predicate
) -> set[str]:
    """Paths that MAY contain matching rows (the keep set).  A file
    with no stats is always kept."""
    return {
        path
        for path, st in entries
        if st is None or may_match(pred, st)
    }


# --------------------------------------------------------------------------
# Stats providers
# --------------------------------------------------------------------------


def delta_file_stats(
    stats_json: str | None,
    renames: dict[str, str] | None = None,
) -> FileStats | None:
    """``add.stats`` JSON → :class:`FileStats`.  Nested (struct-column)
    stats are skipped — only scalar leaves participate.  Delta writes
    temporals as ISO strings; they stay strings here and the comparison
    layer parses them.

    ``renames`` (column-mapped tables' physical→logical map): stats
    keys are PHYSICAL column names, predicates reference LOGICAL ones
    — translate through the map, and DROP keys the map does not know:
    after renames/swaps a stale physical name can equal a different
    column's logical name, and keeping it would skip files on the
    wrong column's bounds."""
    if not stats_json:
        return None
    try:
        s = json.loads(stats_json)
    except (ValueError, TypeError):
        return None
    if not isinstance(s, dict):
        return None

    def scalars(m: Any) -> dict[str, Any]:
        if not isinstance(m, dict):
            return {}
        out = {
            k: v
            for k, v in m.items()
            if not isinstance(v, (dict, list))
        }
        if renames is not None:
            out = {
                renames[k]: v for k, v in out.items() if k in renames
            }
        return out

    return FileStats.build(
        num_records=(
            int(s["numRecords"])
            if isinstance(s.get("numRecords"), (int, float))
            else None
        ),
        min_values=scalars(s.get("minValues")),
        max_values=scalars(s.get("maxValues")),
        null_counts=scalars(s.get("nullCount")),
    )


def parquet_file_columns(path: str) -> set[str] | None:
    """Lower-cased column names from ONE parquet footer (metadata-scale
    — the same single-file peek Spark's own schema inference does), or
    ``None`` when the footer isn't locally readable (object-store
    paths without a mounted client).  Lets table-format scans decide
    whether identity partition columns live in the data files or only
    in directory names / manifest partition tuples."""
    local = path
    if local.startswith("file:"):
        local = local[len("file:"):]
    if "://" in local:
        return None
    try:
        import pyarrow.parquet as pq

        return {n.lower() for n in pq.read_schema(local).names}
    except Exception:
        return None


def _s3_footer(path: str, s3_client=None):
    """An ``s3://`` parquet file's footer metadata from two ranged
    GETs: the 8-byte trailer (footer length, ``PAR1``), then the footer
    with its trailer.  The data pages never leave the object store.
    The bytes are read behind a ``PAR1`` header, which is all the
    parquet reader needs to parse a footer."""
    import io

    import pyarrow.parquet as pq

    from glue_table_cache_spark.listing import parse_s3_path

    if s3_client is None:  # pragma: no cover - no AWS in harness
        import boto3

        s3_client = boto3.client("s3")
    bucket, key = parse_s3_path(path)
    key = key.rstrip("/")

    def tail(n: int) -> bytes:
        return s3_client.get_object(
            Bucket=bucket, Key=key, Range=f"bytes=-{n}"
        )["Body"].read()

    trailer = tail(8)
    if len(trailer) != 8 or trailer[4:] != b"PAR1":
        raise ValueError(f"{path}: not a parquet file")
    (length,) = struct.unpack("<I", trailer[:4])
    footer = tail(length + 8)
    return pq.ParquetFile(io.BytesIO(b"PAR1" + footer)).metadata


def parquet_footer_stats(
    path: str, s3_client=None, columns: frozenset[str] | None = None
) -> FileStats | None:
    """Aggregate a parquet file's row-group statistics into one
    :class:`FileStats` — the zone-map source for plain Hive layouts.
    Only top-level columns with statistics in EVERY row group
    contribute, and only those in ``columns`` (lower-case names) when
    it is given: decoding a column's min/max is most of the cost past
    the footer read.  Reading touches the footer, not the data pages
    (an ``s3://`` path is read with ranged GETs through ``s3_client``).
    Unreadable footers return ``None`` (keep the file) — skipping must
    never turn an IO hiccup into a wrong answer; the scan itself will
    surface a real corruption loudly."""
    import pyarrow.parquet as pq

    try:
        if path.startswith("s3://"):
            md = _s3_footer(path, s3_client)
        elif "://" in path:
            return None  # no reader for other object stores
        else:
            md = pq.ParquetFile(path).metadata
    except Exception:  # noqa: BLE001 - see docstring
        return None
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    dropped: set[str] = set()
    no_nulls: set[str] = set()  # columns with an unusable null_count
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name or name in dropped:
                continue  # nested leaf — not addressable by our preds
            if columns is not None and name.lower() not in columns:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                # an all-null row group legitimately has no min/max and
                # constrains nothing; bounds from the other groups still
                # hold.  Any other reason (stats disabled, unknown null
                # count) makes the column unusable.
                if (
                    st is not None
                    and st.has_null_count
                    and st.null_count == group.num_rows
                ):
                    if name not in no_nulls:
                        nulls[name] = nulls.get(name, 0) + st.null_count
                    continue
                dropped.add(name)
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:
                # pyarrow cannot decode min/max for some physical
                # types (e.g. FIXED_LEN_BYTE_ARRAY decimals) — the
                # column simply contributes no bounds
                dropped.add(name)
                continue
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                # physical BYTE_ARRAY without a string logical type —
                # our constants cannot compare against raw bytes
                dropped.add(name)
                continue
            if name not in mins or _lt(mn, mins[name]):
                mins[name] = mn
            if name not in maxs or _lt(maxs[name], mx):
                maxs[name] = mx
            if st.has_null_count and name not in no_nulls:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                nulls.pop(name, None)
                no_nulls.add(name)
    for name in dropped:
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)
    return FileStats.build(md.num_rows, mins, maxs, nulls)


def _file_version(path: str) -> tuple | None:
    """What tells one version of a data file from another, or ``None``
    when no footer can be read at ``path``: ``()`` for an ``s3://``
    key (taken as immutable, see :class:`FooterMemo`), a fresh
    ``(inode, size, mtime_ns)`` for a local path."""
    if path.startswith("s3://"):
        return ()
    if "://" in path:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


class FooterMemo:
    """One table's parquet-footer zone maps, read once per file
    version and served from memory after that.

    A local file is keyed by its path and a fresh ``os.stat`` taken on
    every call (a few microseconds), so a file rewritten in place is
    read again; only a rewrite that keeps inode and size and lands
    within the filesystem's timestamp granularity goes unseen.  An
    ``s3://`` object is keyed by its key alone: a HEAD per file per
    statement would cost as much as the footer read it saves.  Objects
    are taken to be immutable by key, as the schema cache takes them;
    one rewritten in place is read again once the owner drops the
    memo (``GlueSparkEngine.invalidate_table``, or the listing TTL).

    A file is read for the columns a statement's predicate needs;
    a later statement that needs another column reads the footer again
    for the union, so each file holds the columns its table's
    statements constrain, not every column of a wide table.

    Local footers are read serially; remote ones by two ranged GETs
    each, ``LISTING_POOL_WORKERS`` at a time.  One call reads at most
    ``READS_PER_CALL`` footers, which bounds the planning time a cold
    statement spends here; the files past it are kept unskipped and
    read by later calls.  Measured by ``tools/footer_cost.py`` on a
    4-core host over 32-row files: a local footer costs about 0.1 ms
    cold and a stat about 4 us warm; behind a stub store answering
    each GET after 20 ms, 24 files cost 0.09 s cold and 256 files (the
    cap) 0.7 s, and a warm call makes no GET.  At most ``MAX_FILES``
    entries are held, the oldest dropped first (about 1.7 KB each for
    three columns, so about 7 MB a table; a 60-column file holds
    1.2 KiB with one column read, 17.8 KiB with all 60)."""

    READS_PER_CALL = 256
    MAX_FILES = 4096

    def __init__(self, s3_client=None) -> None:
        self._client = s3_client
        self._lock = threading.Lock()  # guards writes to _memo
        # path → (file version, columns read or None for all, stats)
        self._memo: dict[
            str, tuple[tuple, frozenset[str] | None, FileStats | None]
        ] = {}

    def stats(
        self, paths: list[str], columns: frozenset[str] | None = None
    ) -> list[FileStats | None]:
        """One zone map per path over at least ``columns`` (lower-case
        names; ``None`` for every column): ``None`` where the footer
        cannot be read or is left for a later call (the file is
        kept)."""
        out: list[FileStats | None] = [None] * len(paths)
        todo: list[tuple[int, tuple, frozenset[str] | None]] = []
        for i, path in enumerate(paths):
            version = _file_version(path)
            if version is None:
                continue
            hit = self._memo.get(path)
            if hit is not None and hit[0] != version:
                hit = None
            if hit is not None and (
                hit[1] is None or (columns is not None and columns <= hit[1])
            ):
                out[i] = hit[2]
            elif len(todo) < self.READS_PER_CALL:
                held = hit[1] if hit is not None else frozenset()
                todo.append(
                    (i, version, None if columns is None else columns | held)
                )
        remote = [t for t in todo if paths[t[0]].startswith("s3://")]
        for i, _v, cols in todo:
            if not paths[i].startswith("s3://"):
                out[i] = parquet_footer_stats(paths[i], None, cols)
        if remote:
            from concurrent.futures import ThreadPoolExecutor

            from glue_table_cache_spark.listing import LISTING_POOL_WORKERS

            with ThreadPoolExecutor(
                min(LISTING_POOL_WORKERS, len(remote))
            ) as pool:
                read = pool.map(
                    lambda t: parquet_footer_stats(
                        paths[t[0]], self._client, t[2]
                    ),
                    remote,
                )
                for t, st in zip(remote, read):
                    out[t[0]] = st
        # concurrent calls may read the same footer twice; the last
        # store wins, and a call that needs more columns reads again
        with self._lock:
            for i, version, cols in todo:
                self._memo.pop(paths[i], None)
                self._memo[paths[i]] = (version, cols, out[i])
            while len(self._memo) > self.MAX_FILES:
                del self._memo[next(iter(self._memo))]
        return out


def _lt(a: Any, b: Any) -> bool:
    try:
        return a < b
    except TypeError:
        return False


# --- Iceberg single-value deserialization (spec "Binary single-value
# --- serialization"): bounds maps are field-id → bytes ---------------

_EPOCH = date(1970, 1, 1)


def decode_iceberg_bound(type_str: str, raw: bytes) -> Any | None:
    """One bound value per the Iceberg spec's binary single-value
    serialization; unknown/unsupported types return ``None`` (the
    column just contributes Unknown)."""
    try:
        if type_str == "int":
            return struct.unpack("<i", raw)[0]
        if type_str == "long":
            return struct.unpack("<q", raw)[0]
        if type_str == "float":
            return struct.unpack("<f", raw)[0]
        if type_str == "double":
            return struct.unpack("<d", raw)[0]
        if type_str == "boolean":
            return raw != b"\x00"
        if type_str == "string":
            return raw.decode("utf-8")
        if type_str == "date":
            from datetime import timedelta

            return _EPOCH + timedelta(days=struct.unpack("<i", raw)[0])
        if type_str in ("timestamp", "timestamptz"):
            from datetime import timedelta, timezone

            micros = struct.unpack("<q", raw)[0]
            dt = datetime(1970, 1, 1) + timedelta(microseconds=micros)
            if type_str == "timestamptz":
                dt = dt.replace(tzinfo=timezone.utc)
            return dt
        if type_str.startswith("decimal("):
            inside = type_str[len("decimal(") : -1]
            _p, _, s = inside.partition(",")
            unscaled = int.from_bytes(raw, "big", signed=True)
            return Decimal(unscaled).scaleb(-int(s.strip()))
    except (struct.error, ValueError, UnicodeDecodeError):
        return None
    return None


def encode_iceberg_bound(type_str: str, value: Any) -> bytes | None:
    """Inverse of :func:`decode_iceberg_bound` — the spec's binary
    single-value serialization, used by the fixture writer (and any
    future manifest writer).  Unsupported types return ``None``."""
    try:
        if type_str == "int":
            return struct.pack("<i", int(value))
        if type_str == "long":
            return struct.pack("<q", int(value))
        if type_str == "float":
            return struct.pack("<f", float(value))
        if type_str == "double":
            return struct.pack("<d", float(value))
        if type_str == "boolean":
            return b"\x01" if value else b"\x00"
        if type_str == "string":
            return str(value).encode("utf-8")
        if type_str == "date":
            return struct.pack("<i", (value - _EPOCH).days)
        if type_str in ("timestamp", "timestamptz"):
            base = (
                datetime(1970, 1, 1, tzinfo=value.tzinfo)
                if isinstance(value, datetime)
                else datetime(1970, 1, 1)
            )
            micros = round((value - base).total_seconds() * 1_000_000)
            return struct.pack("<q", micros)
        if type_str.startswith("decimal("):
            inside = type_str[len("decimal(") : -1]
            _p, _, s = inside.partition(",")
            unscaled = int(
                Decimal(value).scaleb(int(s.strip())).to_integral_value()
            )
            length = max(1, (unscaled.bit_length() + 8) // 8)
            return unscaled.to_bytes(length, "big", signed=True)
    except (struct.error, ValueError, TypeError, OverflowError):
        return None
    return None


def iceberg_entry_stats(
    data_file: dict, types_by_id: Mapping[int, tuple[str, str]]
) -> FileStats | None:
    """Manifest-entry ``data_file`` record → :class:`FileStats`, using
    the current schema's ``field id → (name, type)`` map to decode
    ``lower_bounds`` / ``upper_bounds`` / ``null_value_counts``.
    Returns ``None`` when the entry carries no usable stats.

    Manifest "maps" arrive either as real dicts (Avro map encoding,
    field-id keys stringified) or as the spec's array-of-
    ``{key, value}`` records (Avro map keys must be strings, so
    Iceberg writes int-keyed maps as k/v record arrays) — both are
    accepted, decoded or still a projected walk's
    :class:`~glue_table_cache_spark.sources.avro_lite.RawField`."""
    from glue_table_cache_spark.sources.avro_lite import RawField

    def pairs(m: Any):
        if isinstance(m, RawField):
            m = m.decode()
        if isinstance(m, dict):
            return m.items()
        out = []
        for item in m:
            if isinstance(item, dict):
                out.append((item.get("key"), item.get("value")))
            else:
                out.append(tuple(item))
        return out

    def fid(k: Any) -> int | None:
        try:
            return int(k)
        except (TypeError, ValueError):
            return None

    def decode_map(m: Any) -> dict[str, Any]:
        out: dict[str, Any] = {}
        if not m:
            return out
        for k, v in pairs(m):
            info = types_by_id.get(fid(k))
            if info is None or v is None:
                continue
            name, type_str = info
            if not isinstance(type_str, str):
                continue  # nested type — bounds not addressable
            val = decode_iceberg_bound(
                type_str, bytes(v) if not isinstance(v, bytes) else v
            )
            if val is not None:
                out[name] = val
        return out

    mins = decode_map(data_file.get("lower_bounds"))
    maxs = decode_map(data_file.get("upper_bounds"))
    nulls: dict[str, int] = {}
    nvc = data_file.get("null_value_counts")
    if nvc:
        for k, v in pairs(nvc):
            info = types_by_id.get(fid(k))
            if info is not None and v is not None:
                nulls[info[0]] = int(v)
    rc = data_file.get("record_count")
    num = int(rc) if isinstance(rc, int) and rc > 0 else None
    if not mins and not maxs and not nulls and num is None:
        return None
    return FileStats.build(num, mins, maxs, nulls)


class LazyFileStats:
    """The zone map of one Iceberg manifest entry, decoded on first
    :meth:`resolve`: the walk keeps the entry's stats fields as the
    manifest stored them, and only files that survive partition
    pruning pay :func:`iceberg_entry_stats`.  The result is memoized,
    so a cached walk decodes each file at most once, and the raw fields
    are dropped once decoded.  Compares by the
    resolved :class:`FileStats` (``None`` when the entry has none)."""

    __slots__ = ("_data_file", "_types", "_stats", "_done")

    def __init__(
        self, data_file: dict, types_by_id: Mapping[int, tuple[str, str]]
    ):
        self._data_file: dict | None = data_file
        self._types: Mapping[int, tuple[str, str]] | None = types_by_id
        self._stats: FileStats | None = None
        self._done = False

    def resolve(self) -> FileStats | None:
        if not self._done:
            self._stats = iceberg_entry_stats(self._data_file, self._types)
            self._done = True
            # the cached walk keeps this object: drop the raw fields
            self._data_file = self._types = None
        return self._stats

    def __eq__(self, other: object) -> bool:
        if isinstance(other, LazyFileStats):
            other = other.resolve()
        return self.resolve() == other

    __hash__ = None  # type: ignore[assignment]

    def __repr__(self) -> str:
        return f"LazyFileStats({self.resolve()!r})"
