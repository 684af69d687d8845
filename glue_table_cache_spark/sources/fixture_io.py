"""Single-file parquet writes for the synthetic table builders.

The lakehouse fixture builders (delta/iceberg/hudi) write MANY tiny
data files — one per synthetic commit.  The original shape,
``df.coalesce(1).write.parquet(stage)`` + rename, paid one full Spark
write job per file; worse, the tests build fixture frames with
``createDataFrame(<python list>)``, whose lineage is a Python
``parallelize`` RDD with ``defaultParallelism`` slices, and
``coalesce(1)`` evaluates all of those slices SEQUENTIALLY inside one
task — one Python-worker round-trip per slice.  Measured on
``local[32]``: ~6 s per 2-row file; a fixture-heavy test paid it 4-10
times (tests/test_delta.py::test_active_set_add_then_remove: 40 s).
(The package's own driver-built frames go through
:func:`glue_table_cache_spark.session.local_frame` instead: an Arrow
``LocalRelation`` with no Python worker behind it.)

``df.toArrow()`` collects the same rows through Spark's own Arrow type
mapping in ONE parallel job and pyarrow writes the single file
directly — same logical parquet types (INT64/BYTE_ARRAY/DATE/
TIMESTAMP(MICROS)), so every reader (Spark scans, the engine walks,
``pq.read_table`` in the DV path) sees identical content.  Measured:
~0.2 s per file, and the whole pytest suite dropped from ~94 min to
minutes (the driver's verify window requires it).

Timestamp caveat: ``toArrow``/``to_pylist`` yields tz-AWARE datetimes
for ``timestamp`` columns where ``Row.collect`` yielded naive
local-time ones; :func:`arrow_rows` normalizes to naive UTC so the
fixture stats JSON (delta ``add.stats``, iceberg bounds) stays
byte-identical to the previous collect-based values under the
session's UTC timezone.
"""

from __future__ import annotations

import datetime
from pathlib import Path

from pyspark.sql import DataFrame


def collect_arrow(df: DataFrame):
    """Arrow table of a (tiny) fixture frame via Spark's own mapping."""
    return df.toArrow()


def write_single_parquet(df: DataFrame, out: str | Path):
    """Write ``df`` as ONE parquet file at ``out``; returns the
    collected Arrow table so callers can derive stats without a
    second action."""
    import pyarrow.parquet as pq

    tbl = df.toArrow()
    out = Path(out)
    out.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(tbl, out)
    return tbl


def _naive_utc(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def arrow_rows(tbl) -> list[dict]:
    """``to_pylist`` with timestamps normalized to naive UTC — the
    representation ``DataFrame.collect`` produced for the stats
    helpers (session timezone is UTC everywhere in this repo)."""
    return [
        {k: _naive_utc(v) for k, v in row.items()}
        for row in tbl.to_pylist()
    ]
