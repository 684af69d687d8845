"""Hudi copy-on-write data-file resolution from the commit timeline.

Beyond-reference extension: the reference enumerates HUDI in its table
taxonomy but never handles it (/root/reference/src/types.ts:4-11).
This module reconstructs a COPY_ON_WRITE table's active file set from
the public Hudi timeline layout
(https://hudi.apache.org/docs/timeline — ``.hoodie/<instant>.commit``
JSON per completed write), the same metadata-walk posture as the
Iceberg and Delta readers:

1. list ``<location>/.hoodie/`` and keep COMPLETED instants only —
   ``<instant>.commit`` and ``<instant>.replacecommit`` (the
   ``.inflight`` / ``.requested`` phases of an uncommitted write must
   be invisible, that is the whole point of the timeline);
2. replay instants in timestamp order: each commit's
   ``partitionToWriteStats`` names the files written per partition;
   copy-on-write REWRITES a file group, so the newest instant's file
   wins per ``fileId`` (older slices stay on disk until cleaned);
3. a ``replacecommit`` (clustering / insert_overwrite) first retires
   the file groups in ``partitionToReplaceFileIds``, then adds its own
   written files.

Only the latest file slice per live file group is scanned — stale
slices, failed-write leftovers, and orphan files are invisible.

MERGE_ON_READ tables (log files needing compaction-aware merging) are
out of scope and rejected loudly: silently reading only their base
files would drop un-compacted updates.

All steps are metadata-scale and run on the driver; the returned path
list feeds the distributed parquet scan.
"""

from __future__ import annotations

import json
import posixpath
import re

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.sources.iceberg import _read_bytes, _resolve_path

#: Completed-instant names: legacy ``<ts>.commit`` and the Hudi 1.x
#: form ``<requestTs>_<completionTs>.commit``.  Keying is always on
#: the REQUEST timestamp (first field) — that is the instant identity
#: Hudi uses in write stats and replace maps.
_COMPLETED_RE = re.compile(
    r"/(\d+)(?:_(\d+))?\.(commit|replacecommit|deltacommit)$"
)

#: base-file name: <fileId>_<writeToken>_<instantTime>.parquet
_BASE_FILE_RE = re.compile(r"([^/_]+(?:-[^/_]+)*)_[^/_]+_(\d+)\.parquet$")

#: log-file version: <fileId>_<baseInstant>.log.<version>_<writeToken>
_LOG_VERSION_RE = re.compile(r"\.log\.(\d+)")


def _log_version(path: str) -> int:
    """Numeric rollover version of a Hudi log file name (``.log.2``
    sorts after ``.log.10``'s prefix lexicographically — the fold
    order must be numeric); unversioned names sort first."""
    m = _LOG_VERSION_RE.search(path.rsplit("/", 1)[-1])
    return int(m.group(1)) if m else 0


def _timeline_files(location: str, fs=None) -> list[str]:
    from glue_table_cache_spark.listing import filesystem_for

    hoodie = posixpath.join(location.rstrip("/"), ".hoodie")
    fs = fs or filesystem_for(hoodie)
    return fs.list_files(hoodie)


def _completed_instants(
    names: list[str], location: str
) -> list[tuple[int, str, str]]:
    """Completed instants as ``(request_ts, kind, path)`` in explicit
    replay order: ascending request timestamp, then completion
    timestamp (Hudi 1.x names only), then kind with ``commit`` BEFORE
    ``replacecommit`` — so a clustering replacecommit that replaces
    file groups written at the same request instant applies after the
    write and the replacement wins.  Previously this tie-break was an
    accident of lexicographic tuple sort; now it is the contract."""
    found: list[tuple[int, int, int, str, str]] = []
    for p in names:
        m = _COMPLETED_RE.search(p)
        if m:
            req = int(m.group(1))
            completion = int(m.group(2)) if m.group(2) else req
            kind = m.group(3)
            found.append(
                (req, completion, 0 if kind == "commit" else 1, kind, p)
            )
    if not found:
        raise GlueSparkError(
            f"No completed Hudi commits under {location!r}/.hoodie"
        )
    return [(req, kind, p) for req, _c, _k, kind, p in sorted(found)]


#: Avro primitive → Spark type name (logical types handled separately)
_AVRO_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
}


def _spark_type_from_avro(t):
    """Spark type for one Avro field type (primitive, ``["null", X]``
    union, or logical date / timestamp-micros / decimal), or ``None``
    when there is no faithful mapping."""
    from pyspark.sql import types as T

    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        if len(branches) != 1:
            return None
        t = branches[0]
    if isinstance(t, dict):
        logical = t.get("logicalType")
        base = t.get("type")
        if logical == "date" and base == "int":
            return T.DateType()
        if logical in ("timestamp-micros", "timestamp-millis") and (
            base == "long"
        ):
            return T.TimestampType()
        if logical == "decimal" and base in ("bytes", "fixed"):
            try:
                return T.DecimalType(
                    int(t["precision"]), int(t.get("scale", 0))
                )
            except (KeyError, ValueError):
                return None
        return None
    name = _AVRO_TO_SPARK.get(t)
    if name is None:
        return None
    return {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "binary": T.BinaryType(),
    }[name]


def avro_schema_for_spark(schema, name: str = "Record") -> dict | None:
    """An Avro record schema for a Spark ``StructType`` — the dialect
    Hudi commits carry in ``extraMetadata.schema`` — or ``None`` when
    a field has no faithful Avro mapping (the caller records nothing
    rather than a lossy schema)."""
    from pyspark.sql import types as T

    fields = []
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, T.BooleanType):
            at = "boolean"
        elif isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            at = "int"
        elif isinstance(dt, T.LongType):
            at = "long"
        elif isinstance(dt, T.FloatType):
            at = "float"
        elif isinstance(dt, T.DoubleType):
            at = "double"
        elif isinstance(dt, T.StringType):
            at = "string"
        elif isinstance(dt, T.BinaryType):
            at = "bytes"
        elif isinstance(dt, T.DateType):
            at = {"type": "int", "logicalType": "date"}
        elif isinstance(dt, T.TimestampType):
            at = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(dt, T.DecimalType):
            at = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        else:
            return None
        fields.append(
            {
                "name": f.name,
                "type": ["null", at] if f.nullable else at,
            }
        )
    return {"type": "record", "name": name, "fields": fields}


def hudi_table_schema(
    location: str, s3_client=None, fs=None,
    as_of_instant: int | None = None,
):
    """The table's scan schema as a Spark ``StructType``: the Avro
    record schema the NEWEST completed instant recorded in
    ``extraMetadata.schema`` (Hudi's own schema-tracking mechanism),
    or ``None`` when no instant recorded one (fixture/external tables)
    or it has no faithful Spark mapping.  This is the Hudi sibling of
    Delta's ``schemaString`` / the Iceberg metadata schema: the
    authority that makes evolved columns surface as nulls on
    pre-evolution base files instead of depending on which file
    inference samples."""
    from pyspark.sql import types as T

    names = _timeline_files(location, fs=fs)
    try:
        instants = _completed_instants(names, location)
    except GlueSparkError:
        return None
    if as_of_instant is not None:
        instants = [x for x in instants if x[0] <= as_of_instant]
    for _ts, _kind, p in reversed(instants):
        try:
            data = json.loads(_read_bytes(p, s3_client))
        except (OSError, ValueError):
            continue
        raw = (data.get("extraMetadata") or {}).get("schema")
        if not raw:
            continue
        try:
            avro = json.loads(raw)
        except ValueError:
            return None
        fields = []
        for f in avro.get("fields", []):
            t = _spark_type_from_avro(f.get("type"))
            if t is None:
                return None
            nullable = (
                isinstance(f.get("type"), list)
                and "null" in f["type"]
            )
            fields.append(T.StructField(f["name"], t, nullable))
        return T.StructType(fields) if fields else None
    return None


def _file_id(stat: dict, path: str) -> str:
    fid = stat.get("fileId")
    if fid:
        return fid
    m = _BASE_FILE_RE.search(path)
    if m:
        return m.group(1)
    return path  # fall back to path identity (never merges slices)


def hudi_data_files(
    location: str,
    s3_client=None,
    fs=None,
    base_files_only: bool = False,
) -> list[str]:
    """Active base-file paths of the Hudi table at ``location``: one
    file per live file group, from its newest completed instant.

    COPY_ON_WRITE tables are fully supported.  MERGE_ON_READ tables
    refuse by default: their un-compacted ``.log`` files carry
    updates/deletes a base-file read would miss, so a silent base-only
    scan returns stale or resurrected rows.  ``base_files_only=True``
    is the documented escape hatch with an explicit STALENESS
    CONTRACT: every file group is returned as of its last base-file
    write (ingest/compaction); row updates and deletes sitting in log
    files since then are INVISIBLE — acceptable for approximately-
    fresh analytics right after compaction, wrong for anything that
    needs read-time correctness.  Log-file write stats (deltacommits)
    still advance the timeline walk, they just contribute no readable
    paths.

    ``s3_client`` / ``fs`` are injectable so the S3 metadata path is
    testable without AWS, exactly like the Iceberg/Delta readers."""
    return [
        p
        for p, _pv in hudi_scan_info(
            location, s3_client, fs, base_files_only
        )
    ]


def _pv_from_partition_path(part: str) -> dict[str, str]:
    """Partition values from a hive-style partition path
    (``year=1996/month=01`` → two keys).  Non-hive layouts ("p0",
    date-only paths) yield no values — pruning simply does not apply."""
    pv: dict[str, str] = {}
    for seg in part.strip("/").split("/"):
        k, eq, v = seg.partition("=")
        if not eq or not k:
            return {}
        pv[k] = v
    return pv


_ARCHIVE_SEG_RE = re.compile(r"\.archive\.(\d+)")


def _archived_segment_files(
    location: str, s3_client=None, fs=None
) -> list[str]:
    """Files under ``.hoodie/archived/`` in segment order.  They are
    dot-named (``.commits_.archive.N_…``), which the data-file
    listers rightly hide — so they are enumerated directly here.
    An s3 table driven through an INJECTED filesystem with no
    s3_client skips archive discovery entirely (the caller owns all
    IO; forcing a default boto3 client would change its identity —
    and fail outright without ambient credentials)."""
    arch = posixpath.join(
        location.rstrip("/"), ".hoodie", "archived"
    )
    if arch.startswith("s3://"):  # pragma: no cover - mirrors lister
        if s3_client is None and fs is not None:
            return []
        from glue_table_cache_spark.listing import parse_s3_path

        client = s3_client
        if client is None:
            import boto3

            client = boto3.client("s3")
        bucket, prefix = parse_s3_path(arch)
        paths: list[str] = []
        token = None
        while True:
            kwargs = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kwargs["ContinuationToken"] = token
            resp = client.list_objects_v2(**kwargs)
            paths += [
                f"s3://{bucket}/{o['Key']}"
                for o in resp.get("Contents", [])
            ]
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
    else:
        from pathlib import Path

        p = Path(arch)
        paths = (
            [str(f) for f in p.rglob("*") if f.is_file()]
            if p.is_dir()
            else []
        )

    def seg(path: str) -> tuple[int, str]:
        m = _ARCHIVE_SEG_RE.search(path.rsplit("/", 1)[-1])
        return (int(m.group(1)) if m else 0, path)

    return [p for _n, p in sorted(seg(p) for p in paths)]


def _strip_nones(value):
    """Avro null-union branches decode to ``None`` dict entries where
    the active timeline's JSON simply OMITS the key — normalize so
    ``st.get("partitionPath", part)`` picks the same default either
    way."""
    if isinstance(value, dict):
        return {
            k: _strip_nones(v)
            for k, v in value.items()
            if v is not None
        }
    if isinstance(value, list):
        return [_strip_nones(v) for v in value]
    return value


#: decoded-archive memo: location → (segment-path signature, result).
#: One timeline operation consults the archive several times (walk
#: base states, window enumeration, travel resolution) — the segment
#: LIST re-runs per call (cheap, and the validity token: archival
#: only ever appends new segment names), the Avro DECODE does not.
_ARCHIVE_CACHE: dict[str, tuple[tuple, list]] = {}
_ARCHIVE_CACHE_MAX = 32


def read_archived_timeline(
    location: str, s3_client=None, fs=None
) -> list[tuple[int, str, dict]]:
    """Completed instants recovered from the ``.hoodie/archived/``
    segments as ``(request_ts, kind, commit-metadata dict)`` in
    replay order (r14, VERDICT r13 #6).

    Archived segments are plain HoodieLogFormat files whose
    AVRO_DATA_BLOCK records are ``HoodieArchivedMetaEntry`` rows
    (https://hudi.apache.org/tech-specs/ — the same public framing
    :mod:`glue_table_cache_spark.sources.hudi_log` reads for MOR
    logs); each block header carries its writer schema, so the
    decode is schema-driven, not hardcoded.  Only commit /
    deltacommit / replacecommit entries carry ``partitionToWrite
    Stats`` and participate in replay; clean/rollback/savepoint
    entries contribute nothing and are skipped.

    A segment that cannot be decoded REFUSES the scan loudly: a
    replay missing the archive's write stats would silently drop
    every file recorded only there."""
    segments = _archived_segment_files(location, s3_client, fs)
    sig = tuple(segments)
    hit = _ARCHIVE_CACHE.get(location)
    if hit is not None and hit[0] == sig:
        return hit[1]
    out: list[tuple[int, int, str, dict]] = []
    for path in segments:
        try:
            from glue_table_cache_spark.sources.hudi_log import (
                read_log_blocks,
            )

            blocks = read_log_blocks(
                _read_bytes(path, s3_client), path
            )
        except Exception as exc:
            raise GlueSparkError(
                f"Hudi archived-timeline segment {path!r} could not "
                f"be decoded ({exc}); refusing the scan — replaying "
                "without the archive would silently drop every file "
                "recorded only there"
            ) from exc
        for blk in blocks:
            for rec in blk.get("records") or []:
                state = rec.get("actionState")
                if state not in (None, "COMPLETED"):
                    continue
                kind = rec.get("actionType") or "commit"
                md = rec.get("hoodieCommitMetadata")
                if md is None:
                    md = rec.get("hoodieReplaceCommitMetadata")
                if md is None:
                    continue  # clean/rollback/savepoint: no replay
                if isinstance(md, str):
                    md = json.loads(md)
                ts_raw = rec.get("commitTime")
                if ts_raw is None:
                    continue
                try:
                    ts = int(str(ts_raw))
                except ValueError as exc:
                    raise GlueSparkError(
                        f"Hudi archived entry in {path!r} carries "
                        f"non-numeric commitTime {ts_raw!r}"
                    ) from exc
                out.append(
                    (
                        ts,
                        0 if kind == "commit" else 1,
                        kind,
                        _strip_nones(md),
                    )
                )
    result = [(ts, kind, md) for ts, _k, kind, md in sorted(
        out, key=lambda x: (x[0], x[1])
    )]
    if len(_ARCHIVE_CACHE) >= _ARCHIVE_CACHE_MAX:
        _ARCHIVE_CACHE.pop(next(iter(_ARCHIVE_CACHE)))
    _ARCHIVE_CACHE[location] = (sig, result)
    return result


def _table_type(names: list[str], s3_client=None) -> str:
    props = [p for p in names if p.endswith("hoodie.properties")]
    if props:
        text = _read_bytes(props[0], s3_client).decode()
        m = re.search(r"hoodie\.table\.type\s*=\s*(\S+)", text)
        if m:
            return m.group(1).upper()
    return "COPY_ON_WRITE"


def _walk_timeline(
    location: str,
    names: list[str],
    s3_client=None,
    as_of_instant: int | None = None,
    fs=None,
) -> tuple[dict, list]:
    """Replay the completed timeline: ``(slices, logs)`` where
    ``slices`` maps fileId → ``(instant, base_path, partition)`` for
    the newest base slice per live file group and ``logs`` collects
    ``(instant, log_path, fileId, partition)`` write stats.  A
    replacecommit retires a file group's base slice AND its pending
    logs (clustering rewrote the group's full content).
    ``as_of_instant`` stops the replay there (time travel) — cleaned
    file slices make the result unreadable, which surfaces loudly at
    read, never silently.

    r14: the walk PREPENDS the ``.hoodie/archived/`` timeline
    (:func:`read_archived_timeline`).  Archival moves old instants'
    JSON out of the active dir while their data files stay live, so
    a replay of the active timeline alone would silently drop every
    file whose only write stats live in the archive; with the
    archive decoded, current-state reads stay complete and time
    travel reaches archived instants.  Cost bound: linear in TOTAL
    retained instants (active JSON reads + one sequential decode of
    each archive segment), cached behind the engine's listing cache
    like every other walk; an undecodable segment refuses loudly."""
    instants = _completed_instants(names, location)
    archived = read_archived_timeline(location, s3_client, fs)
    merged: list[tuple[int, str, object]] = [
        (ts, kind, md)
        for ts, kind, md in archived
        if ts < instants[0][0]  # archive never overlaps active
    ] + [(ts, kind, p) for ts, kind, p in instants]
    if as_of_instant is not None:
        merged = [x for x in merged if x[0] <= as_of_instant]
        if not merged:
            raise GlueSparkError(
                f"Hudi instant {as_of_instant} predates the retained "
                f"timeline of {location!r} — no completed or archived "
                "instant at or before it"
            )
    slices: dict[str, tuple[int, str, str]] = {}
    logs: list[tuple[int, str, str, str]] = []
    for ts, kind, src in merged:
        data = (
            src
            if isinstance(src, dict)
            else json.loads(_read_bytes(src, s3_client))
        )
        if kind == "replacecommit":
            for ids in (data.get("partitionToReplaceFileIds") or {}).values():
                for fid in ids:
                    slices.pop(fid, None)
                    logs = [x for x in logs if x[2] != fid]
        for part, stats in (
            data.get("partitionToWriteStats") or {}
        ).items():
            for st in stats:
                path = st.get("path")
                if not path:
                    continue
                fid = _file_id(st, path)
                if ".log." in path.rsplit("/", 1)[-1]:
                    logs.append(
                        (ts, path, fid, st.get("partitionPath", part))
                    )
                    continue
                have = slices.get(fid)
                if have is None or ts >= have[0]:
                    slices[fid] = (ts, path, st.get("partitionPath", part))
    return slices, logs


def hudi_scan_info(
    location: str,
    s3_client=None,
    fs=None,
    base_files_only: bool = False,
    as_of_instant: int | None = None,
) -> list[tuple[str, dict]]:
    """``(path, partition_values)`` per active base file — the
    timeline's write stats are keyed by partition path, so hive-style
    layouts surface values for manifest-level pruning (the engine
    feeds them into the same three-valued predicate tree as the
    Delta/Iceberg/hive paths).

    MERGE_ON_READ tables refuse here (this shape cannot convey log
    files): use :func:`hudi_mor_scan_info` +
    :func:`~glue_table_cache_spark.sources.hudi_mor.hudi_mor_read`
    for the exact snapshot view, or ``base_files_only=True`` for the
    documented-staleness base-only scan."""
    names = _timeline_files(location, fs=fs)
    if _table_type(names, s3_client) == "MERGE_ON_READ":
        if not base_files_only:
            n_delta = sum(
                1 for p in names if p.endswith(".deltacommit")
            )
            raise GlueSparkError(
                "Hudi MERGE_ON_READ tables need log-aware merging "
                f"({n_delta} completed deltacommit(s) whose log "
                "updates/deletes a base-only scan would drop); use "
                "hudi_mor_scan_info() + hudi_mor_read() for the "
                "exact snapshot view, or pass base_files_only=True "
                "to accept the documented staleness (file groups as "
                "of their last base write; log updates/deletes "
                "invisible)"
            )
    slices, _logs = _walk_timeline(
        location, names, s3_client, as_of_instant, fs=fs
    )
    return sorted(
        (
            _resolve_path(location, path),
            _pv_from_partition_path(part),
        )
        for _ts, path, part in slices.values()
    )


def hudi_mor_scan_info(
    location: str,
    s3_client=None,
    fs=None,
    as_of_instant: int | None = None,
) -> tuple[
    list[tuple[str, dict, int]], list[tuple[str, int, dict]]
]:
    """MOR snapshot scan state: ``(base_entries, log_entries)`` —
    ``base_entries`` are ``(path, partition_values, instant)`` per
    active base slice, ``log_entries`` ``(path, instant,
    partition_values)`` per un-compacted log file (a file group and
    its logs live in ONE partition, so both sides prune on the same
    values).  A log is live only while it is NEWER than its file
    group's base slice — compaction writes a fresh base at the
    compaction instant, folding older logs in; a log whose file group
    was replaced (clustering) is gone entirely.  Works for COW tables
    too (``log_entries`` comes back empty)."""
    names = _timeline_files(location, fs=fs)
    slices, logs = _walk_timeline(
        location, names, s3_client, as_of_instant, fs=fs
    )
    base_entries = sorted(
        (
            _resolve_path(location, path),
            _pv_from_partition_path(part),
            ts,
        )
        for ts, path, part in slices.values()
    )
    log_entries = sorted(
        (
            _resolve_path(location, path),
            ts,
            _pv_from_partition_path(part),
        )
        for ts, path, fid, part in logs
        if fid not in slices or ts > slices[fid][0]
    )
    return base_entries, log_entries


def hudi_history(spark, location: str, s3_client=None, fs=None):
    """The completed timeline as a small DataFrame in the engine's
    unified ``DESCRIBE HISTORY`` shape (``version, timestamp,
    operation`` — matching ``delta.delta_history``): version = the
    instant (the read/write travel identifier), timestamp = the
    instant decoded to epoch ms when it is a well-formed
    ``yyyyMMddHHmmss[SSS]`` stamp (null otherwise — fixtures may use
    bare integers), operation = the instant kind (commit /
    deltacommit / replacecommit).  Cleaned instants are gone by
    definition of retention, exactly like the Delta variant;
    ARCHIVED instants (r14) still appear — archival relocates the
    history, it does not erase it."""
    from datetime import datetime, timezone

    names = _timeline_files(location, fs=fs)
    rows = []
    active = _completed_instants(names, location)
    merged = [
        (ts, kind)
        for ts, kind, _md in read_archived_timeline(
            location, s3_client, fs
        )
        # a crash between archival's copy and delete can leave an
        # instant in BOTH places — active wins, no duplicate row
        if not active or ts < active[0][0]
    ] + [(ts, kind) for ts, kind, _p in active]
    for ts, kind in merged:
        epoch_ms = None
        digits = str(ts)
        try:
            if len(digits) in (14, 17):
                dt = datetime.strptime(
                    digits[:14], "%Y%m%d%H%M%S"
                ).replace(tzinfo=timezone.utc)
                epoch_ms = int(dt.timestamp() * 1000) + (
                    int(digits[14:]) if len(digits) == 17 else 0
                )
        except ValueError:
            pass
        rows.append((int(ts), epoch_ms, kind))
    return local_frame(
        spark,
        sorted(rows),
        "version long, timestamp long, operation string",
    )


def hudi_changes(
    location: str,
    since_instant: int = 0,
    s3_client=None,
    fs=None,
) -> tuple[int, list[str]]:
    """File-level incremental feed: ``(latest_instant, written)`` —
    paths written by completed instants strictly after
    ``since_instant`` (Hudi's incremental-query idea at file
    granularity).  A consumer remembers ``latest_instant`` and feeds
    only ``written`` to the next pipeline run.

    Copy-on-write caveat: a rewritten file group's new file contains
    the group's FULL content (old rows + updates), so an incremental
    consumer sees those rows again — dedup downstream by record key,
    exactly as Hudi's own incremental readers do."""
    names = _timeline_files(location, fs=fs)
    instants = _completed_instants(names, location)
    latest = max(ts for ts, _k, _p in instants)
    written: list[str] = []
    merged: list[tuple[int, object]] = [
        (ts, md)
        for ts, _kind, md in read_archived_timeline(
            location, s3_client, fs
        )
        if ts < instants[0][0]  # r14: archived instants feed too
    ] + [(ts, p) for ts, _kind, p in instants]
    for ts, src in merged:
        if ts <= since_instant:
            continue
        data = (
            src
            if isinstance(src, dict)
            else json.loads(_read_bytes(src, s3_client))
        )
        for stats in (data.get("partitionToWriteStats") or {}).values():
            for st in stats:
                if st.get("path"):
                    written.append(_resolve_path(location, st["path"]))
    return latest, sorted(set(written))


def hudi_timeline(spark, location: str, s3_client=None, fs=None):
    """The completed timeline as a small DataFrame — Hudi's
    ``show_commits`` introspection surface (request instant, action
    kind, file count per instant)."""
    import json as _json

    names = _timeline_files(location, fs=fs)
    instants = _completed_instants(names, location)
    rows = []
    for ts, kind, p in instants:
        data = _json.loads(_read_bytes(p, s3_client))
        n_files = sum(
            1
            for stats in (data.get("partitionToWriteStats") or {}).values()
            for st in stats
            if st.get("path")
        )
        rows.append((ts, kind, n_files))
    return local_frame(
        spark,
        rows, "instant long, action string, files_written int"
    )


def _instant_ms(instant: int) -> int:
    """Epoch millis of a Hudi request instant (``yyyyMMddHHmmss`` or
    ``yyyyMMddHHmmssSSS``, UTC — this repo's writers stamp via
    ``time.gmtime``)."""
    from datetime import datetime, timezone

    s = str(instant)
    if len(s) not in (14, 17):
        raise GlueSparkError(
            f"Unrecognized Hudi instant spelling {instant!r} "
            "(expected yyyyMMddHHmmss[SSS])"
        )
    base = datetime.strptime(s[:14], "%Y%m%d%H%M%S").replace(
        tzinfo=timezone.utc
    )
    return int(base.timestamp() * 1000) + int(s[14:17] or 0)


def hudi_instant_for_wallclock(
    location: str, ts_ms: int, fs=None
) -> int:
    """``TIMESTAMP AS OF`` resolution: the newest completed REQUEST
    instant whose COMPLETION wall clock is at or before ``ts_ms``.
    Hudi 1.x two-part names (``<requestTs>_<completionTs>``) carry
    the completion timestamp directly — the moment the write became
    visible; legacy single-part names fall back to the request stamp
    (Hudi's own ``as.of.instant`` posture).  Instant spellings that
    are not ``yyyyMMddHHmmss[SSS]`` wall clocks (external timelines
    with bare counters) refuse rather than guess; so does an instant
    predating the whole retained timeline.

    The resolved REQUEST instant drives a request-keyed replay, so a
    CONCURRENT commit whose request predates the target but whose
    completion postdates ``ts_ms`` would leak not-yet-visible rows
    into the snapshot — that non-linearizable overlap refuses
    loudly (use ``VERSION AS OF`` to pick the exact instant)."""
    names = _timeline_files(location, fs=fs)
    found: list[tuple[int, int]] = []  # (completion, request)
    for p in names:
        m = _COMPLETED_RE.search(p)
        if m:
            req = int(m.group(1))
            comp = int(m.group(2)) if m.group(2) else req
            found.append((comp, req))
    # archived instants (r14) resolve too: archival preserves only the
    # request instant, which is also the legacy completion fallback
    for ts, _kind, _md in read_archived_timeline(location, fs=fs):
        found.append((ts, ts))
    if not found:
        raise GlueSparkError(
            f"No completed Hudi instants under {location!r}/.hoodie"
        )
    target = None
    for comp, req in sorted(found):
        if _instant_ms(comp) <= ts_ms:
            target = req if target is None else max(target, req)
    if target is None:
        raise GlueSparkError(
            f"No completed Hudi instant of {location!r} at or "
            f"before timestamp {ts_ms} — the oldest retained "
            "completion postdates it"
        )
    overlapping = sorted(
        req
        for comp, req in found
        if req <= target and _instant_ms(comp) > ts_ms
    )
    if overlapping:
        raise GlueSparkError(
            f"Hudi TIMESTAMP AS OF over {location!r}: concurrent "
            f"commit(s) {overlapping} were requested before instant "
            f"{target} but completed after the asked wall clock — "
            "the request-keyed replay cannot exclude them, so the "
            "snapshot at that timestamp is not reconstructible; "
            "use VERSION AS OF"
        )
    return target


def hudi_instant_for_timestamp(
    location: str, ts_ms: int, mode: str, fs=None
) -> int:
    """Resolve a timestamp to a completed request instant:
    ``mode='start'`` → the OLDEST instant at or after ``ts_ms``,
    ``mode='end'`` → the NEWEST at or before.  None qualifies →
    refuse."""
    names = _timeline_files(location, fs=fs)
    instants = _completed_instants(names, location)
    if not instants:
        raise GlueSparkError(
            f"No completed Hudi instants under {location!r}/.hoodie"
        )
    all_ts = [ts for ts, _k, _p in instants] + [
        ts for ts, _k, _md in read_archived_timeline(location, fs=fs)
    ]
    pairs = sorted((_instant_ms(ts), ts) for ts in all_ts)
    if mode == "start":
        for ms, inst in pairs:
            if ms >= ts_ms:
                return inst
        raise GlueSparkError(
            f"No Hudi instant of {location!r} at or after timestamp "
            f"{ts_ms} (newest instant predates it)"
        )
    target = None
    for ms, inst in pairs:
        if ms <= ts_ms:
            target = inst
    if target is None:
        raise GlueSparkError(
            f"No Hudi instant of {location!r} at or before "
            f"timestamp {ts_ms}"
        )
    return target


def _deltacommit_change_rows(
    spark,
    location: str,
    schema,
    log_stats: list[tuple[str, str]],
    instant: int,
    record_key_field: str,
):
    """Change rows for ONE deltacommit: its log files decoded
    DISTRIBUTED by the block codec (the MOR reader's ``mapInPandas``
    decoder), netted to the LAST action per record key within the
    commit (a data block followed by a delete block for the same key
    nets to the delete — the block order the snapshot merge honors),
    then shaped as changelog rows:

    * upserts → ``update_postimage`` with the payload projected to
      the table schema via ``from_json`` (JVM-side) and partition
      columns re-attached from the log file's partition path;
    * deletes → ``delete`` rows carrying the record key and partition
      columns, remaining data columns null — the key-only delete
      posture of Hudi's own CDC ``op_key_only`` supplemental-logging
      mode (the log block records only the key; reconstructing the
      full preimage would need a prior-instant snapshot scan).

    ``log_stats`` are ``(resolved_path, partition_path, file_id)``
    triples from the deltacommit's write stats.  Netting order is
    ``(log version, block, record)`` — a group whose instant rolled
    over into ``.log.2`` must fold after ``.log.1`` (block indexes
    restart per file); keys are disjoint ACROSS groups (Hudi's
    one-file-group-per-key contract), so no cross-group order is
    needed."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.hudi_mor import (
        _decode_logs_fn,
    )

    for f in schema.fields:
        if "binary" in f.dataType.simpleString():
            raise GlueSparkError(
                f"Hudi changelog over binary column {f.name!r} is "
                "not supported (log payloads travel as JSON); "
                "compact first and window past the deltacommit"
            )
    if record_key_field not in schema.fieldNames():
        raise GlueSparkError(
            f"Hudi deltacommit changelog needs the record key column "
            f"{record_key_field!r} in the table schema "
            f"{schema.fieldNames()} — pass the table's key field"
        )
    paths_df = local_frame(
        spark,
        [(p, str(instant)) for p, *_ in log_stats],
        "path string, commit string",
    ).repartition(min(len(log_stats), 64))
    raw = paths_df.mapInPandas(
        _decode_logs_fn(record_key_field),
        schema=(
            "__key string, __commit string, __src string, "
            "__blk int, __rec int, __op string, __payload string"
        ),
    )
    # only THIS instant's blocks: real Hudi appends blocks to
    # existing log files, so a file named by several deltacommits
    # must not re-emit other instants' rows into this window (blocks
    # without an instant header inherit the file's commit, which is
    # this instant)
    raw = raw.where(F.col("__commit") == str(instant))
    # last action per key within the commit: ONE map-side-combinable
    # aggregation ordered by (log version, block, record) — block
    # indexes restart per file, so a same-group rollover (.log.2
    # after .log.1) folds in version order; no window
    raw = raw.withColumn(
        "__ver",
        F.when(
            F.col("__src").rlike(r"\.log\.\d+"),
            F.regexp_extract(
                F.col("__src"), r"\.log\.(\d+)", 1
            ).cast("int"),
        ).otherwise(F.lit(0)),  # ANSI: '' won't cast, guard first
    )
    last = raw.groupBy("__key").agg(
        F.max_by(
            F.struct("__op", "__payload", "__src"),
            F.struct("__ver", "__blk", "__rec"),
        ).alias("__w")
    ).select(
        "__key",
        F.col("__w.__op").alias("__op"),
        F.col("__w.__payload").alias("__payload"),
        F.col("__w.__src").alias("__src"),
    )
    pv_by_src = {
        p: _pv_from_partition_path(part) for p, part, *_ in log_stats
    }
    pv_cols = sorted(
        {k for pv in pv_by_src.values() for k in pv}
        & set(schema.fieldNames())
    )
    types = {f.name: f.dataType for f in schema.fields}
    from pyspark.sql.types import StructType

    payload_schema = StructType(
        [f for f in schema.fields if f.name not in pv_cols]
    )
    if pv_cols:
        pv_df = local_frame(
            spark,
            [
                (p, *[pv_by_src[p].get(c) for c in pv_cols])
                for p, _part, *_ in log_stats
            ],
            "__src string, "
            + ", ".join(f"__pv_{c} string" for c in pv_cols),
        )
        last = last.join(F.broadcast(pv_df), "__src", "left")

    def _col(name, source):
        return source.cast(types[name]).alias(name)

    upserts = last.where(F.col("__op") == "U").withColumn(
        "__r", F.from_json(F.col("__payload"), payload_schema)
    )
    up_cols = [
        _col(c, F.col(f"__pv_{c}"))
        if c in pv_cols
        else F.col(f"__r.{c}").alias(c)
        for c in schema.fieldNames()
    ]
    dels = last.where(F.col("__op") == "D")
    del_cols = [
        _col(c, F.col(f"__pv_{c}"))
        if c in pv_cols
        else (
            _col(c, F.col("__key"))
            if c == record_key_field
            else F.lit(None).cast(types[c]).alias(c)
        )
        for c in schema.fieldNames()
    ]
    ct = lambda v: F.lit(v).alias("_change_type")  # noqa: E731
    ver = F.lit(int(instant)).cast("long").alias("_commit_version")
    return upserts.select(
        *up_cols, ct("update_postimage"), ver
    ).unionByName(dels.select(*del_cols, ct("delete"), ver))


def hudi_window_units(
    location: str,
    since: int,
    until: int,
    s3_client=None,
    fs=None,
    names: list[str] | None = None,
) -> list[tuple[int, str, object]]:
    """The change-delivering UNITS of the instant window
    ``(since, until]``, shared by the batch ``table_changes()`` TVF
    and the streaming CDF mode: ``(instant, kind, payload)`` where
    ``kind='logs'`` carries a deltacommit's
    ``[(resolved_log_path, partition_path, file_id)]`` write stats,
    ``kind='files'`` a base-slice diff as
    ``(added, removed)`` lists of ``(path, partition_path)`` pairs,
    and ``kind='mor_deletes'`` the per-group merged pre-state of
    live-log file groups a replacecommit retired, as
    ``[(base_entry, log_entries)]`` in the MOR reader's shapes
    (``base_entry = (resolved_path, partition_values, instant)``,
    ``log_entries = [(resolved_path, instant, partition_values)]``).

    Walk semantics (the changelog contract): compaction commits
    (``operationType=compact``, or the structural shape — a plain
    commit that only rewrites file groups carrying live logs) are
    content-preserving and advance the state without emitting.  A
    replacecommit retiring groups with LIVE logs (clustering after
    MOR upserts — the normal MOR lifecycle) emits a
    ``kind='mor_deletes'`` unit carrying the retired groups'
    ``(base_entries, log_entries)`` in the MOR reader's shapes: the
    per-row delta is the MERGED pre-state (base + live logs, the
    exact snapshot view), which the consumers turn into delete rows;
    a retired LOG-BORN group (live logs, no base slice) still refuses
    — its pre-state needs a base-less merge this walk does not carry.
    A deltacommit that also writes BASE files (real Hudi MOR routes
    inserts to new base files inside deltacommits) emits those as an
    insert unit at the deltacommit's OWN instant — previously they
    were attributed to the next base-state diff, or silently dropped
    when the deltacommit closed the window; a deltacommit REWRITING
    an existing group's base slice refuses (no row semantics without
    the fold it implies).  Driver-side, metadata-scale."""
    if names is None:
        names = _timeline_files(location, fs=fs)
    instants = _completed_instants(names, location)
    # r14: archived instants deliver change windows too — archival
    # preserves each instant's write stats, which is all a COW diff
    # or deltacommit unit needs (a window whose files clean later
    # removed surfaces loudly at read, the time-travel posture)
    merged_instants: list[tuple[int, str, object]] = [
        (ts, kind, md)
        for ts, kind, md in read_archived_timeline(
            location, s3_client, fs
        )
        if ts < instants[0][0]
    ] + [(ts, kind, p) for ts, kind, p in instants]

    def _base_state(ts: int | None):
        """State at ``ts``: ``slices`` (fid → (instant, raw_path,
        partition)), the fids carrying LIVE logs, and those fids'
        live-log entries (fid → [(instant, resolved_path,
        partition)])."""
        slices, logs = _walk_timeline(
            location, names, s3_client, as_of_instant=ts, fs=fs
        )
        live: set[str] = set()
        logs_by_fid: dict[str, list] = {}
        for lts, lp, fid, lpart in logs:
            if fid not in slices or lts > slices[fid][0]:
                live.add(fid)
                logs_by_fid.setdefault(fid, []).append(
                    (lts, _resolve_path(location, lp), lpart)
                )
        return slices, live, logs_by_fid

    prev_slices, prev_live, prev_logs = (
        _base_state(since) if since else ({}, set(), {})
    )
    units: list[tuple[int, str, object]] = []
    for ts, kind, src in merged_instants:
        if ts > until:
            break
        if ts <= since:
            continue
        data = (
            src
            if isinstance(src, dict)
            else json.loads(_read_bytes(src, s3_client))
        )
        prev_files = {
            path: part for _t, path, part in prev_slices.values()
        }
        if kind == "deltacommit":
            log_stats = []
            base_stats = []  # (fid, path, partition) for base writes
            for part, stats in (
                data.get("partitionToWriteStats") or {}
            ).items():
                for st in stats:
                    path = st.get("path")
                    if not path:
                        continue
                    pp = st.get("partitionPath", part)
                    if ".log." in path.rsplit("/", 1)[-1]:
                        fid = _file_id(st, path)
                        log_stats.append(
                            (_resolve_path(location, path), pp, fid)
                        )
                        # only LOG-writing groups carry live log
                        # blocks — a base-only insert group must not
                        # trip the replacecommit live-log handling
                        prev_live.add(fid)
                        prev_logs.setdefault(fid, []).append(
                            (ts, _resolve_path(location, path), pp)
                        )
                    else:
                        base_stats.append(
                            (_file_id(st, path), path, pp)
                        )
            if log_stats:
                units.append((ts, "logs", log_stats))
            # real MOR routes INSERTS to new base files inside
            # deltacommits — emit them at THIS instant and fold them
            # into the tracked base state so the next refresh's diff
            # does not re-attribute them
            added_base = []
            for fid, path, pp in base_stats:
                old = prev_slices.get(fid)
                if old is not None and old[1] != path:
                    raise GlueSparkError(
                        f"Hudi deltacommit {ts} of {location!r} "
                        f"rewrites the base slice of file group "
                        f"{fid!r} — a base rewrite inside a "
                        "deltacommit has no per-row delta without "
                        "the fold it implies; compact_hudi() and "
                        "window past it"
                    )
                if old is None:
                    added_base.append((path, pp))
                    prev_slices[fid] = (ts, path, pp)
            if added_base:
                units.append(
                    (ts, "files", (sorted(added_base), []))
                )
            continue
        cur_slices, cur_live, cur_logs = _base_state(ts)
        cur_files = {
            path: part for _t, path, part in cur_slices.values()
        }
        written_fids = {
            st["fileId"]
            for stats in (
                data.get("partitionToWriteStats") or {}
            ).values()
            for st in stats
            if st.get("fileId")
        }
        is_compaction = kind == "commit" and (
            str(data.get("operationType", "")).lower() == "compact"
            or (
                written_fids
                and written_fids <= set(prev_slices)
                and written_fids <= prev_live
            )
        )
        if is_compaction:
            prev_slices, prev_live, prev_logs = (
                cur_slices, cur_live, cur_logs,
            )
            continue
        skip_removed: set[str] = set()
        if kind == "replacecommit":
            replaced = {
                fid
                for ids in (
                    data.get("partitionToReplaceFileIds") or {}
                ).values()
                for fid in ids
            }
            live_retired = sorted(replaced & prev_live)
            if live_retired:
                # the retired groups' pre-state is base + live logs
                # MERGED (the snapshot view) — emit one
                # (base_entry, log_entries) pair per group so the
                # stream can merge groups in parallel (a file group
                # is Hudi's bounded merge unit and its keys are
                # disjoint from every other group's); their base
                # files must then NOT also flow through the raw
                # file diff.  A LOG-BORN group (live logs, no base
                # slice — insert-routed-to-logs writers) emits
                # base_entry=None: its pre-state is the same fold
                # minus the base seed (r13; previously refused)
                groups = []
                for fid in live_retired:
                    if fid in prev_slices:
                        bts, bpath, bpart = prev_slices[fid]
                        skip_removed.add(bpath)
                        base_entry = (
                            _resolve_path(location, bpath),
                            _pv_from_partition_path(bpart),
                            bts,
                        )
                    else:
                        base_entry = None
                    groups.append(
                        (
                            base_entry,
                            sorted(
                                (
                                    lpath,
                                    lts,
                                    _pv_from_partition_path(lpart),
                                )
                                for lts, lpath, lpart in (
                                    prev_logs.get(fid, [])
                                )
                            ),
                        )
                    )
                units.append((ts, "mor_deletes", groups))
        added = sorted(
            (f, cur_files[f])
            for f in set(cur_files) - set(prev_files)
        )
        removed = sorted(
            (f, prev_files[f])
            for f in set(prev_files) - set(cur_files)
            if f not in skip_removed
        )
        if added or removed:
            units.append((ts, "files", (added, removed)))
        prev_slices, prev_live, prev_logs = (
            cur_slices, cur_live, cur_logs,
        )
    return units


def hudi_table_changes(
    spark,
    location: str,
    start_instant: int,
    end_instant: int | None = None,
    fs=None,
    s3_client=None,
    record_key_field: str | None = None,
):
    """Row-level changelog for the INCLUSIVE instant window
    ``[start_instant, end_instant]`` (end defaults to the newest
    completed instant): the table's columns plus ``_change_type``
    (insert / delete / update_postimage) and ``_commit_version``
    (the delivering instant) — the batch ``table_changes()`` TVF
    shape over the timeline.

    Per instant kind:

    * ``commit`` — base-file diff vs the prior state: new slices emit
      inserts; a commit marked ``operationType=compact`` (or one that
      only rewrites file groups carrying live logs — the compaction
      shape) is content-preserving and advances the state WITHOUT
      emitting (its rows were already emitted by the deltacommits it
      folds);
    * ``deltacommit`` — the MOR log blocks DECODE into per-row
      changes (:func:`_deltacommit_change_rows`): upserts emit as
      ``update_postimage``, delete blocks as key-carrying ``delete``
      rows.  Needs the recorded ``extraMetadata.schema`` and the
      record key field (``record_key_field``, default
      ``_hoodie_record_key``);
    * ``replacecommit`` — retired slices emit deletes, replacement
      slices inserts (COW DELETE/UPDATE/MERGE, clustering); a retired
      file group that still carries LIVE log blocks emits deletes
      from its MERGED pre-state (base + logs — the exact snapshot
      view, via :func:`~glue_table_cache_spark.sources.hudi_mor
      .hudi_mor_read`), so clustering-after-upserts windows stream
      instead of refusing; only a retired LOG-BORN group (live logs,
      no base slice) still refuses.

    Driver walks the timeline only; row reads are distributed
    ``basePath``-anchored scans (hive-style partition columns
    re-attach; the recorded ``extraMetadata.schema`` types evolved
    tables) and the log decode is a distributed ``mapInPandas``."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.hudi_mor import (
        DEFAULT_RECORD_KEY,
    )

    if record_key_field is None:
        record_key_field = DEFAULT_RECORD_KEY
    names = _timeline_files(location, fs=fs)
    instants = _completed_instants(names, location)
    if not instants:
        raise GlueSparkError(
            f"No completed Hudi instants under {location!r}/.hoodie"
        )
    all_ts = sorted(ts for ts, _k, _p in instants)
    if end_instant is None:
        end_instant = all_ts[-1]
    if start_instant > end_instant:
        raise GlueSparkError(
            f"table_changes window is inverted: start "
            f"{start_instant} > end {end_instant}"
        )
    if start_instant > all_ts[-1]:
        raise GlueSparkError(
            f"table_changes start bound {start_instant} is past the "
            f"newest completed Hudi instant {all_ts[-1]} of "
            f"{location!r}"
        )
    # a start at or before the oldest KNOWN instant (archived
    # included, r14 — a mid-archive start must not widen to genesis)
    # means "from genesis"
    oldest_known = min(
        all_ts
        + [
            ts
            for ts, _k, _md in read_archived_timeline(
                location, s3_client, fs
            )
        ]
    )
    since = start_instant - 1
    if since < oldest_known:
        since = 0
    units = hudi_window_units(
        location, since, end_instant, s3_client=s3_client, names=names
    )

    schema = None
    try:
        from glue_table_cache_spark.streaming.hudi_source import (
            _stream_schema,
        )

        schema = _stream_schema(location)
    except GlueSparkError:
        pass  # no recorded schema: parquet self-describes
    reader = spark.read.option("basePath", location)
    if schema is not None:
        reader = reader.schema(schema)
    pieces = []
    for ts, unit_kind, payload in units:
        if unit_kind == "logs":
            if schema is None:
                raise GlueSparkError(
                    f"Hudi deltacommit {ts} of {location!r} needs a "
                    "recorded extraMetadata.schema to type its log "
                    "payloads — write through write_hudi_append, or "
                    "compact and window past it"
                )
            pieces.append(
                _deltacommit_change_rows(
                    spark, location, schema, payload, ts,
                    record_key_field,
                )
            )
            continue
        if unit_kind == "mor_deletes":
            # a replacecommit retired file groups still carrying live
            # logs (clustering after MOR upserts): the rows that died
            # are the groups' MERGED pre-state — the exact snapshot
            # view the MOR reader computes
            from glue_table_cache_spark.sources.hudi_mor import (
                hudi_mor_read,
            )

            base_entries = [
                b for b, _logs in payload if b is not None
            ]
            log_entries = [
                e for _b, logs in payload for e in logs
            ]
            pre = hudi_mor_read(
                spark,
                base_entries,
                log_entries,
                record_key_field=record_key_field,
                base_path=location,
                schema=schema,  # types a base-less (log-born) merge
            )
            pieces.append(
                pre.withColumn(
                    "_change_type", F.lit("delete")
                ).withColumn(
                    "_commit_version", F.lit(ts).cast("long")
                )
            )
            continue
        added, removed = payload
        for pairs, ct in ((added, "insert"), (removed, "delete")):
            if pairs:
                pieces.append(
                    reader.parquet(
                        *[
                            _resolve_path(location, p)
                            for p, _part in pairs
                        ]
                    )
                    .withColumn("_change_type", F.lit(ct))
                    .withColumn(
                        "_commit_version", F.lit(ts).cast("long")
                    )
                )
    if not pieces:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        if schema is None:
            raise GlueSparkError(
                f"table_changes window of {location!r} is empty and "
                "the timeline records no extraMetadata.schema to "
                "type the empty result"
            )
        return local_frame(
            spark,
            [],
            StructType(
                list(schema.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            ),
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
