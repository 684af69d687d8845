"""MERGE_ON_READ log-append writer + compaction for Hudi tables.

Completes the Hudi writer symmetry the r5 suite left open: the repo
could READ MOR tables (pure-Python log codec in
:mod:`..sources.hudi_log`, distributed merge in
:mod:`..sources.hudi_mor`) and append COW base files
(:mod:`.hudi_write`), but not publish row-level updates/deletes.
This module writes them the MOR way — an ``AVRO_DATA_BLOCK`` /
``DELETE_BLOCK`` appended as a log file against the record's file
group, published by ONE ``O_EXCL`` ``<instant>.deltacommit`` — and
provides the COMPACTION that folds logs back into base slices.

Routing (the index problem): a Hudi upsert must land in the file
group that HOLDS its record key.  This writer resolves that with the
simple-index shape real Hudi uses at small-key-batch scale: the
(micro-batch-sized, broadcast) upsert keys are semi-joined against a
distributed scan of the active base files' key column +
``_metadata.file_path`` — the corpus is scanned in place, only the
matches come back to the driver (which must hold the batch anyway:
log block payloads are built by the driver-side codec).  Keys not
found in any group are INSERTS and land in the first active file
group of ``insert_partition``.

Compaction (:func:`compact_hudi`) rewrites, per file group with live
logs, the group's merged snapshot view into a fresh base slice at a
new instant — after which the logs are dead (older than the base
slice) and :func:`.hudi_optimize.clean_hudi` collects them.
Concurrency follows the optimizers: instant pinned before a per-
attempt validation that every compacted group is still active, then
``O_EXCL`` on the instant file.
"""

from __future__ import annotations

import functools
import json
import re
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.sinks.hudi_write import _latest_instant
from glue_table_cache_spark.sources.hudi import (
    _BASE_FILE_RE,
    _table_type,
    _timeline_files,
    _walk_timeline,
)

#: Spark primitive → Avro primitive for log-block record schemas
_AVRO_TYPES = {
    "long": "long",
    "integer": "int",
    "int": "int",
    "short": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
}


def _avro_schema(df: DataFrame) -> dict:
    fields = []
    for f in df.schema.fields:
        name = f.dataType.typeName()
        t: object = _AVRO_TYPES.get(name)
        if t is None and name == "timestamp":
            t = {"type": "long", "logicalType": "timestamp-micros"}
        elif t is None and name == "date":
            t = {"type": "int", "logicalType": "date"}
        if t is None:
            raise GlueSparkError(
                f"write_hudi_log cannot encode column {f.name!r} of "
                f"type {f.dataType.simpleString()} into an Avro log "
                "block (primitives + timestamp/date only); cast or "
                "drop it"
            )
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return {"type": "record", "name": "HoodieRecord", "fields": fields}


def _require_mor(location: str) -> None:
    names = _timeline_files(location)
    if _table_type(names) != "MERGE_ON_READ":
        raise GlueSparkError(
            f"table at {location!r} is not MERGE_ON_READ: log blocks "
            "are the MOR update path — create the table with "
            "write_hudi_append(..., table_type='MERGE_ON_READ'), or "
            "rewrite COW file groups instead"
        )


def _active_groups(
    location: str,
) -> dict[str, tuple[str, str]]:
    """``fileId → (base_path, partition)`` for every live file group."""
    slices, _logs = _walk_timeline(location, _timeline_files(location))
    base = Path(location)
    out: dict[str, tuple[str, str]] = {}
    for fid, (_ts, path, part) in slices.items():
        p = path if path.startswith("/") else str(base / path)
        out[fid] = (p, part)
    return out


def _log_key_fids(
    location: str, want: set[str], record_key_field: str
) -> dict[str, str]:
    """``record key → fileId`` for keys that live only in LOG blocks
    (log-born inserts the base-file scan cannot see): decode the live
    log files on the driver (the same micro-batch-scale codec posture
    as the writer itself) and map each wanted key to the file group
    whose log last touched it.  Without this, a later delete/upsert
    of a log-born key would route to the wrong group — and per-group
    compaction would then resurrect (or duplicate) the row, because
    each group folds only its OWN log blocks."""
    from glue_table_cache_spark.sources.hudi import _walk_timeline
    from glue_table_cache_spark.sources.hudi_log import (
        read_log_blocks,
    )
    from glue_table_cache_spark.sources.iceberg import _read_bytes

    names = _timeline_files(location)
    slices, logs = _walk_timeline(location, names)
    base = Path(location)
    live = sorted(
        (ts, path, fid)
        for ts, path, fid, _part in logs
        if fid not in slices or ts > slices[fid][0]
    )
    mapping: dict[str, str] = {}
    for _ts, path, fid in live:  # ascending: newest touch wins
        p = path if path.startswith("/") else str(base / path)
        blocks = read_log_blocks(_read_bytes(p), name=p)
        rolled = {
            b["target_instant"]
            for b in blocks
            if b["type"] == "command" and b.get("target_instant")
        }
        for b in blocks:
            if b["instant"] in rolled:
                continue
            for rec in b["records"]:
                k = str(rec.get(record_key_field))
                if k in want:
                    mapping[k] = fid
            for k, _part in b["deletes"]:
                if str(k) in want:
                    mapping[str(k)] = fid
    return mapping


def write_hudi_log(
    spark: SparkSession,
    location: str,
    record_key_field: str,
    upserts: DataFrame | None = None,
    delete_keys: list | None = None,
    insert_partition: str = "",
    max_commit_retries: int = 10,
    max_upsert_rows: int = 1_000_000,
) -> str:
    """Publish row-level ``upserts`` (a DataFrame matching the base
    schema) and/or ``delete_keys`` (record-key values) to the MOR
    table at ``location`` as log blocks under one atomic deltacommit;
    returns the committed instant.  Readers
    (:func:`..sources.hudi.hudi_mor_scan_info` +
    :func:`..sources.hudi_mor.hudi_mor_read`) see the whole batch or
    none of it."""
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "write_hudi_log commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    _require_mor(location)
    if upserts is None and not delete_keys:
        raise GlueSparkError(
            "write_hudi_log needs upserts and/or delete_keys"
        )
    groups = _active_groups(location)
    if not groups:
        raise GlueSparkError(
            f"table at {location!r} has no active file groups; append "
            "base files first (write_hudi_append)"
        )

    # --- resolve key → file group (distributed scan, driver gets
    # only the matches; the batch itself is driver-held by the codec)
    from pyspark.sql import functions as F

    want_keys: set[str] = set()
    records: list[dict] = []
    full_records: list[dict] = []
    pfields: list[str] = []
    schema = None
    if upserts is not None:
        if record_key_field not in upserts.columns:
            raise GlueSparkError(
                f"upserts lack record key field {record_key_field!r}"
            )
        from glue_table_cache_spark.sources.hudi import (
            hudi_table_schema,
        )

        table_schema = hudi_table_schema(location)
        if table_schema is not None:
            existing = {
                f.name: f.dataType for f in table_schema.fields
            }
            drift = sorted(
                f.name
                for f in upserts.schema.fields
                if f.name in existing
                and existing[f.name] != f.dataType
            )
            if drift:
                raise GlueSparkError(
                    "upserts change the type of column(s) "
                    f"{drift} — cast to the table schema"
                )
            new = sorted(
                f.name
                for f in upserts.schema.fields
                if f.name not in existing
            )
            if new:
                raise GlueSparkError(
                    f"upserts carry new column(s) {new} the table "
                    "schema lacks — log blocks cannot evolve the "
                    "schema (the snapshot merge would have to "
                    "reconcile mixed record schemas); drop them"
                )
        # partition columns never enter the log PAYLOAD (the base
        # schema is data-only; the MOR reader re-attaches the value
        # from the log file's partition directory via write stats) —
        # they only steer per-record ROUTING below
        from glue_table_cache_spark.sinks.hudi_write import (
            _recorded_partition_fields,
        )

        pfields = _recorded_partition_fields(
            location, base / ".hoodie" / "hoodie.properties"
        ) or []
        payload_df = upserts.drop(
            *[c for c in pfields if c in upserts.columns]
        )
        schema = _avro_schema(payload_df)
        # log-block payloads are driver-built by the Avro codec (the
        # micro-batch contract) — bound the collect the way
        # delete_from_delta's max_deleted_rows does, so a bulk load
        # refuses loudly instead of OOMing the driver
        capped = upserts.limit(max_upsert_rows + 1).collect()
        if len(capped) > max_upsert_rows:
            raise GlueSparkError(
                f"write_hudi_log upsert batch exceeds "
                f"{max_upsert_rows} rows — log blocks are a "
                "micro-batch path; bulk-load via write_hudi_append "
                "(COW base files) and compact, or raise "
                "max_upsert_rows"
            )
        full_records = [r.asDict() for r in capped]
        payload_cols = set(payload_df.columns)
        records = [
            {k: v for k, v in r.items() if k in payload_cols}
            for r in full_records
        ]
        want_keys |= {str(r[record_key_field]) for r in records}
    del_keys = [str(k) for k in (delete_keys or [])]
    want_keys |= set(del_keys)

    keys_df = local_frame(
        spark,
        [(k,) for k in sorted(want_keys)], "__k string"
    )
    scan = spark.read.parquet(*[p for p, _part in groups.values()])
    if record_key_field not in scan.columns:
        raise GlueSparkError(
            f"record key field {record_key_field!r} is not in the "
            f"base schema {scan.columns}"
        )
    matches = (
        scan.select(
            F.col(record_key_field).cast("string").alias("__k"),
            F.col("_metadata.file_path").alias("__file"),
        )
        .join(F.broadcast(keys_df), "__k")
        .distinct()
        .collect()
    )
    key_to_fid: dict[str, str] = {}
    for r in matches:
        m = _BASE_FILE_RE.search(r["__file"])
        if m:
            key_to_fid[r["__k"]] = m.group(1)
    # keys absent from every base file may still be LOG-BORN (inserted
    # by an earlier log block): resolve them to their group from the
    # live logs, or compaction would resurrect deleted log-born rows
    unresolved = want_keys - set(key_to_fid)
    if unresolved:
        key_to_fid.update(
            _log_key_fids(location, unresolved, record_key_field)
        )
    # inserts: first active group of the insert partition
    part_groups = sorted(
        fid for fid, (_p, part) in groups.items()
        if part == insert_partition
    )
    if not part_groups:
        part_groups = sorted(groups)
    default_fid = part_groups[0]
    # partitioned-table inserts route on the RECORD's own partition
    # values (hive-escaped k=v path) — each new row's log block must
    # land in its partition or the merged view misplaces it
    from glue_table_cache_spark.sinks.hive_paths import (
        escape_partition_value,
    )

    part_first_fid: dict[str, str] = {}
    for fid in sorted(groups):
        part_first_fid.setdefault(groups[fid][1], fid)
    rec_fids: list[str] = []
    for rec, full in zip(records, full_records):
        fid = key_to_fid.get(str(rec[record_key_field]))
        if fid is None:  # an INSERT, not an upsert of a live key
            if pfields:
                absent = [k for k in pfields if k not in full]
                if absent:
                    # routing a partitioned-table insert to
                    # default_fid would surface the row under the
                    # wrong partition (the reader re-attaches pcols
                    # from the log file's directory) — refuse
                    raise GlueSparkError(
                        "MOR insert on a partitioned table is "
                        f"missing partition column(s) {absent} — "
                        "supply every recorded partition field so "
                        "the log block lands in its partition"
                    )
                part = "/".join(
                    f"{k}={escape_partition_value(full[k])}"
                    for k in pfields
                )
                fid = part_first_fid.get(part)
                if fid is None:
                    raise GlueSparkError(
                        f"MOR insert targets partition {part!r} "
                        "which has no active file group (log blocks "
                        "attach to file groups) — seed the "
                        "partition with write_hudi_append first"
                    )
            else:
                fid = default_fid
        rec_fids.append(fid)

    def build(instant: str) -> dict[str, list[dict]]:
        """Write per-group log files for ``instant``; returns the
        commit's partitionToWriteStats."""
        from glue_table_cache_spark.sources.hudi_log import (
            data_block,
            delete_block,
            write_log_file,
        )

        per_group: dict[str, tuple[list[dict], list[str]]] = {}
        for rec, fid in zip(records, rec_fids):
            per_group.setdefault(fid, ([], []))[0].append(rec)
        for k in del_keys:
            fid = key_to_fid.get(k)
            if fid is None:
                continue  # deleting a nonexistent key is a no-op
            per_group.setdefault(fid, ([], []))[1].append(k)
        stats_by_part: dict[str, list[dict]] = {}
        for fid, (recs, dels) in sorted(per_group.items()):
            part = groups[fid][1]
            blocks = []
            if recs:
                blocks.append(data_block(instant, schema, recs))
            if dels:
                blocks.append(
                    delete_block(instant, [(k, part) for k in dels])
                )
            name = f".{fid}_{instant}.log.1_0-0-0"
            rel = f"{part}/{name}" if part else name
            dest = base / rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            write_log_file(dest, blocks)
            stats_by_part.setdefault(part, []).append(
                {"fileId": fid, "path": rel, "partitionPath": part}
            )
        return stats_by_part

    hoodie = base / ".hoodie"
    written: dict[str, list[dict]] | None = None
    instant = None
    for _attempt in range(max_commit_retries):
        fresh = max(
            int(time.strftime("%Y%m%d%H%M%S", time.gmtime())),
            _latest_instant(hoodie) + 1,
        )
        if written is not None:
            # lost a race: the log blocks carry the instant in their
            # headers (merge ordering), so rebuild them under the new
            # instant rather than commit blocks stamped with a stale one
            for stats in written.values():
                for st in stats:
                    (base / st["path"]).unlink(missing_ok=True)
        instant = fresh
        written = build(str(instant))
        if not written:
            return str(instant)  # all deletes were no-ops
        commit = hoodie / f"{instant}.deltacommit"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps({"partitionToWriteStats": written}))
        return str(instant)
    raise GlueSparkError(
        f"could not commit deltacommit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def compact_hudi(
    spark: SparkSession,
    location: str,
    record_key_field: str,
    max_commit_retries: int = 10,
    max_driver_bytes: int = 64 << 20,
) -> str | None:
    """Fold every file group's live logs into a fresh base slice (the
    MOR compaction table service); returns the committed instant, or
    ``None`` when no group carries live logs.  After compaction the
    logs are dead (older than the new base slice) and
    :func:`.hudi_optimize.clean_hudi` collects them.

    A group whose base slice plus live logs stay within
    ``max_driver_bytes`` on disk is collected to the driver and
    written there with pyarrow (no Spark write job); the larger groups
    are written executor-side by one :func:`_write_group_slices` job,
    so the driver never holds them."""
    from glue_table_cache_spark.sources.hudi import hudi_mor_scan_info
    from glue_table_cache_spark.sources.hudi_mor import hudi_mor_read

    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "compact_hudi commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    _require_mor(location)
    names = _timeline_files(location)
    slices, logs = _walk_timeline(location, names)
    live_by_fid: dict[str, list[tuple[int, str, str]]] = {}
    for ts, path, fid, part in logs:
        if fid not in slices or ts > slices[fid][0]:
            live_by_fid.setdefault(fid, []).append((ts, path, part))
    if not live_by_fid:
        return None
    for fid in live_by_fid:
        if fid not in slices:
            raise GlueSparkError(
                f"file group {fid!r} has log files but no base slice "
                "— log-only groups are not compactable by this path"
            )

    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.fixture_io import (
        write_single_parquet,
    )

    batch = uuid.uuid4().hex[:8]
    staged: list[tuple[str, str, str]] = []  # (fid, part, rel_path)
    instant_tag = _latest_instant(base / ".hoodie") + 1
    large: dict[str, DataFrame] = {}  # fid -> frame, written executor-side

    def stage_on_driver(fid: str, merged: DataFrame) -> None:
        # single pyarrow write (see sources/fixture_io): per-group
        # frames are small by MOR design, and the coalesce(1)
        # Spark-write shape pays a full job (plus sequential
        # Python-slice round-trips when log rows ride a createDataFrame
        # lineage) per file group
        part = slices[fid][2]
        name = f"{fid}_0-0-0_{instant_tag}.parquet"
        rel = f"{part}/{name}" if part else name
        write_single_parquet(merged, base / rel)
        staged.append((fid, part, rel))

    for fid, group_logs in sorted(live_by_fid.items()):
        ts, slice_path, _part = slices[fid]
        slice_abs = (
            slice_path
            if slice_path.startswith("/")
            else str(base / slice_path)
        )
        log_abs = [
            (p if p.startswith("/") else str(base / p), lts)
            for lts, p, _pt in sorted(group_logs)
        ]
        merged = hudi_mor_read(
            spark,
            [(slice_abs, {}, ts)],
            log_abs,
            record_key_field=record_key_field,
        )
        group_bytes = sum(
            os.path.getsize(p) for p in [slice_abs] + [p for p, _ in log_abs]
        )
        if group_bytes > max_driver_bytes:
            large[fid] = merged
        else:
            stage_on_driver(fid, merged)
    if large:
        frames = [m.withColumn("__fid", F.lit(f)) for f, m in large.items()]
        out = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
        stats, _rels = _write_group_slices(
            spark,
            base,
            out,
            {fid: slices[fid][2] for fid in large},
            batch,
            instant_tag,
        )
        staged += [(s["fileId"], s["partitionPath"], s["path"]) for s in stats]
        # a group whose every row was deleted has no rows to partition
        # by: its slice is empty, so the driver writes it
        for fid in sorted(set(large) - {s["fileId"] for s in stats}):
            stage_on_driver(fid, large[fid])

    hoodie = base / ".hoodie"
    compacted = set(live_by_fid)
    for _attempt in range(max_commit_retries):
        # same posture as the optimizers: pin the instant, validate
        # EVERY attempt that each compacted group is still active (a
        # concurrent replacecommit retiring one would be resurrected
        # by a late compaction commit), then O_EXCL
        instant = _latest_instant(hoodie) + 1
        fresh_slices, _l = _walk_timeline(
            location, _timeline_files(location)
        )
        if not compacted <= set(fresh_slices):
            for _fid, _part, rel in staged:
                (base / rel).unlink(missing_ok=True)
            raise GlueSparkError(
                "compact_hudi lost a conflicting race: a compacted "
                "file group is no longer active; table left "
                "untouched — re-run"
            )
        stats_by_part: dict[str, list[dict]] = {}
        for fid, part, rel in staged:
            stats_by_part.setdefault(part, []).append(
                {
                    "fileId": fid,
                    "path": rel,
                    "partitionPath": part,
                    "fileSizeInBytes": (base / rel).stat().st_size,
                }
            )
        commit = hoodie / f"{instant}.commit"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            # operationType=compact is real Hudi's commit-metadata
            # marker for the compaction table service — the changelog
            # walk uses it to treat this commit as content-preserving
            # (the rewritten base folds rows already emitted by the
            # deltacommits), never as row changes
            f.write(
                json.dumps(
                    {
                        "partitionToWriteStats": stats_by_part,
                        "operationType": "compact",
                    }
                )
            )
        return str(instant)
    raise GlueSparkError(
        f"could not commit compaction to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def delete_from_hudi(
    spark: SparkSession,
    location: str,
    predicate,
    max_commit_retries: int = 10,
) -> tuple[str | None, int]:
    """Row-level DELETE for COPY_ON_WRITE Hudi tables — the COW
    delete IS a file-group rewrite, published as ONE replacecommit:
    partially-matched groups get a fresh base slice holding their
    surviving rows (same ``fileId``, newest-slice-wins), groups whose
    EVERY row matched are retired via ``partitionToReplaceFileIds``.
    Returns ``(instant, n_deleted)`` — ``(None, 0)`` when nothing
    matched.  MERGE_ON_READ tables refuse: their delete path is a
    DELETE log block (:func:`write_hudi_log` with ``delete_keys``),
    which touches no base file.

    Concurrency follows the optimizers: instant pinned before a
    per-attempt validation that every affected group is still active,
    then ``O_EXCL`` on the instant file."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.hudi import hudi_scan_info
    from glue_table_cache_spark.sources.delta import hadoop_uri_encode
    from glue_table_cache_spark.sources.iceberg import _strip_path

    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "delete_from_hudi commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    names = _timeline_files(location)
    if _table_type(names) != "COPY_ON_WRITE":
        raise GlueSparkError(
            "delete_from_hudi rewrites COPY_ON_WRITE base files; for "
            "MERGE_ON_READ use write_hudi_log(delete_keys=...) — a "
            "DELETE log block, no rewrite needed"
        )
    active = hudi_scan_info(location)
    if not active:
        return None, 0
    df = spark.read.parquet(*[p for p, _pv in active])
    # directory-only partition columns attach so the predicate
    # resolves (WHERE year = '2024' on a hive-partitioned table)
    tagged, _attached = _tag_with_partition_columns(
        spark, df, active
    )
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    if isinstance(predicate, str) and re.search(
        r"\(\s*SELECT\b", predicate, re.IGNORECASE
    ):
        # subquery predicates only resolve in FILTERS — two small
        # aggs (hits via where(), totals per file) instead of the
        # one-pass projected-flag agg
        hits = (
            tagged.where(cond)
            .groupBy("__f")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        totals = tagged.groupBy("__f").agg(
            F.count(F.lit(1)).alias("__t")
        )
        per_file = hits.join(totals, "__f").collect()
    else:
        per_file = (
            tagged.select("__f", cond.cast("int").alias("__hit"))
            .groupBy("__f")
            .agg(
                F.sum("__hit").alias("__n"),
                F.count(F.lit(1)).alias("__t"),
            )
            .where(F.col("__n") > 0)
            .collect()
        )
    if not per_file:
        return None, 0
    # map keys use the _metadata spelling (Hadoop-URI-encoded)
    stripped_to_path = {
        _strip_path(hadoop_uri_encode(p)): p for p, _pv in active
    }
    rewrite: list[str] = []  # partially matched: new slice
    retire: list[str] = []  # fully matched: replace the group
    n_deleted = 0
    for r in per_file:
        path = stripped_to_path.get(_strip_path(r["__f"]), r["__f"])
        n_deleted += int(r["__n"])
        (retire if r["__n"] == r["__t"] else rewrite).append(path)

    batch = uuid.uuid4().hex[:8]
    hoodie = base / ".hoodie"
    instant_tag = _latest_instant(hoodie) + 1
    stats_by_part: dict[str, list[dict]] = {}
    staged: list[str] = []
    if rewrite:
        from glue_table_cache_spark.sources.iceberg import (
            _strip_scheme,
        )

        fid_part: dict[str, str] = {}
        for path in rewrite:
            part = str(Path(path).parent.relative_to(base))
            fid_part[_fid_of(path)] = "" if part == "." else part
        # ONE distributed job rewrites every partially-matched group
        # (surviving rows only), partitionBy("__fid") splitting the
        # output per group — no per-group job loop; attached
        # partition columns evaluate the predicate then DROP (they
        # live in the directory, never in the data files)
        tagged2, attached2 = _tag_with_partition_columns(
            spark, spark.read.parquet(*sorted(rewrite)), active
        )
        out = (
            tagged2.where(~cond)
            .drop(*attached2)
            .withColumn("__sp", _strip_scheme(F.col("__f")))
            .drop("__f")
            .join(_fid_map_df(spark, sorted(rewrite)), "__sp")
            .drop("__sp")
        )
        stats, staged = _write_group_slices(
            spark, base, out, fid_part, batch, instant_tag
        )
        for st in stats:
            stats_by_part.setdefault(
                st["partitionPath"], []
            ).append(st)
    replace_by_part: dict[str, list[str]] = {}
    for path in retire:
        part = str(Path(path).parent.relative_to(base))
        part = "" if part == "." else part
        replace_by_part.setdefault(part, []).append(_fid_of(path))

    affected = {str(Path(p)) for p in rewrite + retire}
    payload = json.dumps(
        {
            "partitionToWriteStats": stats_by_part,
            "partitionToReplaceFileIds": replace_by_part,
        }
    )
    for _attempt in range(max_commit_retries):
        instant = _latest_instant(hoodie) + 1
        fresh = {str(Path(p)) for p, _pv in hudi_scan_info(location)}
        if not affected <= fresh:
            for rel in staged:
                (base / rel).unlink(missing_ok=True)
            raise GlueSparkError(
                "delete_from_hudi lost a conflicting race: an "
                "affected file group is no longer active; table left "
                "untouched — re-run"
            )
        commit = hoodie / f"{instant}.replacecommit"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return str(instant), n_deleted
    raise GlueSparkError(
        f"could not commit DELETE to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def _tag_with_partition_columns(spark, df, active):
    """``(tagged, attached)``: ``tagged`` is ``df`` plus ``__f`` (the
    ``_metadata`` file path) plus any hive partition columns the base
    files do not STORE — Spark's ``partitionBy`` strips them to the
    directory, so a predicate like ``WHERE year = '2024'`` would not
    resolve on a raw multi-file read.  The directory-parsed values
    join back in through a broadcast file→values map (file-count
    bounded) as STRING columns: the (unescaped) directory spelling is
    the only authority, and Spark's comparison coercion types numeric
    literals.  ``attached`` names the joined-in columns so writers
    can drop them before staging (they must never land in data
    files)."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.delta import hadoop_uri_encode
    from glue_table_cache_spark.sources.iceberg import (
        _strip_path,
        _strip_scheme,
    )

    tagged = df.select(
        F.col("_metadata.file_path").alias("__f"), "*"
    )
    missing = sorted(
        {k for _p, pv in active for k in pv} - set(df.columns)
    )
    if not missing:
        return tagged, []
    pv_map = F.broadcast(
        local_frame(
            spark,
            [
                (
                    _strip_path(hadoop_uri_encode(p)),
                    *[pv.get(c) for c in missing],
                )
                for p, pv in active
            ],
            ", ".join(
                ["__sp string"]
                + [f"`{c}` string" for c in missing]
            ),
        )
    )
    tagged = (
        tagged.withColumn("__sp", _strip_scheme(F.col("__f")))
        .join(pv_map, "__sp")
        .drop("__sp")
    )
    return tagged, missing


def _write_group_slices(
    spark: SparkSession,
    base: Path,
    out,
    fid_part: dict[str, str],
    batch: str,
    instant_tag: int,
) -> tuple[list[dict], list[str]]:
    """Write ``out`` (table columns + ``__fid``) as ONE distributed
    job, one fresh base slice per file group: ``repartition("__fid")``
    puts each group's rows in exactly one task, ``partitionBy``
    splits them into per-fid directories, and the driver only renames
    the finished files into slice names — no per-group job loop, the
    shape that survives a 1000-group rewrite.  Returns ``(write
    stats, staged relative paths)``."""
    from pyspark.sql import functions as F

    stage = base / f"_staging_{batch}"
    (
        out.repartition("__fid")
        .write.partitionBy("__fid")
        .mode("overwrite")
        .parquet(str(stage))
    )
    stats: list[dict] = []
    staged: list[str] = []
    for d in sorted(stage.glob("__fid=*")):
        fid = d.name.split("=", 1)[1]
        parts = sorted(d.glob("part-*.parquet"))
        if len(parts) != 1:
            shutil.rmtree(stage, ignore_errors=True)
            raise GlueSparkError(
                f"group {fid!r} produced {len(parts)} slice files — "
                "a file group's slice must be one base file"
            )
        part = fid_part.get(fid, "")
        name = f"{fid}_0-0-0_{instant_tag}.parquet"
        rel = f"{part}/{name}" if part else name
        dest = base / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        parts[0].rename(dest)
        staged.append(rel)
        stats.append(
            {
                "fileId": fid,
                "path": rel,
                "partitionPath": part,
                "fileSizeInBytes": dest.stat().st_size,
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    return stats, staged


def _fid_map_df(spark: SparkSession, paths: list[str]):
    """Broadcast ``(stripped file path, fileId)`` frame for joining
    ``_metadata.file_path`` back to its file group."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.delta import hadoop_uri_encode
    from glue_table_cache_spark.sources.iceberg import _strip_path

    return F.broadcast(
        local_frame(
            spark,
            [
                (_strip_path(hadoop_uri_encode(p)), _fid_of(p))
                for p in paths
            ],
            "__sp string, __fid string",
        )
    )


def _fid_of(path: str) -> str:
    m = _BASE_FILE_RE.search(path)
    return m.group(1) if m else Path(path).stem


def update_hudi(
    spark: SparkSession,
    location: str,
    predicate,
    set_exprs: dict[str, str],
    max_commit_retries: int = 10,
) -> tuple[str | None, int]:
    """``UPDATE t SET col = expr, ... WHERE predicate`` for
    COPY_ON_WRITE Hudi tables — the COW update IS a file-slice
    rewrite: every file group holding a matched row gets a fresh base
    slice (same ``fileId``, newest-slice-wins) where matched rows are
    transformed through ``set_exprs`` (pre-update values, standard
    UPDATE semantics) and the rest are byte-preserved, published as
    ONE replacecommit.  Returns ``(instant, n_updated)`` — ``(None,
    0)`` when nothing matched.  MERGE_ON_READ tables refuse: their
    update path is an upsert log block (:func:`write_hudi_log`).

    Concurrency follows :func:`delete_from_hudi`: instant pinned,
    per-attempt validation that every affected group is still
    active, then ``O_EXCL`` on the instant file."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.hudi import hudi_scan_info
    from glue_table_cache_spark.sources.delta import hadoop_uri_encode
    from glue_table_cache_spark.sources.iceberg import _strip_path

    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "update_hudi commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    names = _timeline_files(location)
    if _table_type(names) != "COPY_ON_WRITE":
        raise GlueSparkError(
            "update_hudi rewrites COPY_ON_WRITE base slices; for "
            "MERGE_ON_READ publish the changed rows as an upsert log "
            "block via write_hudi_log(upserts=...)"
        )
    active = hudi_scan_info(location)
    if not active:
        return None, 0
    df = spark.read.parquet(*[p for p, _pv in active])
    pcols = sorted({k for _p, pv in active for k in pv})
    moved = [c for c in set_exprs if c in pcols]
    if moved:
        raise GlueSparkError(
            f"UPDATE sets hive partition column(s) {moved} — the "
            "COW slice rewrite keeps each row in its file group's "
            "partition directory; move rows with DELETE + append "
            "instead"
        )
    unknown = [c for c in set_exprs if c not in df.columns]
    if unknown:
        raise GlueSparkError(
            f"UPDATE sets unknown column(s) {unknown}; table "
            f"columns are {df.columns}"
        )
    # directory-only partition columns attach so the predicate
    # resolves (WHERE year = '2024' on a hive-partitioned table)
    tagged, _attached = _tag_with_partition_columns(
        spark, df, active
    )
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    # FILTER-based tally (not a projected cast): subquery predicates
    # (WHERE id IN (SELECT ...)) only evaluate in filters
    per_file = (
        tagged.where(cond)
        .groupBy("__f")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    if not per_file:
        return None, 0
    # map keys use the _metadata spelling (Hadoop-URI-encoded)
    stripped_to_path = {
        _strip_path(hadoop_uri_encode(p)): p for p, _pv in active
    }
    n_updated = 0
    rewrite: list[str] = []
    for r in per_file:
        rewrite.append(
            stripped_to_path.get(_strip_path(r["__f"]), r["__f"])
        )
        n_updated += int(r["__n"])

    from glue_table_cache_spark.dml import predicate_has_subquery

    _subq = predicate_has_subquery(predicate)

    def _transformed(mode: str):
        """Projection list: ``set`` applies the SET expressions to
        every row (pre-filtered matched set), ``keep`` passes rows
        through untouched, ``when`` is the classic per-row
        WHEN(cond) for subquery-free predicates."""

        def _one(c):
            if c not in set_exprs or mode == "keep":
                return F.col(c)
            e = F.expr(set_exprs[c]).cast(df.schema[c].dataType)
            if mode == "set":
                return e.alias(c)
            return F.when(cond, e).otherwise(F.col(c)).alias(c)

        return [_one(c) for c in df.columns]
    batch = uuid.uuid4().hex[:8]
    hoodie = base / ".hoodie"
    instant_tag = _latest_instant(hoodie) + 1
    fid_part: dict[str, str] = {}
    for path in rewrite:
        part = str(Path(path).parent.relative_to(base))
        fid_part[_fid_of(path)] = "" if part == "." else part
    from glue_table_cache_spark.sources.iceberg import _strip_scheme

    # ONE distributed job rewrites every affected group: rows join
    # back to their file group via the broadcast path→fid map, then
    # partitionBy("__fid") splits the output per group; attached
    # partition columns let the per-row WHEN(cond) resolve, then
    # only the transformed DATA columns stage
    tagged2, _attached2 = _tag_with_partition_columns(
        spark, spark.read.parquet(*sorted(rewrite)), active
    )
    sp = _strip_scheme(F.col("__f")).alias("__sp")
    if _subq:
        # subquery cond can't sit in the WHEN projection — split
        # the rewrite into changed/kept filtered row sets
        projected = tagged2.where(cond).select(
            *_transformed("set"), sp
        ).unionByName(
            tagged2.where(~F.coalesce(cond, F.lit(False))).select(
                *_transformed("keep"), sp
            )
        )
    else:
        projected = tagged2.select(*_transformed("when"), sp)
    out = (
        projected
        .join(_fid_map_df(spark, sorted(rewrite)), "__sp")
        .drop("__sp")
    )
    stats, staged = _write_group_slices(
        spark, base, out, fid_part, batch, instant_tag
    )
    stats_by_part: dict[str, list[dict]] = {}
    for st in stats:
        stats_by_part.setdefault(st["partitionPath"], []).append(st)

    affected = {str(Path(p)) for p in rewrite}
    payload = json.dumps(
        {
            "partitionToWriteStats": stats_by_part,
            "partitionToReplaceFileIds": {},
        }
    )
    for _attempt in range(max_commit_retries):
        instant = _latest_instant(hoodie) + 1
        fresh = {str(Path(p)) for p, _pv in hudi_scan_info(location)}
        if not affected <= fresh:
            for rel in staged:
                (base / rel).unlink(missing_ok=True)
            raise GlueSparkError(
                "update_hudi lost a conflicting race: an affected "
                "file group is no longer active; table left "
                "untouched — re-run"
            )
        commit = hoodie / f"{instant}.replacecommit"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return str(instant), n_updated
    raise GlueSparkError(
        f"could not commit UPDATE to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def merge_into_hudi(
    spark: SparkSession,
    location: str,
    source,
    on,
    max_commit_retries: int = 10,
) -> tuple[str, int, int]:
    """Whole-row upsert for COPY_ON_WRITE Hudi tables, keyed on
    ``on`` — Hudi's own upsert placement: a matched record's new
    version stays in its file group (the group rewrites to a fresh
    slice with matched rows replaced by their source rows), and
    unmatched source rows open ONE new file group, all published as a
    single replacecommit.  Returns ``(instant, n_updated,
    n_inserted)``.

    Contract mirrors :func:`.delta_merge.merge_into_delta`: duplicate
    source keys refuse, source columns must equal the table schema,
    hive-partitioned tables refuse (insert routing needs a partition
    path), MERGE_ON_READ refuses toward the upsert log block."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sinks.hudi_write import (
        write_hudi_append,
    )
    from glue_table_cache_spark.sources.hudi import hudi_scan_info
    from glue_table_cache_spark.sources.delta import hadoop_uri_encode
    from glue_table_cache_spark.sources.iceberg import _strip_path

    keys = [on] if isinstance(on, str) else list(on)
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "merge_into_hudi commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    names = _timeline_files(location)
    if _table_type(names) != "COPY_ON_WRITE":
        raise GlueSparkError(
            "merge_into_hudi rewrites COPY_ON_WRITE base slices; for "
            "MERGE_ON_READ publish the upsert as a log block via "
            "write_hudi_log(upserts=...)"
        )
    from glue_table_cache_spark.dml import resolve_source_keys

    keys = resolve_source_keys(source, keys)
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise GlueSparkError(
            f"merge keys {missing} are not in the source columns "
            f"{source.columns}"
        )
    if source.groupBy(*keys).count().where("count > 1").limit(1).count():
        raise GlueSparkError(
            "MERGE source has duplicate keys — 'the source row' for "
            "a matched target row is ambiguous; de-duplicate the "
            "source first"
        )
    active = hudi_scan_info(location)
    if not active:
        n_ins = source.count()
        return write_hudi_append(source, location), 0, n_ins
    if any(pv for _p, pv in active):
        raise GlueSparkError(
            "merge_into_hudi does not route inserts into hive "
            "partition directories — partitioned tables refuse; use "
            "delete_from_hudi + write_hudi_append"
        )
    # the recorded extraMetadata.schema is the scan authority: an
    # evolved table's base files may be NARROWER than the table
    # schema (new columns surface as nulls), so schema-evolved
    # merges see and write the full width
    from glue_table_cache_spark.sources.hudi import hudi_table_schema

    reader = spark.read
    rec_schema = hudi_table_schema(location)
    if rec_schema is not None:
        reader = reader.schema(rec_schema)
    df = reader.parquet(*[p for p, _pv in active])
    want = set(df.columns)
    if set(source.columns) != want:
        raise GlueSparkError(
            f"MERGE source columns {sorted(source.columns)} do not "
            f"match the table schema {sorted(want)} — the merge "
            "replaces whole rows; align the source first"
        )
    source = source.select(
        *[
            F.col(c).cast(df.schema[c].dataType).alias(c)
            for c in df.columns
        ]
    )
    src_keys = F.broadcast(source.select(*keys).distinct())
    per_file = (
        df.select(
            F.col("_metadata.file_path").alias("__f"), *keys
        )
        .join(src_keys, keys)
        .groupBy("__f")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    # map keys use the _metadata spelling (Hadoop-URI-encoded)
    stripped_to_path = {
        _strip_path(hadoop_uri_encode(p)): p for p, _pv in active
    }
    rewrite = [
        stripped_to_path.get(_strip_path(r["__f"]), r["__f"])
        for r in per_file
    ]
    n_updated = sum(int(r["__n"]) for r in per_file)

    batch = uuid.uuid4().hex[:8]
    hoodie = base / ".hoodie"
    instant_tag = _latest_instant(hoodie) + 1
    from glue_table_cache_spark.sources.iceberg import _strip_scheme

    fid_part = {_fid_of(p): "" for p in rewrite}
    pieces = []
    if rewrite:
        # ONE distributed job for every rewritten group: kept rows
        # (key not in source) tagged with their group via the
        # broadcast path→fid map; update rows (source keyed into a
        # matched group) take the fid of the target row they replace
        tagged = (
            reader.parquet(*sorted(rewrite))
            .select(
                "*",
                _strip_scheme(
                    F.col("_metadata.file_path")
                ).alias("__sp"),
            )
            .join(_fid_map_df(spark, sorted(rewrite)), "__sp")
            .drop("__sp")
        )
        kept = tagged.join(src_keys, keys, "left_anti")
        key_fid = tagged.select(*keys, "__fid").join(src_keys, keys)
        updates = source.join(key_fid, keys)
        pieces.append(
            kept.select(*df.columns, "__fid").unionByName(
                updates.select(*df.columns, "__fid")
            )
        )
    inserts = source.join(
        df.select(*keys).distinct(), keys, "left_anti"
    )
    n_inserted = inserts.count()
    if n_inserted:
        new_fid = f"mrg-{batch}"
        fid_part[new_fid] = ""
        pieces.append(
            inserts.select(
                *df.columns, F.lit(new_fid).alias("__fid")
            )
        )
    if not pieces:
        return None, 0, 0
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    stats, staged = _write_group_slices(
        spark, base, out, fid_part, batch, instant_tag
    )

    affected = {str(Path(p)) for p in rewrite}
    payload = json.dumps(
        {
            "partitionToWriteStats": {"": stats},
            "partitionToReplaceFileIds": {},
        }
    )
    for _attempt in range(max_commit_retries):
        instant = _latest_instant(hoodie) + 1
        fresh = {str(Path(p)) for p, _pv in hudi_scan_info(location)}
        if not affected <= fresh:
            for rel in staged:
                (base / rel).unlink(missing_ok=True)
            raise GlueSparkError(
                "merge_into_hudi lost a conflicting race: an "
                "affected file group is no longer active; table left "
                "untouched — re-run"
            )
        commit = hoodie / f"{instant}.replacecommit"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return str(instant), n_updated, int(n_inserted)
    raise GlueSparkError(
        f"could not commit MERGE to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def merge_general_hudi(
    spark: SparkSession,
    location: str,
    source: DataFrame,
    on,
    clauses,
    max_commit_retries: int = 10,
    max_insert_partitions: int = 10_000,
) -> tuple[str | None, int, int, int]:
    """General (conditional / column-level / multi-clause) MERGE for
    COPY_ON_WRITE Hudi tables — completing the 3×3 DML matrix next to
    :func:`.delta_merge.merge_general_delta` and
    :func:`.iceberg_delete.merge_general_iceberg`.

    Same planner, Hudi placement: the tagged target (every active
    base slice, directory-only partition columns attached, joined
    back to its file group through the broadcast path→fid map)
    left-joins the source, ONE chained ``when`` picks the chosen
    clause per row, and ONE per-group aggregation yields the tallies
    plus each group's fate — groups whose every row is delete-chosen
    RETIRE via ``partitionToReplaceFileIds`` (no empty slice is ever
    written; a zero-row group would otherwise vanish from the
    staging output and silently leave its OLD slice live), groups
    with any other chosen row rewrite to a fresh slice in their own
    partition directory (``target_outputs``: updates transformed
    with pre-update semantics, deletes dropped, rest
    byte-preserved), and NOT MATCHED inserts open one new file group
    PER TARGET PARTITION (hive-escaped ``k=v`` path built from the
    insert rows' partition values, null → the Hive sentinel) — all
    in ONE ``_write_group_slices`` job and ONE replacecommit.

    Partition-directory invariants hold by refusal: an UPDATE SET
    naming a partition column refuses statically, and a ``SET *``
    whose source row carries a DIFFERENT partition value than the
    matched target row refuses at plan time (the slice rewrite
    cannot move rows between partition directories; Hudi runtimes
    model that as delete+insert).

    Returns ``(instant, n_updated, n_inserted, n_deleted)`` —
    ``(None, 0, 0, 0)`` when no clause matched anything.  Refusals
    mirror :func:`merge_into_hudi` otherwise: object stores,
    MERGE_ON_READ (log-block path — the engine's MOR merge),
    duplicate source keys, and an EMPTY table (no base slice to
    authority the schema — append the insert rows directly).
    Clause semantics follow the public SQL:2003/Delta MERGE dialect;
    the reference engine has no DML surface (src/types.ts:4-11
    enumerates formats it never writes)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from glue_table_cache_spark.sinks.hive_paths import (
        escape_partition_value,
    )
    from glue_table_cache_spark.sinks.merge_planner import (
        KEEP,
        action_indexes,
        chosen_column,
        insert_outputs,
        join_source,
        target_outputs,
        validate_clauses,
    )
    from glue_table_cache_spark.sources.hudi import hudi_scan_info
    from glue_table_cache_spark.sources.iceberg import _strip_scheme

    keys = [on] if isinstance(on, str) else list(on)
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "merge_general_hudi commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    names = _timeline_files(location)
    if _table_type(names) != "COPY_ON_WRITE":
        raise GlueSparkError(
            "merge_general_hudi rewrites COPY_ON_WRITE base slices; "
            "for MERGE_ON_READ publish changes as log blocks via "
            "write_hudi_log"
        )
    from glue_table_cache_spark.dml import resolve_source_keys

    keys = resolve_source_keys(source, keys)
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise GlueSparkError(
            f"merge keys {missing} are not in the source columns "
            f"{source.columns}"
        )
    active = hudi_scan_info(location)
    if not active:
        raise GlueSparkError(
            "general MERGE into an empty Hudi table has no schema "
            "authority (no base slice); append the insert rows with "
            "write_hudi_append instead"
        )
    if (
        source.groupBy(*keys)
        .count()
        .where("count > 1")
        .limit(1)
        .count()
    ):
        raise GlueSparkError(
            "MERGE source has duplicate keys — a matched target row "
            "would meet several source rows; de-duplicate the "
            "source first (e.g. max_by on a version column)"
        )
    paths = sorted(p for p, _pv in active)
    pcols = sorted({k for _p, pv in active for k in pv})
    # scan-schema authority: the recorded table schema minus the
    # directory-only partition columns (attached separately) — an
    # evolved table's narrower base files surface nulls
    from glue_table_cache_spark.sources.hudi import hudi_table_schema

    rec_schema = hudi_table_schema(location)
    data_schema = None
    if rec_schema is not None:
        from pyspark.sql.types import StructType as _ST

        data_schema = _ST(
            [f for f in rec_schema.fields if f.name not in pcols]
        )

    def _read(ps):
        r = spark.read
        if data_schema is not None:
            r = r.schema(data_schema)
        return r.parquet(*sorted(ps))

    data_cols = list(_read(paths).columns)
    for cl in clauses:
        if cl.action != "update" or cl.when == "not_matched":
            continue
        if cl.set_exprs is not None:
            hit = [c for c, _e in cl.set_exprs if c in pcols]
            if hit:
                raise GlueSparkError(
                    f"MERGE UPDATE sets hive partition column(s) "
                    f"{hit} — the COW slice rewrite keeps each row "
                    "in its file group's partition directory; move "
                    "rows with a DELETE clause + re-insert instead"
                )

    def _tagged(ps):
        t, _att = _tag_with_partition_columns(
            spark, _read(ps), active
        )
        return (
            t.withColumn("__sp", _strip_scheme(F.col("__f")))
            .join(_fid_map_df(spark, sorted(ps)), "__sp")
            .drop("__sp", "__f")
        )

    from pyspark.sql.types import StructType

    tagged_all = _tagged(paths)
    t_cols = [c for c in tagged_all.columns if c != "__fid"]
    t_schema = StructType(
        [f for f in tagged_all.schema.fields if f.name != "__fid"]
    )
    validate_clauses(clauses, t_cols, source.columns, keys)

    upd_idx = action_indexes(clauses, "update")
    del_idx = action_indexes(clauses, "delete")
    setstar_idx = [
        i
        for i in upd_idx
        if clauses[i].set_exprs is None
    ]

    # ---- phase 1: plan — per-group fate + tallies from ONE agg
    joined = join_source(tagged_all, source, keys).withColumn(
        "__chosen", chosen_column(clauses)
    )
    if pcols and setstar_idx:
        # SET * copies the source's partition values too — refuse if
        # any chosen row would MOVE (cheap limit(1) probe)
        moved = reduce(
            lambda a, b: a | b,
            [
                ~F.col(c).eqNullSafe(F.col(f"__src_{c}"))
                for c in pcols
            ],
        )
        if (
            joined.where(
                F.col("__chosen").isin(setstar_idx) & moved
            )
            .limit(1)
            .count()
        ):
            raise GlueSparkError(
                "MERGE UPDATE SET * would move row(s) to a "
                "different partition directory — the COW slice "
                "rewrite keeps each row in its file group's "
                "partition; use a DELETE clause + re-insert to "
                "move rows"
            )
    per_group = (
        joined.groupBy("__fid")
        .agg(
            F.count(F.lit(1)).alias("__t"),
            F.count(
                F.when(F.col("__chosen") != KEEP, F.lit(1))
            ).alias("__c"),
            F.count(
                F.when(
                    F.col("__chosen").isin(del_idx)
                    if del_idx
                    else F.lit(False),
                    F.lit(1),
                )
            ).alias("__d"),
        )
        .collect()
    )
    fid_path = {_fid_of(p): p for p in paths}

    def _part_of(path: str) -> str:
        part = str(Path(path).parent.relative_to(base))
        return "" if part == "." else part

    n_updated = n_deleted = 0
    rewrite_fids: list[str] = []
    retire_fids: list[str] = []
    for r in per_group:
        if not int(r["__c"]):
            continue  # untouched group
        n_deleted += int(r["__d"])
        n_updated += int(r["__c"]) - int(r["__d"])
        if int(r["__d"]) == int(r["__t"]):
            retire_fids.append(r["__fid"])
        else:
            rewrite_fids.append(r["__fid"])

    ins = insert_outputs(
        source,
        tagged_all.select(*keys).distinct(),
        keys,
        clauses,
        t_cols,
        t_schema,
    )
    if ins is not None:
        # partition values route directories as STRINGS (the hive
        # spelling authority); cast up front so the fid map joins
        if pcols:
            ins = ins.select(
                *data_cols,
                *[
                    F.col(c).cast("string").alias(c)
                    for c in pcols
                ],
            )
        ins = ins.localCheckpoint()  # reused: count + route + union
        n_inserted = ins.count()
    else:
        n_inserted = 0
    if not rewrite_fids and not retire_fids and not n_inserted:
        return None, 0, 0, 0

    batch = uuid.uuid4().hex[:8]
    hoodie = base / ".hoodie"
    instant_tag = _latest_instant(hoodie) + 1
    pieces = []
    fid_part: dict[str, str] = {}
    if rewrite_fids:
        # ---- phase 2: re-read ONLY the rewrite groups; the chosen
        # column is deterministic, so re-deriving it is cheaper at
        # scale than checkpointing the full-table join
        rw_paths = [fid_path[f] for f in sorted(rewrite_fids)]
        fid_part.update(
            {f: _part_of(fid_path[f]) for f in rewrite_fids}
        )
        joined2 = join_source(
            _tagged(rw_paths), source, keys
        ).withColumn("__chosen", chosen_column(clauses))
        pieces.append(
            target_outputs(joined2, clauses, t_cols, extra=("__fid",))
            .select(*data_cols, "__fid")
        )
    if n_inserted:
        if pcols:
            routes = (
                ins.select(*pcols).distinct()
                .limit(max_insert_partitions + 1)
                .collect()
            )
            if len(routes) > max_insert_partitions:
                raise GlueSparkError(
                    f"MERGE inserts touch over "
                    f"{max_insert_partitions} partitions — one new "
                    "file group per partition is a driver-side "
                    "routing table; load that batch with "
                    "write_hudi_append instead"
                )
            route_rows = []
            for i, row in enumerate(routes):
                fid = f"mrg-{batch}-{i:05d}"
                fid_part[fid] = "/".join(
                    f"{c}={escape_partition_value(row[c])}"
                    for c in pcols
                )
                route_rows.append(
                    (*[row[c] for c in pcols], fid)
                )
            route_df = F.broadcast(
                local_frame(
                    spark,
                    route_rows,
                    ", ".join(
                        [f"`{c}` string" for c in pcols]
                        + ["__fid string"]
                    ),
                )
            )
            cond = reduce(
                lambda a, b: a & b,
                [
                    ins[c].eqNullSafe(route_df[c])
                    for c in pcols
                ],
            )
            pieces.append(
                ins.join(route_df, cond).select(
                    *[ins[c] for c in data_cols],
                    route_df["__fid"],
                )
            )
        else:
            new_fid = f"mrg-{batch}"
            fid_part[new_fid] = ""
            pieces.append(
                ins.select(
                    *data_cols, F.lit(new_fid).alias("__fid")
                )
            )
    stats: list[dict] = []
    staged: list[str] = []
    if pieces:
        out = pieces[0]
        for piece in pieces[1:]:
            out = out.unionByName(piece)
        stats, staged = _write_group_slices(
            spark, base, out, fid_part, batch, instant_tag
        )
    stats_by_part: dict[str, list[dict]] = {}
    for st in stats:
        stats_by_part.setdefault(st["partitionPath"], []).append(st)
    replace_by_part: dict[str, list[str]] = {}
    for f in sorted(retire_fids):
        replace_by_part.setdefault(
            _part_of(fid_path[f]), []
        ).append(f)
    payload = json.dumps(
        {
            "partitionToWriteStats": stats_by_part,
            "partitionToReplaceFileIds": replace_by_part,
        }
    )
    affected = {
        str(Path(fid_path[f]))
        for f in rewrite_fids + retire_fids
    }
    for _attempt in range(max_commit_retries):
        instant = _latest_instant(hoodie) + 1
        fresh = {str(Path(p)) for p, _pv in hudi_scan_info(location)}
        if not affected <= fresh:
            for rel in staged:
                (base / rel).unlink(missing_ok=True)
            raise GlueSparkError(
                "merge_general_hudi lost a conflicting race: an "
                "affected file group is no longer active; table "
                "left untouched — re-run"
            )
        commit = hoodie / f"{instant}.replacecommit"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return str(instant), n_updated, int(n_inserted), n_deleted
    raise GlueSparkError(
        f"could not commit MERGE to {location!r} after "
        f"{max_commit_retries} attempts"
    )
