"""OPTIMIZE for Iceberg tables: compact the active file set atomically.

The Iceberg sibling of
:mod:`glue_table_cache_spark.sinks.delta_optimize` — rewrite-data-files
(optionally Z-ordered) re-expressed over this repo's manifest walk and
writer primitives:

1. resolve the current snapshot's data files, position deletes, and
   equality deletes (:func:`iceberg_scan_details`);
2. rewrite qualifying partitions into ``~target_file_mb`` outputs,
   APPLYING row-level deletes during the read — the rewritten files
   simply lack the deleted rows, so the op doubles as the
   delete-purging ``rewrite_data_files`` maintenance action;
3. publish ONE new snapshot whose rewritten manifest carries the
   untouched files (keeping their ORIGINAL data sequence numbers — the
   spec's carried-entry rule, already enforced by the fixture/reader)
   plus the new files, with the replaced files as status=2 DELETED
   tombstones; new adds carry footer-derived binary bounds so
   manifest-bounds skipping keeps working.

Row-level-delete policy: equality deletes scope by sequence number and
position deletes name exact file paths, so a PARTIAL rewrite that kept
any delete manifests alive would need per-file delete bookkeeping.
This implementation takes the simple, provably-correct posture real
maintenance jobs use: when ANY row-level deletes exist, every
partition is rewritten (all deletes applied) and the new snapshot
carries no delete manifests; without deletes, partitions compact
independently and untouched entries are carried over.

Concurrency: same ``O_EXCL``-on-metadata commit as the writer, with
RE-VALIDATION on a lost race — if a concurrent snapshot removed or
rewrote any file this rewrite replaces (or added new deletes),
committing would resurrect rows, so the operation aborts cleanly and
the caller re-runs.  Concurrent pure appends are fine: their files are
carried into the new manifest on retry.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import SparkSession

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.sinks.iceberg_write import (
    _footer_bounds,
    _latest_metadata,
)
from glue_table_cache_spark.sources.avro_lite import write_avro
from glue_table_cache_spark.sources.iceberg import iceberg_scan_details
from glue_table_cache_spark.sources.iceberg_fixture import (
    MANIFEST_ENTRY_SCHEMA,
    MANIFEST_LIST_SCHEMA,
)


def _scan_state(location: str):
    """``(entries, position deletes, equality deletes)``; entries are
    ``(path, partition, seq, LazyFileStats)``."""
    entries, pos_dels, eq_dels = iceberg_scan_details(
        location, with_stats=True
    )
    return entries, pos_dels, eq_dels


def _reencode_bounds(
    lazy, ids: dict[str, int], types: dict[str, str]
) -> dict | None:
    """Carried-over entries keep their zone maps: resolve the walk's
    :class:`~glue_table_cache_spark.skipping.LazyFileStats` (only
    carried entries are decoded; replaced ones never are) and
    re-encode it into the manifest's binary form under the current
    schema — no data or footer reads for untouched files."""
    st = lazy.resolve()
    if st is None:
        return None
    from glue_table_cache_spark.skipping import encode_iceberg_bound

    lower: dict[str, bytes] = {}
    upper: dict[str, bytes] = {}
    nulls: dict[str, int] = {}
    for name, fid in ids.items():
        key = name.lower()
        nc = st.null_counts.get(key)
        if nc is not None:
            nulls[str(fid)] = int(nc)
        lo, hi = st.min_values.get(key), st.max_values.get(key)
        t = types.get(name)
        if lo is None or hi is None or t is None:
            continue
        lo_b = encode_iceberg_bound(t, lo)
        hi_b = encode_iceberg_bound(t, hi)
        if lo_b is not None and hi_b is not None:
            lower[str(fid)] = lo_b
            upper[str(fid)] = hi_b
    return {
        "record_count": st.num_records or 0,
        "lower_bounds": lower or None,
        "upper_bounds": upper or None,
        "null_value_counts": nulls or None,
    }


def optimize_iceberg(
    spark: SparkSession,
    location: str,
    target_file_mb: int = 256,
    zorder_by: list[str] | None = None,
    bits_per_col: int = 8,
    min_files_per_partition: int = 2,
    max_commit_retries: int = 10,
) -> int | None:
    """Compact the Iceberg table at ``location``; returns the committed
    sequence number, or ``None`` when nothing needed rewriting.  A
    partition rewrites when it holds ≥ ``min_files_per_partition``
    active files; any row-level deletes, or ``zorder_by``, force a full
    rewrite (see module docstring)."""
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "optimize_iceberg commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    meta_dir = base / "metadata"
    data_dir = base / "data"
    prev = _latest_metadata(meta_dir)
    if prev is None:
        raise GlueSparkError(f"no Iceberg metadata under {location!r}")
    entries, pos_dels, eq_dels = _scan_state(location)
    has_deletes = bool(pos_dels or eq_dels)

    groups: dict[tuple, list] = {}
    for path, pv, seq, st in entries:
        groups.setdefault(tuple(sorted(pv.items())), []).append(
            (path, pv, seq, st)
        )
    todo = {
        key: files
        for key, files in groups.items()
        if len(files) >= min_files_per_partition
        or has_deletes
        or zorder_by
    }
    if not todo:
        return None

    # schema bookkeeping for bounds on the new files
    schemas = prev.get("schemas") or []
    current = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == prev.get("current-schema-id")
        ),
        schemas[-1] if schemas else None,
    )
    ids = {
        f["name"]: f["id"] for f in (current or {}).get("fields", [])
    }
    types = {
        f["name"]: f["type"]
        for f in (current or {}).get("fields", [])
        if isinstance(f.get("type"), str)
    }
    # RENAMED tables (name mapping): files carry PHYSICAL spellings —
    # the rewrite must read them physically and write them back
    # physically, or the renamed column silently nulls out of the
    # rewritten files (the mapping pins the physical name).  Bounds
    # bookkeeping resolves both spellings to the same field id.
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_column_mapping,
    )

    renames, dead = iceberg_column_mapping(prev)
    inv = {v: k for k, v in renames.items()}
    for logical, phys in inv.items():
        if logical in ids:
            ids[phys] = ids[logical]
        if logical in types:
            types[phys] = types[logical]
    if (renames or dead) and eq_dels:
        raise GlueSparkError(
            "optimize_iceberg on a name-mapped (renamed/dropped-"
            "column) table carrying EQUALITY deletes: the delete "
            "columns resolve logically while the files spell "
            "physically — use an Iceberg runtime for this "
            "combination"
        )
    if zorder_by:
        zorder_by = [inv.get(c, c) for c in zorder_by]

    batch = uuid.uuid4().hex[:12]
    new_files: list[tuple[Path, dict]] = []
    replaced: set[str] = set()
    for key, files in todo.items():
        pv = dict(key)
        paths = [p for p, _pv, _seq, _st in files]
        # rewrite through the METADATA schema, not a sampled footer:
        # on an evolved table a group mixing pre- and post-evolution
        # files would otherwise infer from one file and silently DROP
        # the evolved column from every rewritten row.  Identity
        # partition columns living only in directory names / the
        # manifest partition tuple are excluded (the new manifest
        # entry re-records ``pv``; forcing them into the scan would
        # materialize all-null columns in the rewritten files).
        from glue_table_cache_spark.skipping import parquet_file_columns
        from glue_table_cache_spark.sources.iceberg import (
            iceberg_spark_schema,
        )

        reader = spark.read
        ice_schema = iceberg_spark_schema(prev)
        if ice_schema is not None:
            from glue_table_cache_spark.sources.iceberg import (
                iceberg_physical_schema,
            )

            # the files' own spelling: diverged fields physical,
            # dropped fields excluded (their bytes leave the rewrite)
            read_schema = iceberg_physical_schema(
                ice_schema, renames
            )
            file_cols = parquet_file_columns(paths[0])
            if file_cols is not None:
                from pyspark.sql.types import StructType

                kept = [
                    f
                    for f in read_schema.fields
                    if f.name.lower() in file_cols or f.name not in pv
                ]
                if kept:
                    reader = reader.schema(StructType(kept))
        df = reader.parquet(*paths)
        if pos_dels:
            from glue_table_cache_spark.sources.iceberg import (
                apply_position_deletes,
            )

            df = apply_position_deletes(df, pos_dels)
        if eq_dels:
            from glue_table_cache_spark.sources.iceberg import (
                apply_equality_deletes,
            )

            df = apply_equality_deletes(
                df, [(p, v, s) for p, v, s, _st in files], eq_dels
            )
        total = sum(Path(p).stat().st_size for p in paths)
        n = max(1, -(-total // (target_file_mb * 1024 * 1024)))
        if zorder_by:
            from glue_table_cache_spark.sinks.compact import zorder_key

            zcols = [c for c in zorder_by if c in df.columns]
            if zcols:
                df = (
                    df.withColumn(
                        "__zkey",
                        zorder_key(
                            df, zcols, bits_per_col=bits_per_col
                        ),
                    )
                    .repartitionByRange(n, "__zkey")
                    .sortWithinPartitions("__zkey")
                    .drop("__zkey")
                )
            else:
                df = df.repartition(n)
        else:
            df = df.repartition(n)
        stage = base / f"_staging_{batch}" / (
            "-".join(f"{k}={v}" for k, v in key) or "root"
        )
        df.write.mode("overwrite").parquet(str(stage))
        for p in sorted(stage.rglob("part-*.parquet")):
            name = f"part-{batch}-{len(new_files):05d}.parquet"
            dest = data_dir / name
            p.rename(dest)
            new_files.append((dest, pv))
        replaced.update(paths)
    shutil.rmtree(base / f"_staging_{batch}", ignore_errors=True)

    def _rel(path: str) -> str:
        # emit table-relative paths (the appender's convention) so an
        # optimized table stays relocatable and one metadata history
        # never mixes path styles; the reader resolves either form
        try:
            return str(Path(path).relative_to(base))
        except ValueError:
            return path

    def entry_row(
        path: str,
        status: int,
        pv: dict | None,
        seq: int | None,
        stats: dict | None = None,
    ) -> dict:
        stats = stats or {}
        return {
            "status": status,
            "snapshot_id": None,
            "sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": _rel(path),
                "file_format": "PARQUET",
                "partition": pv or None,
                "record_count": stats.get("record_count", 0),
                "file_size_in_bytes": Path(path).stat().st_size
                if Path(path).exists()
                else 0,
                "equality_ids": None,
                "lower_bounds": stats.get("lower_bounds"),
                "upper_bounds": stats.get("upper_bounds"),
                "null_value_counts": stats.get("null_value_counts"),
            },
        }

    for attempt in range(max_commit_retries):
        # Pin the sequence number BEFORE validating, and validate on
        # EVERY attempt (including the first): the rewrite phase is
        # long, so a conflicting snapshot can land while it runs, not
        # just after an O_EXCL collision.  With the version pinned
        # first, any snapshot committed after the validation scan
        # takes v{seq} and our O_EXCL collides, forcing the next
        # attempt to re-validate against it.
        fresh_prev = _latest_metadata(meta_dir)
        fresh_entries, f_pos, f_eq = _scan_state(location)
        fresh_active = {p for p, _pv, _seq, _st in fresh_entries}
        new_deletes = (set(f_pos) != set(pos_dels)) or (
            {d["path"] for d in f_eq}
            != {d["path"] for d in eq_dels}
        )
        if not replaced <= fresh_active or new_deletes:
            for dest, _pv in new_files:
                dest.unlink(missing_ok=True)
            raise GlueSparkError(
                "optimize_iceberg lost a conflicting race: "
                "replaced files left the active set or new "
                "row-level deletes landed; table left untouched "
                "— re-run"
            )
        entries = fresh_entries
        last_seq = fresh_prev.get("last-sequence-number", 0)
        seq = last_seq + 1
        snap_id = 1000 + seq
        carried = [
            entry_row(p, 1, pv, s, _reencode_bounds(st, ids, types))
            for p, pv, s, st in entries
            if p not in replaced
        ]
        tombstones = [
            entry_row(p, 2, pv, s)
            for p, pv, s, _st in entries
            if p in replaced
        ]
        adds = [
            entry_row(
                str(dest),
                1,
                pv,
                None,  # inherit the new snapshot's sequence number
                _footer_bounds(dest, ids, types),
            )
            for dest, pv in new_files
        ]
        manifest = meta_dir / f"manifest-opt-{seq}-{batch}.avro"
        write_avro(
            manifest,
            MANIFEST_ENTRY_SCHEMA,
            carried + adds + tombstones,
        )
        manifest_list = meta_dir / f"snap-opt-{seq}-{batch}.avro"
        write_avro(
            manifest_list,
            MANIFEST_LIST_SCHEMA,
            [
                {
                    "manifest_path": str(
                        Path("metadata") / manifest.name
                    ),
                    "manifest_length": manifest.stat().st_size,
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            ],
        )
        meta = dict(fresh_prev)
        meta["last-sequence-number"] = seq
        meta["current-snapshot-id"] = snap_id
        meta["snapshots"] = list(fresh_prev.get("snapshots") or []) + [
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": int(time.time() * 1000),
                "manifest-list": str(
                    Path("metadata") / manifest_list.name
                ),
                # spec: snapshots REQUIRE a summary operation;
                # "replace" also tells changelog readers this commit
                # is content-preserving (emits no change rows)
                "summary": {"operation": "replace"},
            }
        ]
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            manifest.unlink(missing_ok=True)
            manifest_list.unlink(missing_ok=True)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit OPTIMIZE to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def expire_iceberg_snapshots(
    location: str,
    retention_hours: float = 168.0,
    keep_last: int = 1,
    max_commit_retries: int = 10,
) -> int | None:
    """Prune expired snapshots from the table metadata — the Iceberg
    ``expire_snapshots`` maintenance action, the snapshot-history
    sibling of :func:`..delta_optimize.vacuum_delta`'s retention gate.

    A snapshot is expired when it is older than ``retention_hours``
    (its ``timestamp-ms``), is not among the ``keep_last`` newest, and
    is not the current snapshot — the CURRENT snapshot is never
    expirable, whatever the retention, so the active scan is always
    protected.  Expiry commits a NEW metadata version (same
    ``O_EXCL`` put-if-absent as every other commit in this repo) whose
    ``snapshots`` list holds only the retained ones; the data/manifest
    files of expired snapshots stay on disk until
    :func:`remove_iceberg_orphans` collects them.  Returns the new
    sequence number, or ``None`` when nothing expired."""
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "expire_iceberg_snapshots commits via filesystem "
            "put-if-absent"
        )
    if retention_hours < 0:
        raise GlueSparkError("retention_hours must be >= 0")
    if keep_last < 1:
        raise GlueSparkError("keep_last must be >= 1")
    meta_dir = base / "metadata"
    cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0
    for _attempt in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if prev is None:
            raise GlueSparkError(
                f"no Iceberg metadata under {location!r}"
            )
        snaps = list(prev.get("snapshots") or [])
        if not snaps:
            return None
        newest = sorted(
            snaps, key=lambda s: s.get("timestamp-ms", 0)
        )[-keep_last:]
        keep_ids = {s["snapshot-id"] for s in newest}
        keep_ids.add(prev.get("current-snapshot-id"))
        # named refs pin: a tagged/branched snapshot is reachable by
        # VERSION AS OF '<name>' and must survive retention until the
        # ref is dropped
        keep_ids |= {
            r.get("snapshot-id")
            for r in (prev.get("refs") or {}).values()
        }
        retained = [
            s
            for s in snaps
            if s["snapshot-id"] in keep_ids
            or s.get("timestamp-ms", 0) >= cutoff_ms
        ]
        if len(retained) == len(snaps):
            return None
        seq = prev.get("last-sequence-number", 0) + 1
        meta = dict(prev)
        meta["last-sequence-number"] = seq
        meta["snapshots"] = retained
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # a commit raced us: re-read and re-prune
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit snapshot expiry to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def remove_iceberg_orphans(
    location: str,
    retention_hours: float = 168.0,
    dry_run: bool = True,
) -> list[str]:
    """Delete (or with ``dry_run=True``, just list) files under
    ``data/`` and ``metadata/`` that no surviving metadata version
    references — expired-snapshot manifests and data files, rewrite
    leftovers, aborted writes.  The Iceberg ``remove_orphan_files``
    action with :func:`..delta_optimize.vacuum_delta`'s exact safety
    posture:

    * the reachable set of every SURVIVING metadata version is never
      touched: the newest version always survives; an older version
      survives while it is younger than ``retention_hours`` (so time
      travel inside the retention window keeps working — and refuses
      loudly beyond it, which is what deleting history means);
    * reachability walks every retained snapshot's manifest list →
      manifests → every live file path (data AND delete files;
      ``status=2`` tombstone entries are bookkeeping for files that
      already left the table, so they do NOT pin — otherwise an
      OPTIMIZE's replaced files would be protected forever);
    * a non-reachable file is eligible only once older than
      ``retention_hours`` (mtime) — in-flight writers' staged-but-
      uncommitted files never race the clock;
    * an unreadable manifest referenced by a surviving version aborts
      the whole operation — a partial reachable set deletes live data.
    """
    from glue_table_cache_spark.sources.avro_lite import read_avro
    from glue_table_cache_spark.sources.iceberg import _resolve_path

    if retention_hours < 0:
        raise GlueSparkError("retention_hours must be >= 0")
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "remove_iceberg_orphans deletes via the local filesystem"
        )
    meta_dir = base / "metadata"
    metas: list[tuple[int, Path, dict]] = []
    for p in meta_dir.glob("*.json"):
        try:
            m = json.loads(p.read_text())
        except ValueError:
            continue
        metas.append((m.get("last-sequence-number", 0), p, m))
    if not metas:
        raise GlueSparkError(f"no Iceberg metadata under {location!r}")
    metas.sort(key=lambda t: t[0])
    cutoff = time.time() - retention_hours * 3600.0
    survivors = [
        (p, m)
        for i, (_seq, p, m) in enumerate(metas)
        if i == len(metas) - 1 or p.stat().st_mtime > cutoff
    ]
    reachable: set[str] = {str(p) for p, _m in survivors}
    seen_manifests: set[str] = set()
    for mp, m in survivors:
        for snap in m.get("snapshots") or []:
            ml = _resolve_path(location, snap["manifest-list"])
            reachable.add(str(Path(ml)))
            try:
                rows = read_avro(ml)
            except Exception as exc:  # noqa: BLE001
                raise GlueSparkError(
                    f"surviving metadata {mp.name!r} references "
                    f"unreadable manifest list {ml!r} ({exc}) — "
                    "refusing to compute a partial reachable set"
                ) from exc
            for r in rows:
                man = _resolve_path(location, r["manifest_path"])
                reachable.add(str(Path(man)))
                if man in seen_manifests:
                    continue
                seen_manifests.add(man)
                try:
                    entries = read_avro(man)
                except Exception as exc:  # noqa: BLE001
                    raise GlueSparkError(
                        f"surviving snapshot references unreadable "
                        f"manifest {man!r} ({exc}) — refusing to "
                        "compute a partial reachable set"
                    ) from exc
                for entry in entries:
                    if entry.get("status") == 2:
                        continue
                    reachable.add(
                        str(
                            Path(
                                _resolve_path(
                                    location,
                                    entry["data_file"]["file_path"],
                                )
                            )
                        )
                    )
    victims: list[str] = []
    for sub in ("data", "metadata"):
        root = base / sub
        if not root.is_dir():
            continue
        for p in root.rglob("*"):
            if not p.is_file():
                continue
            if str(p) in reachable:
                continue
            if p.stat().st_mtime > cutoff:
                continue
            victims.append(str(p))
    if not dry_run:
        for v in victims:
            Path(v).unlink(missing_ok=True)
    return sorted(victims)
