"""Row-level DELETE for Iceberg tables, published as position deletes.

The Iceberg sibling of :mod:`.delta_delete`, completing cross-format
DELETE symmetry: matched rows become a format-v2 POSITION delete file
(``file_path``/``pos`` parquet — exactly what
:func:`..sources.iceberg.apply_position_deletes` consumes) named by a
new snapshot's DELETE manifest.  Unlike the Delta DV path, nothing is
materialized on the driver: the matched ``(file, position)`` pairs
are written DISTRIBUTED by Spark straight into the delete parquet —
delete volume never bounds the driver.

Existing position deletes stay live alongside the new file (Iceberg
composes delete files; no merge needed).  Tables already carrying
EQUALITY deletes refuse: their sequence-number scoping over a new
position delete snapshot is exactly the bookkeeping
:func:`.iceberg_optimize.optimize_iceberg` exists to collapse — purge
first, then delete.

Concurrency: pinned sequence number + per-attempt validation that
every file the delete references is still active (a concurrent
OPTIMIZE that rewrote one would leave our position delete aimed at a
retired path — matching nothing and silently resurrecting the rows),
then the same ``O_EXCL`` metadata commit as every Iceberg writer here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import SparkSession

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.sinks.hive_paths import (
    partition_values_from_dir_parts,
)
from glue_table_cache_spark.sinks.iceberg_write import _latest_metadata
from glue_table_cache_spark.sources.avro_lite import read_avro, write_avro
from glue_table_cache_spark.sources.iceberg_fixture import (
    MANIFEST_ENTRY_SCHEMA,
    MANIFEST_LIST_SCHEMA,
)


def _attach_identity_partition_columns(spark, tagged, entries, schema):
    """Identity-partitioned data files store the value in the
    directory name, not the file — re-attach each schema column the
    leaf scan is missing from the manifests' partition tuples
    (authoritative, no path parsing), broadcast-joined on the tagged
    file path.  ``tagged`` must carry ``file_path``.  Metadata-scale:
    one row per active data file."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.iceberg import (
        _strip_path,
        _strip_scheme,
    )

    if schema is None:
        return tagged
    present = set(tagged.columns)
    missing = [f for f in schema.fields if f.name not in present]
    if not missing:
        return tagged
    from glue_table_cache_spark.sources.delta import hadoop_uri_encode

    rows = [
        # manifest paths are ON-DISK spellings; the join key on the
        # scan side is _metadata-derived (Hadoop-URI-encoded) —
        # encode so a hive-escaped directory (%) still matches
        (_strip_path(hadoop_uri_encode(p)), *[
            None if pv.get(f.name) is None else str(pv[f.name])
            for f in missing
        ])
        for p, pv, _seq in entries
    ]
    pv_df = local_frame(
        spark,
        rows,
        ", ".join(
            ["__pvf string"] + [f"__pv_{f.name} string" for f in missing]
        ),
    )
    out = tagged.withColumn(
        "__pvf", _strip_scheme(F.col("file_path"))
    ).join(F.broadcast(pv_df), "__pvf", "left").drop("__pvf")
    for f in missing:
        out = out.withColumn(
            f.name, F.col(f"__pv_{f.name}").cast(f.dataType)
        ).drop(f"__pv_{f.name}")
    return out


def _stage_rows_under_spec(
    rows, base: Path, data_dir: Path, batch: str, tag: str, spec,
    l2p: dict | None = None,
) -> list[tuple[Path, dict]]:
    """Stage replacement/insert rows under the table's RECORDED
    partition spec — the write_iceberg_append staging shape, reused
    by UPDATE and MERGE so partitioned tables rewrite correctly:
    identity fields partition hive-style (value moves into the
    directory and out of the file), transform fields derive the
    hidden-partitioning column, partition it, and keep the source in
    the data.  Returns ``(dest, partition_values)`` pairs; ONE
    distributed write either way."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        _transform_column,
    )

    stage = base / f"_staging_{tag}_{batch}"
    # renamed tables stage under the PHYSICAL spellings the name
    # mapping pins (spec columns are never renamable, so the
    # transform derivation below is unaffected)
    stage_df = rows.withColumnsRenamed(l2p) if l2p else rows
    derived: list[str] = []
    for f in spec or []:
        if f["transform"] == "identity" and f["name"] in rows.columns:
            derived.append(f["name"])
            continue
        stage_df = stage_df.withColumn(
            f["name"],
            _transform_column(stage_df, f["source"], f["transform"]),
        )
        derived.append(f["name"])
    writer = stage_df.write.mode("overwrite")
    if derived:
        writer = writer.partitionBy(*derived)
    writer.parquet(str(stage))
    files: list[tuple[Path, dict]] = []
    for p in sorted(stage.rglob("part-*.parquet")):
        rel_dir = p.parent.relative_to(stage)
        # invert Spark's escapePathName: manifests carry the logical
        # partition value, the directory keeps the escaped spelling
        pv = partition_values_from_dir_parts(rel_dir.parts)
        name = f"part-{tag}-{batch}-{len(files):05d}.parquet"
        rel = rel_dir / name if rel_dir.parts else Path(name)
        dest = data_dir / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        p.rename(dest)
        files.append((dest, pv))
    shutil.rmtree(stage, ignore_errors=True)
    return files


def _stage_position_deletes(
    spark, base: Path, fp_pos_df, batch: str
) -> tuple[list[tuple[Path, int]], int, set[str]]:
    """Stage ``(file_path, pos)`` rows as position-delete parquet
    files DISTRIBUTED — clustered by target file (``repartition`` on
    ``file_path``; AQE coalesces a small match back to one task, a
    billion-row MERGE fans out) and spec-sorted by (file_path, pos)
    within each file.  Every file lands in ``data/`` as
    ``pos-delete-<batch>-<i>.parquet`` and is listed by the caller in
    ONE delete manifest.  Returns ``(files [(path, n_rows)],
    total_rows, affected_target_paths)`` — ``([], 0, set())`` when
    nothing matched (staging removed)."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    data_dir = base / "data"
    stage = base / f"_staging_del_{batch}"
    (
        fp_pos_df.select(
            "file_path", F.col("pos").cast("long").alias("pos")
        )
        .repartition(F.col("file_path"))
        .sortWithinPartitions("file_path", "pos")
        .write.mode("overwrite")
        .parquet(str(stage))
    )
    metas = []
    for p in sorted(stage.rglob("part-*.parquet")):
        n = pq.ParquetFile(p).metadata.num_rows
        if n:
            metas.append((p, n))
    if not metas:
        shutil.rmtree(stage, ignore_errors=True)
        return [], 0, set()
    affected = {
        # _metadata-derived strings are Hadoop-URI-encoded; unquote
        # restores the on-disk spelling the manifests carry
        unquote(r["file_path"])
        for r in spark.read.parquet(str(stage))
        .select("file_path")
        .distinct()
        .collect()
    }
    data_dir.mkdir(parents=True, exist_ok=True)
    files: list[tuple[Path, int]] = []
    total = 0
    for i, (p, n) in enumerate(metas):
        dest = data_dir / f"pos-delete-{batch}-{i:05d}.parquet"
        p.rename(dest)
        files.append((dest, n))
        total += n
    shutil.rmtree(stage, ignore_errors=True)
    return files, total, affected


def delete_from_iceberg(
    spark: SparkSession,
    location: str,
    predicate,
    max_commit_retries: int = 10,
) -> tuple[int | None, int]:
    """Delete rows matching ``predicate`` (SQL string or Column) from
    the Iceberg table at ``location``; returns ``(sequence_number,
    n_deleted)`` — ``(None, 0)`` when nothing matched."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.iceberg import (
        _strip_scheme,
        iceberg_scan_details,
    )

    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "delete_from_iceberg commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    meta_dir = base / "metadata"
    data_dir = base / "data"
    entries, pos_dels, eq_dels, ice_schema, (renames, dead) = (
        iceberg_scan_details(
            location, with_schema=True, with_mapping=True
        )
    )
    if eq_dels:
        raise GlueSparkError(
            "table carries EQUALITY deletes; their sequence-number "
            "scoping over a new position delete is optimizer "
            "bookkeeping — run optimize_iceberg() to purge them, "
            "then delete"
        )
    if not entries:
        return None, 0

    from glue_table_cache_spark.sources.iceberg import (
        project_iceberg_logical,
    )

    df = spark.read.parquet(*[p for p, _pv, _seq in entries])
    tagged = project_iceberg_logical(
        df.select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
            "*",
        ),
        renames,
        dead,
    )
    # identity-partitioned files store the value in the directory —
    # re-attach from the manifests so the predicate can name it
    tagged = _attach_identity_partition_columns(
        spark, tagged, entries, ice_schema
    )
    if pos_dels:
        prior = spark.read.parquet(*pos_dels).select(
            _strip_scheme(F.col("file_path")).alias("__pf"),
            F.col("pos").cast("long").alias("__pp"),
        )
        tagged = (
            tagged.withColumn(
                "__pf", _strip_scheme(F.col("file_path"))
            )
            .withColumn("__pp", F.col("pos"))
            .join(prior, ["__pf", "__pp"], "left_anti")
            .drop("__pf", "__pp")
        )
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    matched = tagged.where(cond).select("file_path", "pos")

    batch = uuid.uuid4().hex[:12]
    # the delete content is written DISTRIBUTED and MULTI-FILE — the
    # driver never holds the positions (scale posture the Delta DV
    # blob cannot take), and a billion-row match fans out instead of
    # funnelling through one task
    del_files, n, affected = _stage_position_deletes(
        spark, base, matched, batch
    )
    if n == 0:
        return None, 0

    from glue_table_cache_spark.sources.iceberg import _strip_path

    affected_stripped = {_strip_path(p) for p in affected}
    for _attempt in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        fresh, _p, _e = iceberg_scan_details(location)
        fresh_active = {
            _strip_path(p) for p, _pv, _seq in fresh
        }
        if not affected_stripped <= fresh_active:
            for df_, _n in del_files:
                df_.unlink(missing_ok=True)
            raise GlueSparkError(
                "delete_from_iceberg lost a conflicting race: a file "
                "it deletes from was rewritten concurrently (the "
                "position delete would silently miss); table left "
                "untouched — re-run"
            )
        last_seq = prev.get("last-sequence-number", 0)
        seq = last_seq + 1
        snap_id = 1000 + seq
        manifest = meta_dir / f"delete-manifest-{seq}-{batch}.avro"
        write_avro(
            manifest,
            MANIFEST_ENTRY_SCHEMA,
            [
                # ONE delete manifest listing every staged delete
                # file — the multi-file form the spec allows
                {
                    "status": 1,
                    "snapshot_id": None,
                    "sequence_number": None,  # inherit
                    "data_file": {
                        "content": 1,
                        "file_path": str(Path("data") / df_.name),
                        "file_format": "PARQUET",
                        "partition": None,
                        "record_count": n_rows,
                        "file_size_in_bytes": df_.stat().st_size,
                        "equality_ids": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "null_value_counts": None,
                    },
                }
                for df_, n_rows in del_files
            ],
        )
        prior_rows: list[dict] = []
        from glue_table_cache_spark.sources.iceberg import (
            current_snapshot,
        )

        prior_snaps = list(prev.get("snapshots") or [])
        cur = current_snapshot(prev)
        if cur is not None:
            # the CURRENT snapshot, not the newest list entry —
            # commits after a rollback must branch from current
            pl = cur["manifest-list"]
            prior_rows = read_avro(
                pl if pl.startswith("/") else str(base / pl)
            )
        manifest_list = meta_dir / f"snap-{seq}-{batch}.avro"
        write_avro(
            manifest_list,
            MANIFEST_LIST_SCHEMA,
            prior_rows
            + [
                {
                    "manifest_path": str(
                        Path("metadata") / manifest.name
                    ),
                    "manifest_length": manifest.stat().st_size,
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            ],
        )
        meta = dict(prev)
        meta["last-sequence-number"] = seq
        meta["current-snapshot-id"] = snap_id
        meta["snapshots"] = prior_snaps + [
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": int(time.time() * 1000),
                "manifest-list": str(
                    Path("metadata") / manifest_list.name
                ),
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
        return seq, int(n)
    raise GlueSparkError(
        f"could not commit DELETE to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def update_iceberg(
    spark: SparkSession,
    location: str,
    predicate,
    set_exprs: dict[str, str],
    max_commit_retries: int = 10,
) -> tuple[int | None, int]:
    """``UPDATE t SET col = expr, ... WHERE predicate`` for Iceberg —
    the format-v2 shape: matched rows are retired by a POSITION
    delete file and re-appear transformed in a new data file, both
    named by ONE snapshot (a data manifest and a delete manifest in
    the same manifest list, same sequence number), so readers see the
    whole update or none of it.  The new rows are not masked by the
    delete — position deletes target the OLD files' paths.

    Returns ``(sequence_number, n_updated)`` — ``(None, 0)`` when
    nothing matched.  All ``set_exprs`` evaluate against pre-update
    values (standard UPDATE semantics).  Tables carrying EQUALITY
    deletes refuse (optimize first, same as DELETE).  PARTITIONED
    tables work — identity AND hidden specs: replacement rows stage
    through the recorded spec's transforms (``partitionBy`` on the
    derived values, one job), their manifest entries carry the
    partition tuple, and a SET on an identity partition column MOVES
    the row.  Identity columns the leaf files don't store re-attach
    from the manifests before the predicate evaluates.

    Scale: the matched positions and the transformed rows are both
    written DISTRIBUTED; the driver never holds row data.
    Concurrency: pinned sequence + per-attempt validation that every
    file the delete references is still active, then ``O_EXCL``."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sinks.iceberg_write import (
        _footer_bounds,
        _resolve_schema,
    )
    from glue_table_cache_spark.sources.iceberg import (
        _strip_path,
        _strip_scheme,
        iceberg_scan_details,
    )
    from glue_table_cache_spark.sources.iceberg_fixture import (
        _iceberg_type,
    )

    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "update_iceberg commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    meta_dir = base / "metadata"
    data_dir = base / "data"
    entries, pos_dels, eq_dels, ice_schema, ice_spec, (
        renames, dead
    ) = iceberg_scan_details(
        location, with_schema=True, with_spec=True,
        with_mapping=True,
    )
    if eq_dels:
        raise GlueSparkError(
            "table carries EQUALITY deletes; run optimize_iceberg() "
            "to purge them, then update"
        )
    if not entries:
        return None, 0
    prev = _latest_metadata(meta_dir)

    from glue_table_cache_spark.sources.iceberg import (
        project_iceberg_logical,
    )

    df = spark.read.parquet(*[p for p, _pv, _seq in entries])
    tagged = project_iceberg_logical(
        df.select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
            "*",
        ),
        renames,
        dead,
    )
    # identity-partitioned files store the value in the directory —
    # re-attach from the manifests so the predicate and the rewrite
    # see the full logical row
    tagged = _attach_identity_partition_columns(
        spark, tagged, entries, ice_schema
    )
    cols = [c for c in tagged.columns if c not in ("file_path", "pos")]
    unknown = [c for c in set_exprs if c not in cols]
    if unknown:
        raise GlueSparkError(
            f"UPDATE sets unknown column(s) {unknown}; table "
            f"columns are {cols}"
        )
    # validate the (unchanged) schema + reuse its recorded field ids
    df_types = {
        f.name: _iceberg_type(tagged.schema[f.name].dataType)
        for f in tagged.schema.fields
        if f.name in cols
    }
    ids, types, _fields = _resolve_schema(
        prev, df_types, cols, False, location
    )
    if pos_dels:
        prior = spark.read.parquet(*pos_dels).select(
            _strip_scheme(F.col("file_path")).alias("__pf"),
            F.col("pos").cast("long").alias("__pp"),
        )
        tagged = (
            tagged.withColumn(
                "__pf", _strip_scheme(F.col("file_path"))
            )
            .withColumn("__pp", F.col("pos"))
            .join(prior, ["__pf", "__pp"], "left_anti")
            .drop("__pf", "__pp")
        )
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    matched = tagged.where(cond)

    batch = uuid.uuid4().hex[:12]
    # distributed write #1: the position-delete content, multi-file
    del_files, n, affected = _stage_position_deletes(
        spark, base, matched, batch
    )
    if n == 0:
        return None, 0
    # distributed write #2: the transformed replacement rows (all
    # set_exprs see PRE-update values — one projection, no chaining),
    # staged under the RECORDED partition spec so partitioned rewrites
    # land in their directories with correct manifest tuples
    replacement = matched.select(
        *[
            F.expr(set_exprs[c])
            .cast(tagged.schema[c].dataType)
            .alias(c)
            if c in set_exprs
            else F.col(c)
            for c in cols
        ]
    )
    new_files = _stage_rows_under_spec(
        replacement, base, data_dir, batch, "upd", ice_spec,
        l2p={v: k for k, v in renames.items()},
    )

    seq = _commit_add_and_delete_snapshot(
        location,
        new_files=new_files,
        del_files=del_files,
        n_del=n,
        affected=affected,
        ids=ids,
        types=types,
        batch=batch,
        max_commit_retries=max_commit_retries,
        verb="UPDATE",
    )
    return seq, int(n)


def _commit_add_and_delete_snapshot(
    location: str,
    new_files: list[tuple[Path, dict]],
    del_files: list[tuple[Path, int]],
    n_del: int,
    affected: set[str],
    ids: dict[str, int],
    types: dict[str, str],
    batch: str,
    max_commit_retries: int,
    verb: str,
) -> int:
    """ONE snapshot naming both an ADDED data manifest (``new_files``
    as ``(path, partition_values)`` pairs, content=0) and — when
    ``del_files`` (``(path, n_rows)`` pairs, the multi-file
    distributed staging) is non-empty — a DELETE manifest listing
    every delete file (content=1), with the
    shared pinned-sequence / per-attempt active-file validation /
    ``O_EXCL`` protocol every Iceberg writer here uses.  The
    row-level UPDATE and MERGE commit through this; partitioned
    rewrites carry their partition tuple into the manifest entries so
    pruning and identity-column recovery keep working."""
    from glue_table_cache_spark.sinks.iceberg_write import (
        _footer_bounds,
    )
    from glue_table_cache_spark.sources.iceberg import (
        _strip_path,
        iceberg_scan_details,
    )

    base = Path(location)
    meta_dir = base / "metadata"

    def _cleanup() -> None:
        for f, _n in del_files:
            f.unlink(missing_ok=True)
        for f, _pv in new_files:
            f.unlink(missing_ok=True)

    affected_stripped = {_strip_path(p) for p in affected}
    for _attempt in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        fresh, _p, _e = iceberg_scan_details(location)
        fresh_active = {_strip_path(p) for p, _pv, _seq in fresh}
        if not affected_stripped <= fresh_active:
            _cleanup()
            raise GlueSparkError(
                f"{verb} lost a conflicting race: a file it touches "
                "rows in was rewritten concurrently; table left "
                "untouched — re-run"
            )
        last_seq = prev.get("last-sequence-number", 0)
        seq = last_seq + 1
        snap_id = 1000 + seq
        # staged files carry PHYSICAL spellings on renamed tables —
        # footer bound decoding keys by them, manifests stay by id
        from glue_table_cache_spark.sources.iceberg import (
            iceberg_column_mapping,
        )

        _ren, _dead = iceberg_column_mapping(prev)
        _l2p = {v: k for k, v in _ren.items()}
        ids_p = {_l2p.get(k, k): v for k, v in ids.items()}
        types_p = {_l2p.get(k, k): v for k, v in types.items()}
        list_rows = []
        manifests: list[Path] = []
        if new_files:
            add_manifest = (
                meta_dir / f"manifest-rl-{seq}-{batch}.avro"
            )
            write_avro(
                add_manifest,
                MANIFEST_ENTRY_SCHEMA,
                [
                    {
                        "status": 1,
                        "snapshot_id": None,
                        "sequence_number": None,  # inherit
                        "data_file": {
                            "content": 0,
                            "file_path": str(
                                Path("data")
                                / dest.relative_to(base / "data")
                            ),
                            "file_format": "PARQUET",
                            "partition": pv or None,
                            "record_count": (st := _footer_bounds(
                                dest, ids_p, types_p
                            ))["record_count"],
                            "file_size_in_bytes": dest.stat().st_size,
                            "equality_ids": None,
                            "lower_bounds": st["lower_bounds"],
                            "upper_bounds": st["upper_bounds"],
                            "null_value_counts": st[
                                "null_value_counts"
                            ],
                        },
                    }
                    for dest, pv in new_files
                ],
            )
            manifests.append(add_manifest)
            list_rows.append(
                {
                    "manifest_path": str(
                        Path("metadata") / add_manifest.name
                    ),
                    "manifest_length": add_manifest.stat().st_size,
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            )
        if del_files:
            del_manifest = (
                meta_dir / f"delete-manifest-{seq}-{batch}.avro"
            )
            write_avro(
                del_manifest,
                MANIFEST_ENTRY_SCHEMA,
                [
                    {
                        "status": 1,
                        "snapshot_id": None,
                        "sequence_number": None,
                        "data_file": {
                            "content": 1,
                            "file_path": str(
                                Path("data") / df_.name
                            ),
                            "file_format": "PARQUET",
                            "partition": None,
                            "record_count": n_rows,
                            "file_size_in_bytes": (
                                df_.stat().st_size
                            ),
                            "equality_ids": None,
                            "lower_bounds": None,
                            "upper_bounds": None,
                            "null_value_counts": None,
                        },
                    }
                    for df_, n_rows in del_files
                ],
            )
            manifests.append(del_manifest)
            list_rows.append(
                {
                    "manifest_path": str(
                        Path("metadata") / del_manifest.name
                    ),
                    "manifest_length": del_manifest.stat().st_size,
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": seq,
                    "added_snapshot_id": snap_id,
                }
            )
        prior_rows: list[dict] = []
        from glue_table_cache_spark.sources.iceberg import (
            current_snapshot,
        )

        prior_snaps = list(prev.get("snapshots") or [])
        cur = current_snapshot(prev)
        if cur is not None:
            # the CURRENT snapshot, not the newest list entry —
            # commits after a rollback must branch from current
            pl = cur["manifest-list"]
            prior_rows = read_avro(
                pl if pl.startswith("/") else str(base / pl)
            )
        manifest_list = meta_dir / f"snap-{seq}-{batch}.avro"
        write_avro(
            manifest_list,
            MANIFEST_LIST_SCHEMA,
            prior_rows + list_rows,
        )
        meta = dict(prev)
        meta["last-sequence-number"] = seq
        meta["current-snapshot-id"] = snap_id
        meta["snapshots"] = prior_snaps + [
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": int(time.time() * 1000),
                "manifest-list": str(
                    Path("metadata") / manifest_list.name
                ),
                "summary": {"operation": "overwrite"},
            }
        ]
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            for m in manifests:
                m.unlink(missing_ok=True)
            manifest_list.unlink(missing_ok=True)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit {verb} to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def merge_into_iceberg(
    spark: SparkSession,
    location: str,
    source,
    on,
    max_commit_retries: int = 10,
) -> tuple[int, int, int]:
    """Whole-row upsert for Iceberg, keyed on ``on``: target rows
    whose key appears in ``source`` are retired by a position-delete
    file and EVERY source row (replacements + inserts) lands in new
    data files — one snapshot carries both manifests, so readers see
    the whole merge or none of it.  Returns ``(sequence_number,
    n_updated, n_inserted)``.

    The delta sibling's contract carries over exactly
    (:func:`.delta_merge.merge_into_delta`): duplicate source keys
    refuse (the matched row would be ambiguous), source columns must
    equal the table schema (whole rows are replaced), equality-delete
    tables refuse toward optimize.  PARTITIONED tables (identity or
    hidden spec) work: every source row stages through the recorded
    spec's transforms and its manifest entry carries the partition
    tuple — untouched partitions' files are never rewritten (only
    position deletes retire matched rows)."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sinks.iceberg_write import (
        _resolve_schema,
        write_iceberg_append,
    )
    from glue_table_cache_spark.sources.iceberg import (
        _strip_scheme,
        iceberg_scan_details,
    )
    from glue_table_cache_spark.sources.iceberg_fixture import (
        _iceberg_type,
    )

    keys = [on] if isinstance(on, str) else list(on)
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "merge_into_iceberg commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    meta_dir = base / "metadata"
    data_dir = base / "data"
    entries, pos_dels, eq_dels, ice_schema, ice_spec, (
        renames, dead
    ) = iceberg_scan_details(
        location, with_schema=True, with_spec=True,
        with_mapping=True,
    )
    if eq_dels:
        raise GlueSparkError(
            "table carries EQUALITY deletes; run optimize_iceberg() "
            "to purge them, then merge"
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
            "source first (e.g. max_by on a version column)"
        )
    if not entries:
        # empty table: the merge IS an append
        n_ins = source.count()
        return write_iceberg_append(source, location), 0, n_ins

    from glue_table_cache_spark.sources.iceberg import (
        project_iceberg_logical,
    )

    df = spark.read.parquet(*[p for p, _pv, _seq in entries])
    tagged_full = _attach_identity_partition_columns(
        spark,
        project_iceberg_logical(
            df.select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("pos"),
                "*",
            ),
            renames,
            dead,
        ),
        entries,
        ice_schema,
    )
    cols = [
        c for c in tagged_full.columns if c not in ("file_path", "pos")
    ]
    want = set(cols)
    if set(source.columns) != want:
        raise GlueSparkError(
            f"MERGE source columns {sorted(source.columns)} do not "
            f"match the table schema {sorted(want)} — the merge "
            "replaces whole rows; align the source first"
        )
    prev = _latest_metadata(meta_dir)
    df_types = {
        f.name: _iceberg_type(tagged_full.schema[f.name].dataType)
        for f in tagged_full.schema.fields
        if f.name in want
    }
    ids, types, _fields = _resolve_schema(
        prev, df_types, cols, False, location
    )

    src_keys = F.broadcast(source.select(*keys).distinct())
    tagged = tagged_full.select("file_path", "pos", *keys)
    if pos_dels:
        prior = spark.read.parquet(*pos_dels).select(
            _strip_scheme(F.col("file_path")).alias("__pf"),
            F.col("pos").cast("long").alias("__pp"),
        )
        tagged = (
            tagged.withColumn(
                "__pf", _strip_scheme(F.col("file_path"))
            )
            .withColumn("__pp", F.col("pos"))
            .join(prior, ["__pf", "__pp"], "left_anti")
            .drop("__pf", "__pp")
        )
    matched = tagged.join(src_keys, keys)

    batch = uuid.uuid4().hex[:12]
    del_files, n_upd, affected = _stage_position_deletes(
        spark, base, matched, batch
    )
    new_files = _stage_rows_under_spec(
        source.select(
            *[
                F.col(c)
                .cast(tagged_full.schema[c].dataType)
                .alias(c)
                for c in cols
            ]
        ),
        base,
        data_dir,
        batch,
        "mrg",
        ice_spec,
        l2p={v: k for k, v in renames.items()},
    )

    seq = _commit_add_and_delete_snapshot(
        location,
        new_files=new_files,
        del_files=del_files,
        n_del=int(n_upd),
        affected=affected,
        ids=ids,
        types=types,
        batch=batch,
        max_commit_retries=max_commit_retries,
        verb="MERGE",
    )
    n_src = source.count()
    return seq, int(n_upd), int(n_src - n_upd)


def merge_general_iceberg(
    spark: SparkSession,
    location: str,
    source,
    on,
    clauses,
    max_commit_retries: int = 10,
) -> tuple[int | None, int, int, int]:
    """The general (column-level) MERGE grammar for Iceberg —
    ``WHEN MATCHED [AND cond] THEN UPDATE SET c=e / DELETE``,
    ``WHEN NOT MATCHED [AND cond] THEN INSERT``, ``WHEN NOT MATCHED
    BY SOURCE THEN UPDATE/DELETE`` — in the format-v2 shape: every
    CHOSEN target row (update or delete) is retired by ONE position-
    delete file, updated rows re-appear transformed in new data
    files next to the NOT MATCHED inserts, all named by one snapshot
    (data manifest + delete manifest, same sequence number).  Unlike
    the Delta sibling no data file ever rewrites — position deletes
    carry the whole matched side.

    Returns ``(sequence_number, n_updated, n_inserted, n_deleted)``
    — ``(None, 0, 0, 0)`` when no clause matched anything.  The
    clause planning (first-true-wins chosen index, simultaneous SET
    projection, NULL-filled explicit INSERT lists) is shared with
    Delta via :mod:`.merge_planner`."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sinks.iceberg_write import (
        _resolve_schema,
        write_iceberg_append,
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
    from glue_table_cache_spark.sources.iceberg import (
        _strip_scheme,
        iceberg_scan_details,
    )
    from glue_table_cache_spark.sources.iceberg_fixture import (
        _iceberg_type,
    )

    keys = [on] if isinstance(on, str) else list(on)
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "merge_general_iceberg commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    meta_dir = base / "metadata"
    data_dir = base / "data"
    entries, pos_dels, eq_dels, ice_schema, ice_spec, (
        renames, dead
    ) = iceberg_scan_details(
        location, with_schema=True, with_spec=True,
        with_mapping=True,
    )
    if eq_dels:
        raise GlueSparkError(
            "table carries EQUALITY deletes; run optimize_iceberg() "
            "to purge them, then merge"
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
            "MERGE source has duplicate keys — a matched target row "
            "would meet several source rows; de-duplicate the "
            "source first (e.g. max_by on a version column)"
        )
    if not entries:
        # empty table: only the NOT MATCHED clauses can fire; the
        # table schema comes from the metadata (there are no files)
        e_cols = (
            [f.name for f in ice_schema.fields]
            if ice_schema is not None
            else list(source.columns)
        )
        e_schema = (
            ice_schema if ice_schema is not None else source.schema
        )
        validate_clauses(clauses, e_cols, source.columns, keys)
        ins = insert_outputs(
            source,
            source.select(*keys).limit(0),
            keys,
            clauses,
            e_cols,
            e_schema,
        )
        if ins is None:
            return None, 0, 0, 0
        n_ins = ins.count()
        if not n_ins:
            return None, 0, 0, 0
        return write_iceberg_append(ins, location), 0, n_ins, 0

    from glue_table_cache_spark.sources.iceberg import (
        project_iceberg_logical,
    )

    df = spark.read.parquet(*[p for p, _pv, _seq in entries])
    tagged = _attach_identity_partition_columns(
        spark,
        project_iceberg_logical(
            df.select(
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("pos"),
                "*",
            ),
            renames,
            dead,
        ),
        entries,
        ice_schema,
    )
    t_cols = [
        c for c in tagged.columns if c not in ("file_path", "pos")
    ]
    validate_clauses(clauses, t_cols, source.columns, keys)
    prev = _latest_metadata(meta_dir)
    df_types = {
        f.name: _iceberg_type(tagged.schema[f.name].dataType)
        for f in tagged.schema.fields
        if f.name in t_cols
    }
    ids, types, _fields = _resolve_schema(
        prev, df_types, t_cols, False, location
    )
    if pos_dels:
        prior = spark.read.parquet(*pos_dels).select(
            _strip_scheme(F.col("file_path")).alias("__pf"),
            F.col("pos").cast("long").alias("__pp"),
        )
        tagged = (
            tagged.withColumn(
                "__pf", _strip_scheme(F.col("file_path"))
            )
            .withColumn("__pp", F.col("pos"))
            .join(prior, ["__pf", "__pp"], "left_anti")
            .drop("__pf", "__pp")
        )
    joined = join_source(tagged, source, keys).withColumn(
        "__chosen", chosen_column(clauses)
    )
    upd_idx = action_indexes(clauses, "update")

    batch = uuid.uuid4().hex[:12]
    # distributed write #1: every chosen row's (file, pos, clause) —
    # the per-clause tallies AND the position-delete source, one job
    plan_stage = base / f"_staging_plan_{batch}"
    joined.where(F.col("__chosen") != KEEP).select(
        "file_path", F.col("pos").cast("long").alias("pos"),
        "__chosen",
    ).write.mode("overwrite").parquet(str(plan_stage))
    chosen_df = spark.read.parquet(str(plan_stage))
    tallies = {
        int(r["__chosen"]): int(r["n"])
        for r in chosen_df.groupBy("__chosen")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_upd = sum(n for i, n in tallies.items() if i in set(upd_idx))
    n_del = sum(
        n for i, n in tallies.items() if i not in set(upd_idx)
    )
    n_retired = n_upd + n_del
    affected = {
        unquote(r["file_path"])
        for r in chosen_df.select("file_path").distinct().collect()
    }
    # distributed write #2: updated-row replacements + inserts, both
    # staged under the RECORDED spec (partition tuples stay correct)
    pieces = []
    if upd_idx and n_upd:
        pieces.append(
            target_outputs(
                joined.where(F.col("__chosen").isin(upd_idx)),
                clauses,
                t_cols,
            )
        )
    ins = insert_outputs(
        source,
        tagged.select(*keys).distinct(),
        keys,
        clauses,
        t_cols,
        tagged.schema,
    )
    n_ins = 0
    if ins is not None:
        ins = ins.localCheckpoint()  # reused: count + stage
        n_ins = ins.count()
        if n_ins:
            pieces.append(ins)
    if not n_retired and not n_ins:
        shutil.rmtree(plan_stage, ignore_errors=True)
        return None, 0, 0, 0
    new_rows = None
    for p in pieces:
        new_rows = (
            p if new_rows is None
            else new_rows.unionByName(p.select(*new_rows.columns))
        )
    new_files = (
        _stage_rows_under_spec(
            new_rows.select(
                *[
                    F.col(c)
                    .cast(tagged.schema[c].dataType)
                    .alias(c)
                    for c in t_cols
                ]
            ),
            base,
            data_dir,
            batch,
            "mrg",
            ice_spec,
            l2p={v: k for k, v in renames.items()},
        )
        if new_rows is not None
        else []
    )
    del_files: list[tuple[Path, int]] = []
    if n_retired:
        # the actual position-delete files: (file_path, pos) ONLY —
        # written from the staged plan, never the full join
        del_files, _n, _aff = _stage_position_deletes(
            spark, base, chosen_df.select("file_path", "pos"), batch
        )
    shutil.rmtree(plan_stage, ignore_errors=True)

    seq = _commit_add_and_delete_snapshot(
        location,
        new_files=new_files,
        del_files=del_files,
        n_del=int(n_retired),
        affected=affected,
        ids=ids,
        types=types,
        batch=batch,
        max_commit_retries=max_commit_retries,
        verb="MERGE",
    )
    return seq, int(n_upd), int(n_ins), int(n_del)
