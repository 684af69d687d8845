"""MERGE INTO (upsert) for Delta tables — copy-on-write rewrite.

Completes the Delta write surface next to append
(:mod:`.delta_write`), DELETE (:mod:`.delta_delete`), OPTIMIZE and
checkpointing: ``MERGE INTO target USING source ON keys`` with the
classic upsert semantics — matched target rows are REPLACED by their
source row, unmatched source rows are INSERTED — executed the way
copy-on-write engines do:

1. find the AFFECTED files: the target's key column + ``_metadata.
   file_path`` scanned in place, semi-joined against the (broadcast)
   source key set — only files actually holding a matched key rewrite,
   everything else is untouched metadata-wise and byte-wise;
2. rewrite: the affected files' rows (their deletion vectors applied
   first — a DV-deleted row must not resurrect) minus the matched
   keys, unioned with ALL source rows (replacements + inserts), write
   ``~target_file_mb`` outputs with footer stats;
3. commit ``remove`` (affected) + ``add`` (rewritten) in ONE version,
   both ``dataChange: true``, under the pinned-version ``O_EXCL``
   loop with per-attempt validation (a concurrent writer touching an
   affected file aborts cleanly — staged files deleted, table
   untouched).

Source keys must be unique — duplicate keys make "the source row"
ambiguous and refuse loudly (the standard MERGE cardinality error).
Column-mapped tables work: scans project physical->logical for key
matching, rewrites land under physical names (only CDF-enabled
mapped tables refuse — cdc files would need physical names).
PARTITIONED tables work: rewrites hash on the partition columns and
write through ``partitionBy`` in one job, each output landing in its
hive directory with parsed ``partitionValues`` — untouched
partitions stay byte-identical because only files holding a matched
key ever enter the rewrite set.  Generated partition columns
re-derive on the rewrite output.  (Partitioned AND column-mapped
together refuses — directories key on physical names.)
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.sinks.delta_write import (
    _footer_stats_json,
    _maybe_checkpoint,
    _next_version,
    enforce_check_constraints,
    refuse_append_only,
    serialize_actions,
)


def _write_rewrite_stage(df, stage, n_files: int, pcols: list[str]):
    """Stage a COW rewrite: unpartitioned tables repartition to the
    byte-sized file target; partitioned tables hash on the partition
    columns and write through ``partitionBy`` so every output lands
    in its hive directory — ONE job either way (the per-group-loop
    anti-pattern this repo retired in the Hudi writers).  One file
    per partition value per rewrite; OPTIMIZE re-sizes later."""
    writer = (
        df.repartition(n_files, *pcols) if pcols else
        df.repartition(n_files)
    ).write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(str(stage))


def _collect_staged_adds(
    stage: Path, base: Path, batch: str, now: int
) -> list[dict]:
    """Move staged parts into place under unique batch-tagged names,
    preserving hive partition directories, and return their ``add``
    actions (partitionValues parsed from the staged ``k=v`` path —
    the write_delta_append convention — with Spark's escapePathName
    encoding INVERTED: ``%XX`` decodes and the Hive null sentinel
    maps to JSON null, so computed SET values with special characters
    commit their logical value, not the directory spelling)."""
    from glue_table_cache_spark.sinks.hive_paths import (
        partition_values_from_dir_parts,
    )

    adds: list[dict] = []
    for p in sorted(stage.rglob("part-*.parquet")):
        rel_dir = p.parent.relative_to(stage)
        pv = partition_values_from_dir_parts(rel_dir.parts)
        name = f"part-{batch}-{len(adds):05d}.parquet"
        rel = str(rel_dir / name) if rel_dir.parts else name
        dest = base / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        p.rename(dest)
        add = {
            "path": rel,
            "partitionValues": pv,
            "size": dest.stat().st_size,
            "modificationTime": now,
            "dataChange": True,
        }
        stats = _footer_stats_json(dest)
        if stats is not None:
            add["stats"] = stats
        adds.append(add)
    return adds


def _rederive_generated(df, location: str):
    """Re-derive every ``delta.generationExpression`` column on a
    rewrite output — a MERGE source (or an UPDATE touching the
    expression's input) may carry values inconsistent with the
    expression, and partition placement keys on the derived value."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.delta import _replay

    meta = _replay(location)[1].get("metaData") or {}
    from glue_table_cache_spark.sinks.delta_write import (
        _generation_expressions,
    )

    for c, e in _generation_expressions(meta).items():
        if c in df.columns:
            df = df.withColumn(c, F.expr(e))
    return df


def merge_into_delta(
    spark: SparkSession,
    location: str,
    source: DataFrame,
    on: list[str] | str,
    target_file_mb: int = 256,
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
) -> tuple[int, int, int]:
    """Upsert ``source`` into the Delta table at ``location`` keyed on
    ``on``; returns ``(version, n_updated, n_inserted)``.  Readers see
    the whole merge or none of it."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.delta import (
        _path_uri,
        apply_deletion_vectors,
        delta_scan_info,
        log_action_path,
        read_parquet_files,
    )

    keys = [on] if isinstance(on, str) else list(on)
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "merge_into_delta commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    refuse_append_only(location, "MERGE")
    entries, renames, log_schema, phys_schema = delta_scan_info(
        location, with_schema=True, allow_nested_mapping=True,
        with_physical_schema=True,
    )
    # COLUMN-MAPPED tables work (nested included, r12): scans read
    # physical names and project to the logical view for key matching
    # (apply_column_mapping's positional struct cast renames every
    # level); rewritten files are written back under physical names
    # via to_physical's inverse cast (footer stats then key
    # physically, the protocol's convention for mapped tables)
    inverse = {v: k for k, v in (renames or {}).items()}
    from glue_table_cache_spark.sources.delta import _replay

    pcols = list(
        ((_replay(location)[1].get("metaData")) or {}).get(
            "partitionColumns"
        )
        or []
    )
    # PARTITIONED + column-mapped works (r14, same contract as the
    # r13 OPTIMIZE lift): the rewrite plans on logical names, then
    # to_physical renames every level and the stage writes through
    # the PHYSICAL partition columns, so the staged k=v directories
    # and the parsed add partitionValues keep the on-disk spelling
    phys_pcols = [inverse.get(c, c) for c in pcols]
    from glue_table_cache_spark.dml import resolve_source_keys

    keys = resolve_source_keys(source, keys)
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise GlueSparkError(
            f"merge keys {missing} are not in the source columns "
            f"{source.columns}"
        )
    if log_schema is not None:
        want = {f.name for f in log_schema.fields}
        if set(source.columns) != want:
            raise GlueSparkError(
                f"MERGE source columns {sorted(source.columns)} do "
                f"not match the table schema {sorted(want)} — the "
                "merge replaces whole rows; align the source first"
            )
    dup = source.groupBy(*keys).count().where("count > 1").limit(1)
    if dup.count():
        raise GlueSparkError(
            "MERGE source has duplicate keys — 'the source row' for a "
            "matched target row is ambiguous; de-duplicate the source "
            "first (e.g. max_by on a version column)"
        )
    by_path = {p: (pv, dv) for p, pv, dv in entries}

    src_keys = F.broadcast(source.select(*keys).distinct())
    affected: list[str] = []
    n_updated = 0
    if by_path:
        from glue_table_cache_spark.sources.dv import (
            dv_deleted_positions,
        )

        target = read_parquet_files(
            spark, location, by_path,
            schema=log_schema if renames is None else None,
        )
        # DV-deleted rows must not count as matches nor pin their
        # file into the rewrite set on their own: tag (file, row)
        # and anti-join the decoded prior positions — the
        # update_delta shape (a source key matching only DV-deleted
        # rows would otherwise inflate n_updated and rewrite files
        # needlessly)
        tagged = target.select(
            F.col("_metadata.file_path").alias("__f"),
            F.col("_metadata.row_index").alias("__p"),
            *[F.col(inverse.get(k, k)).alias(k) for k in keys],
        )
        prior_pairs = [
            (_path_uri(p), int(pos))
            for p, (_pv, dv) in by_path.items()
            if dv
            for pos in dv_deleted_positions(dv, location)
        ]
        if prior_pairs:
            tagged = tagged.join(
                F.broadcast(
                    local_frame(
                        spark,
                        prior_pairs, "__f string, __p long"
                    )
                ),
                ["__f", "__p"],
                "left_anti",
            )
        hit = (
            tagged.join(src_keys, keys)
            .groupBy("__f")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        uri_to_path = {_path_uri(p): p for p in by_path}
        for r in hit:
            affected.append(uri_to_path.get(r["__f"], r["__f"]))
            n_updated += int(r["__n"])

    src_count = source.count()
    n_inserted = src_count - n_updated

    # rewrite = (affected rows with DVs applied, minus matched keys)
    # + every source row
    batch = uuid.uuid4().hex[:12]
    now = int(time.time() * 1000)
    base_rows = None
    if affected:
        base_rows = apply_deletion_vectors(
            read_parquet_files(
                spark, location, affected,
                schema=log_schema if renames is None else None,
            ),
            [(p, by_path[p][0], by_path[p][1]) for p in affected],
            location,
        ).drop("_metadata")  # materialized across a clone's union
        if renames is not None:
            from glue_table_cache_spark.sources.delta import (
                apply_column_mapping,
            )

            base_rows = apply_column_mapping(
                base_rows, renames, log_schema
            )
        kept = base_rows.join(src_keys, keys, "left_anti")
        merged = kept.unionByName(
            source.select(*kept.columns)
        )
        total_bytes = sum(Path(p).stat().st_size for p in affected)
    else:
        merged = source
        total_bytes = 0
    # CDF: matched rows become update_preimage/postimage pairs,
    # unmatched source rows insert — recorded as cdc files in the
    # same commit (file-level synthesis would misreport the whole
    # rewritten files as delete+insert)
    from glue_table_cache_spark.sinks.delta_cdc import (
        cdf_enabled,
        to_physical,
        typed,
        write_cdc_files,
    )

    cdc_actions: list[dict] = []
    if cdf_enabled(location):
        if base_rows is not None:
            pre = base_rows.join(src_keys, keys, "left_semi")
            mk = pre.select(*keys).distinct()
            post = source.join(mk, keys, "left_semi").select(
                *pre.columns
            )
            ins = source.join(mk, keys, "left_anti").select(
                *pre.columns
            )
            changes = (
                typed(pre, "update_preimage")
                .unionByName(typed(post, "update_postimage"))
                .unionByName(typed(ins, "insert"))
            )
        else:
            changes = typed(source, "insert")
        cdc_actions = write_cdc_files(
            to_physical(changes, renames, phys_schema), location
        )
    n_files = max(
        1, -(-max(total_bytes, 1) // (target_file_mb * 1024 * 1024))
    )
    stage = base / f"_staging_{batch}"
    from glue_table_cache_spark.sources.delta import (
        delta_table_configuration,
    )

    merged = _rederive_generated(merged, location)
    enforce_check_constraints(
        merged, delta_table_configuration(location), "MERGE"
    )
    if renames is not None:
        # write back under PHYSICAL names (every level), the on-disk
        # contract
        merged = to_physical(merged, renames, phys_schema)
    _write_rewrite_stage(merged, stage, n_files, phys_pcols)
    adds = _collect_staged_adds(stage, base, batch, now)
    shutil.rmtree(stage, ignore_errors=True)

    log_dir = base / "_delta_log"
    affected_set = set(affected)
    for _attempt in range(max_commit_retries):
        # pinned version + per-attempt validation (optimizer posture)
        version = _next_version(log_dir)
        fresh, _r = delta_scan_info(
            location, allow_nested_mapping=True
        )
        fresh_state = {p: dv for p, _pv, dv in fresh}
        conflict = any(
            p not in fresh_state
            or (fresh_state[p] or None) != (by_path[p][1] or None)
            for p in affected_set
        )
        if conflict:
            for a in adds:
                (base / a["path"]).unlink(missing_ok=True)
            raise GlueSparkError(
                "merge_into_delta lost a conflicting race: an "
                "affected file was rewritten or deleted-from "
                "concurrently; table left untouched — re-run"
            )
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "MERGE",
                    "operationParameters": {
                        "matchedPredicates": json.dumps(keys)
                    },
                }
            }
        ]
        actions += [
            {
                "remove": {
                    "path": log_action_path(location, p),
                    "deletionTimestamp": now,
                    "dataChange": True,
                    "partitionValues": by_path[p][0],
                }
            }
            for p in sorted(affected_set)
        ]
        actions += [{"add": a} for a in adds]
        actions += cdc_actions
        commit = log_dir / f"{version:020d}.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        _maybe_checkpoint(location, version, checkpoint_interval)
        return version, n_updated, n_inserted
    raise GlueSparkError(
        f"could not commit MERGE to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def merge_general_delta(
    spark: SparkSession,
    location: str,
    source: DataFrame,
    on: list[str] | str,
    clauses,
    target_file_mb: int = 256,
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
) -> tuple[int | None, int, int, int]:
    """The general (column-level) MERGE grammar for Delta —
    ``WHEN MATCHED [AND cond] THEN UPDATE SET c=e / DELETE``,
    ``WHEN NOT MATCHED [AND cond] THEN INSERT (...) VALUES (...)``,
    ``WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE`` — executed as
    a two-phase copy-on-write rewrite:

    1. PLAN: the full target (tagged with file/position, deletion
       vectors anti-joined) left-joins the source on the keys; one
       chained ``when`` picks the per-row chosen clause in statement
       order (:func:`.merge_planner.chosen_column`); ONE aggregation
       over ``(file, chosen)`` yields the affected-file set and the
       update/delete tallies — no rows ever reach the driver.
    2. REWRITE: only the affected files re-read and re-join; chosen
       rows transform/drop (:func:`.merge_planner.target_outputs`),
       the NOT MATCHED inserts append
       (:func:`.merge_planner.insert_outputs`), and the outputs
       commit as remove+add in ONE version under the same
       pinned-version O_EXCL loop as :func:`merge_into_delta`.

    Returns ``(version, n_updated, n_inserted, n_deleted)`` —
    ``(None, 0, 0, 0)`` when no clause matched anything.  Clause
    semantics follow the public Delta/SQL:2003 MERGE dialect
    (+ NOT MATCHED BY SOURCE); the reference engine has no DML
    surface (src/types.ts:4-11 enumerates formats it never writes).
    """
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sinks.merge_planner import (
        action_indexes,
        chosen_column,
        insert_outputs,
        join_source,
        target_counts,
        target_outputs,
        validate_clauses,
    )
    from glue_table_cache_spark.sources.delta import (
        _path_uri,
        _replay,
        delta_scan_info,
        delta_table_configuration,
        log_action_path,
        read_parquet_files,
    )
    from glue_table_cache_spark.sources.dv import dv_deleted_positions

    keys = [on] if isinstance(on, str) else list(on)
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "merge_general_delta commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    refuse_append_only(location, "MERGE")
    entries, renames, log_schema, phys_schema = delta_scan_info(
        location, with_schema=True, allow_nested_mapping=True,
        with_physical_schema=True,
    )
    inverse = {v: k for k, v in (renames or {}).items()}
    pcols = list(
        ((_replay(location)[1].get("metaData")) or {}).get(
            "partitionColumns"
        )
        or []
    )
    # PARTITIONED + column-mapped works (r14, same contract as the
    # r13 OPTIMIZE lift): the rewrite plans on logical names, then
    # to_physical renames every level and the stage writes through
    # the PHYSICAL partition columns, so the staged k=v directories
    # and the parsed add partitionValues keep the on-disk spelling
    phys_pcols = [inverse.get(c, c) for c in pcols]
    from glue_table_cache_spark.dml import resolve_source_keys

    keys = resolve_source_keys(source, keys)
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise GlueSparkError(
            f"merge keys {missing} are not in the source columns "
            f"{source.columns}"
        )
    if log_schema is None:
        raise GlueSparkError(
            "merge_general_delta needs the table schema from the "
            "log; the metaData action is missing"
        )
    t_cols = [f.name for f in log_schema.fields]
    validate_clauses(clauses, t_cols, source.columns, keys)
    dup = source.groupBy(*keys).count().where("count > 1").limit(1)
    if dup.count():
        raise GlueSparkError(
            "MERGE source has duplicate keys — a matched target row "
            "would meet several source rows; de-duplicate the source "
            "first (e.g. max_by on a version column)"
        )
    from glue_table_cache_spark.sinks.delta_cdc import (
        cdf_enabled,
        to_physical,
        typed,
        write_cdc_files,
    )

    cdf = cdf_enabled(location)
    by_path = {p: (pv, dv) for p, pv, dv in entries}
    prior_pairs = [
        (_path_uri(p), int(pos))
        for p, (_pv, dv) in by_path.items()
        if dv
        for pos in dv_deleted_positions(dv, location)
    ]

    def _tagged(paths):
        """Target rows of ``paths`` under LOGICAL names, tagged
        ``__f``/``__p``, DV-deleted rows dropped."""
        t = read_parquet_files(
            spark, location, paths,
            schema=log_schema if renames is None else None,
        ).select(
            F.col("_metadata.file_path").alias("__f"),
            F.col("_metadata.row_index").alias("__p"),
            "*",
        ).drop("_metadata")  # materialized across a clone's union
        if renames is not None:
            from glue_table_cache_spark.sources.delta import (
                apply_column_mapping,
            )

            t = apply_column_mapping(
                t,
                {**renames, "__f": "__f", "__p": "__p"},
                log_schema,
            )
        if prior_pairs:
            t = t.join(
                F.broadcast(
                    local_frame(
                        spark,
                        prior_pairs, "__f string, __p long"
                    )
                ),
                ["__f", "__p"],
                "left_anti",
            )
        return t

    # ---- phase 1: plan — affected files + tallies from ONE agg
    n_updated = n_deleted = 0
    affected: list[str] = []
    target_keys_df = None
    if by_path:
        tagged = _tagged(by_path)
        target_keys_df = tagged.select(*keys).distinct()
        joined = join_source(tagged, source, keys).withColumn(
            "__chosen", chosen_column(clauses)
        )
        counts = target_counts(joined, clauses)
        n_updated, n_deleted = counts["updated"], counts["deleted"]
        uri_to_path = {_path_uri(p): p for p in by_path}
        affected = [uri_to_path.get(f, f) for f in counts["files"]]
    else:
        target_keys_df = source.select(*keys).limit(0)

    ins = insert_outputs(
        source, target_keys_df, keys, clauses, t_cols, log_schema
    )
    if ins is not None:
        ins = ins.localCheckpoint()  # reused: count + union + CDF
        n_inserted = ins.count()
    else:
        n_inserted = 0
    if not affected and not n_inserted:
        return None, 0, 0, 0

    # ---- phase 2: rewrite only the affected files
    upd_idx = action_indexes(clauses, "update")
    del_idx = action_indexes(clauses, "delete")
    cdc_frames = []
    if affected:
        joined2 = join_source(
            _tagged(affected), source, keys
        ).withColumn("__chosen", chosen_column(clauses))
        if cdf:
            joined2 = joined2.localCheckpoint()
        out = target_outputs(joined2, clauses, t_cols)
        if cdf:
            if upd_idx:
                pre_u = joined2.where(
                    F.col("__chosen").isin(upd_idx)
                )
                cdc_frames.append(
                    typed(pre_u.select(*t_cols), "update_preimage")
                )
                cdc_frames.append(
                    typed(
                        target_outputs(pre_u, clauses, t_cols),
                        "update_postimage",
                    )
                )
            if del_idx:
                cdc_frames.append(
                    typed(
                        joined2.where(
                            F.col("__chosen").isin(del_idx)
                        ).select(*t_cols),
                        "delete",
                    )
                )
    else:
        out = None
    if cdf and ins is not None and n_inserted:
        cdc_frames.append(typed(ins, "insert"))
    cdc_actions: list[dict] = []
    if cdc_frames:
        changes = cdc_frames[0]
        for f in cdc_frames[1:]:
            changes = changes.unionByName(f)
        cdc_actions = write_cdc_files(
            to_physical(changes, renames, phys_schema), location
        )

    merged = out
    if ins is not None and n_inserted:
        merged = (
            ins if merged is None
            else merged.unionByName(ins.select(*merged.columns))
        )
    batch = uuid.uuid4().hex[:12]
    now = int(time.time() * 1000)
    total_bytes = sum(Path(p).stat().st_size for p in affected)
    n_files = max(
        1, -(-max(total_bytes, 1) // (target_file_mb * 1024 * 1024))
    )
    stage = base / f"_staging_{batch}"
    merged = _rederive_generated(merged, location)
    enforce_check_constraints(
        merged, delta_table_configuration(location), "MERGE"
    )
    if renames is not None:
        merged = to_physical(merged, renames, phys_schema)
    _write_rewrite_stage(merged, stage, n_files, phys_pcols)
    adds = _collect_staged_adds(stage, base, batch, now)
    shutil.rmtree(stage, ignore_errors=True)

    log_dir = base / "_delta_log"
    affected_set = set(affected)
    for _attempt in range(max_commit_retries):
        version = _next_version(log_dir)
        fresh, _r = delta_scan_info(
            location, allow_nested_mapping=True
        )
        fresh_state = {p: dv for p, _pv, dv in fresh}
        conflict = any(
            p not in fresh_state
            or (fresh_state[p] or None) != (by_path[p][1] or None)
            for p in affected_set
        )
        if conflict:
            for a in adds:
                (base / a["path"]).unlink(missing_ok=True)
            raise GlueSparkError(
                "merge_general_delta lost a conflicting race: an "
                "affected file was rewritten or deleted-from "
                "concurrently; table left untouched — re-run"
            )
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "MERGE",
                    "operationParameters": {
                        "matchedPredicates": json.dumps(keys)
                    },
                }
            }
        ]
        actions += [
            {
                "remove": {
                    "path": log_action_path(location, p),
                    "deletionTimestamp": now,
                    "dataChange": True,
                    "partitionValues": by_path[p][0],
                }
            }
            for p in sorted(affected_set)
        ]
        actions += [{"add": a} for a in adds]
        actions += cdc_actions
        commit = log_dir / f"{version:020d}.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        _maybe_checkpoint(location, version, checkpoint_interval)
        return version, n_updated, n_inserted, n_deleted
    raise GlueSparkError(
        f"could not commit MERGE to {location!r} after "
        f"{max_commit_retries} attempts"
    )


def update_delta(
    spark: SparkSession,
    location: str,
    predicate,
    set_exprs: dict[str, str],
    target_file_mb: int = 256,
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
) -> tuple[int | None, int]:
    """``UPDATE t SET col = expr, ... WHERE predicate`` — the
    copy-on-write row update: only files holding a matched row
    rewrite (matched rows transformed through ``set_exprs``, the
    rest byte-preserved in the rewritten copies), committed as
    remove+add in one ``dataChange`` version with the same
    pinned-version/per-attempt-validation posture as
    :func:`merge_into_delta`.  Returns ``(version, n_updated)`` —
    ``(None, 0)`` when nothing matched.  Needs no key columns,
    unlike MERGE.  Column-mapped tables work (scan projects
    physical->logical, rewrites land under physical names), and so
    do partitioned tables — including a SET on a partition column,
    which MOVES the row (the rewrite writes through ``partitionBy``,
    so it lands in its new directory)."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.delta import (
        _path_uri,
        apply_deletion_vectors,
        delta_scan_info,
        log_action_path,
        read_parquet_files,
    )

    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "update_delta commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    refuse_append_only(location, "UPDATE")
    entries, renames, log_schema, phys_schema = delta_scan_info(
        location, with_schema=True, allow_nested_mapping=True,
        with_physical_schema=True,
    )
    # column-mapped tables work — same posture as merge_into_delta
    inverse = {v: k for k, v in (renames or {}).items()}
    from glue_table_cache_spark.sources.delta import _replay

    pcols = list(
        ((_replay(location)[1].get("metaData")) or {}).get(
            "partitionColumns"
        )
        or []
    )
    # PARTITIONED + column-mapped works (r14): see merge_into_delta
    phys_pcols = [inverse.get(c, c) for c in pcols]
    by_path = {p: (pv, dv) for p, pv, dv in entries}
    if not by_path:
        return None, 0
    cols = (
        [f.name for f in log_schema.fields]
        if log_schema is not None
        else None
    )
    unknown = [c for c in set_exprs if cols and c not in cols]
    if unknown:
        raise GlueSparkError(
            f"UPDATE sets unknown column(s) {unknown}; table columns "
            f"are {cols}"
        )

    target = read_parquet_files(
        spark, location, by_path,
        schema=log_schema if renames is None else None,
    )
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    # DV-deleted rows must not count as matches (nor pin their file
    # into the rewrite set on their own): tag and anti-join the
    # decoded prior positions, the delta_delete shape
    from glue_table_cache_spark.sources.dv import dv_deleted_positions

    tagged = target.select(
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.row_index").alias("__p"),
        "*",
    ).drop("_metadata")  # materialized across a clone's union scan
    if renames is not None:
        from glue_table_cache_spark.sources.delta import (
            apply_column_mapping,
        )

        tagged = apply_column_mapping(
            tagged,
            {**renames, "__f": "__f", "__p": "__p"},
            log_schema,
        )
    prior_pairs = [
        (_path_uri(p), int(pos))
        for p, (_pv, dv) in by_path.items()
        if dv
        for pos in dv_deleted_positions(dv, location)
    ]
    if prior_pairs:
        tagged = tagged.join(
            F.broadcast(
                local_frame(
                    spark,
                    prior_pairs, "__f string, __p long"
                )
            ),
            ["__f", "__p"],
            "left_anti",
        )
    hit = (
        tagged.where(cond)
        .groupBy("__f")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    if not hit:
        return None, 0
    uri_to_path = {_path_uri(p): p for p in by_path}
    affected = [uri_to_path.get(r["__f"], r["__f"]) for r in hit]
    n_updated = sum(int(r["__n"]) for r in hit)

    rows = apply_deletion_vectors(
        read_parquet_files(
            spark, location, affected,
            schema=log_schema if renames is None else None,
        ),
        [(p, by_path[p][0], by_path[p][1]) for p in affected],
        location,
    ).drop("_metadata")  # materialized across a clone's union
    if renames is not None:
        from glue_table_cache_spark.sources.delta import (
            apply_column_mapping,
        )

        rows = apply_column_mapping(rows, renames, log_schema)
    from glue_table_cache_spark.dml import predicate_has_subquery

    if predicate_has_subquery(predicate):
        # subquery predicates (WHERE id IN (SELECT ...)) only
        # evaluate in FILTERS — split the rewrite into kept/changed
        # row sets instead of a per-row WHEN projection
        updated = rows.where(
            ~F.coalesce(cond, F.lit(False))
        ).unionByName(
            rows.where(cond).withColumns(
                {c: F.expr(e) for c, e in set_exprs.items()}
            )
        )
    else:
        updated = rows.withColumns(
            {
                c: F.when(cond, F.expr(e)).otherwise(F.col(c))
                for c, e in set_exprs.items()
            }
        )
    # CDF: the matched rows' pre/post values as cdc files in the
    # same commit.  The postimage reuses the rewrite's exact
    # when/otherwise expressions (with a true condition) so its
    # column types coerce identically to the rewritten data.
    from glue_table_cache_spark.sinks.delta_cdc import (
        cdf_enabled,
        to_physical,
        typed,
        write_cdc_files,
    )

    cdc_actions: list[dict] = []
    if cdf_enabled(location):
        pre = rows.where(cond)
        post = pre.withColumns(
            {
                c: F.when(F.lit(True), F.expr(e)).otherwise(F.col(c))
                for c, e in set_exprs.items()
            }
        )
        cdc_actions = write_cdc_files(
            to_physical(
                typed(pre, "update_preimage").unionByName(
                    typed(post, "update_postimage")
                ),
                renames,
                phys_schema,
            ),
            location,
        )

    batch = uuid.uuid4().hex[:12]
    now = int(time.time() * 1000)
    total_bytes = sum(Path(p).stat().st_size for p in affected)
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    stage = base / f"_staging_{batch}"
    from glue_table_cache_spark.sources.delta import (
        delta_table_configuration,
    )

    updated = _rederive_generated(updated, location)
    enforce_check_constraints(
        updated, delta_table_configuration(location), "UPDATE"
    )
    if renames is not None:
        # write back under PHYSICAL names (every level), the on-disk
        # contract
        updated = to_physical(updated, renames, phys_schema)
    _write_rewrite_stage(updated, stage, n_files, phys_pcols)
    adds = _collect_staged_adds(stage, base, batch, now)
    shutil.rmtree(stage, ignore_errors=True)

    log_dir = base / "_delta_log"
    affected_set = set(affected)
    for _attempt in range(max_commit_retries):
        version = _next_version(log_dir)
        fresh, _r = delta_scan_info(
            location, allow_nested_mapping=True
        )
        fresh_state = {p: dv for p, _pv, dv in fresh}
        conflict = any(
            p not in fresh_state
            or (fresh_state[p] or None) != (by_path[p][1] or None)
            for p in affected_set
        )
        if conflict:
            for a in adds:
                (base / a["path"]).unlink(missing_ok=True)
            raise GlueSparkError(
                "update_delta lost a conflicting race: an affected "
                "file was rewritten concurrently; table left "
                "untouched — re-run"
            )
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "UPDATE",
                    "operationParameters": {
                        "predicate": str(predicate)
                    },
                }
            }
        ]
        actions += [
            {
                "remove": {
                    "path": log_action_path(location, p),
                    "deletionTimestamp": now,
                    "dataChange": True,
                    "partitionValues": by_path[p][0],
                }
            }
            for p in sorted(affected_set)
        ]
        actions += [{"add": a} for a in adds]
        actions += cdc_actions
        commit = log_dir / f"{version:020d}.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        _maybe_checkpoint(location, version, checkpoint_interval)
        return version, n_updated
    raise GlueSparkError(
        f"could not commit UPDATE to {location!r} after "
        f"{max_commit_retries} attempts"
    )
