"""Row-level DELETE for Delta tables, published as deletion vectors.

Completes the repo's Delta CRUD story: the read path applies DVs
(:func:`..sources.delta.apply_deletion_vectors`), OPTIMIZE purges
them (:func:`.delta_optimize.optimize_delta`), and this module
WRITES them — ``DELETE FROM t WHERE p`` without rewriting a single
data file, the protocol's persistent-deletion-vector fast path:

0. files whose partition values PROVE the predicate row-true (strict
   Kleene partial evaluation, :func:`..pruning.extract_proof_predicate`
   — a True never rests on a data-column conjunct) retire with plain
   ``remove`` actions carrying their prior DV descriptor: no scan, no
   DV write, no row cap — ``DELETE WHERE year = '2020'`` is a
   metadata operation on a billion-row partition.  Remaining files:
1. scan the active set DISTRIBUTED with ``_metadata.file_path`` /
   ``_metadata.row_index`` (existing DVs applied first, so an already
   -deleted row never re-matches), filter by the predicate, and
   collect only the matched ``(file, position)`` pairs — bounded by
   ``max_deleted_rows``, the same cap the read path enforces;
2. per affected file, merge the new positions with the file's
   existing DV (decoded) and write ONE fresh UUID-named sidecar
   (storageType ``u``, the RoaringBitmapArray codec the reader
   decodes); a file whose every row is now deleted gets a plain
   ``remove`` instead of a full-coverage DV;
3. commit ``remove(old add) + add(same file, new DV)`` pairs — both
   ``dataChange: true``, rows changed — plus the protocol upgrade to
   ``deletionVectors`` reader/writer features, under the repo's
   pinned-version ``O_EXCL`` loop with per-attempt re-validation
   (a concurrent OPTIMIZE/DELETE that touched any affected file
   aborts the commit cleanly; the sidecars are unreferenced garbage
   for VACUUM, the table is untouched).

Column-mapped tables WORK (DVs are position-based — the predicate
evaluates on the rename-projected logical view and nothing in the
commit depends on column names); only CDF-enabled mapped tables
refuse (cdc files would need physical names).
``delta_cdf`` refuses windows containing DV-attach commits without
cdc actions — by design: the changed-row set of a DV delta is not
reconstructible from the log alone.
"""

from __future__ import annotations

import base64
import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import SparkSession

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.sinks.delta_write import (
    _next_version,
    refuse_append_only,
    serialize_actions,
    upgraded_protocol,
)


def delete_from_delta(
    spark: SparkSession,
    location: str,
    predicate,
    max_deleted_rows: int = 10_000_000,
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
) -> tuple[int | None, int]:
    """Delete rows matching ``predicate`` (a SQL string or Column)
    from the Delta table at ``location``; returns ``(version,
    n_deleted)`` — ``(None, 0)`` when nothing matched.  Readers see
    the whole delete or none of it."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.delta import (
        _path_uri,
        delta_scan_info,
        log_action_path,
        read_parquet_files,
    )
    from glue_table_cache_spark.sources.dv import (
        dv_deleted_positions,
        write_dv_file,
    )

    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "delete_from_delta commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    refuse_append_only(location, "DELETE")
    entries, renames, log_schema, phys_schema = delta_scan_info(
        location, with_schema=True, with_stats=True,
        allow_nested_mapping=True, with_physical_schema=True,
    )
    by_path = {p: (pv, dv, st) for p, pv, dv, st in entries}
    if not by_path:
        return None, 0

    # METADATA-ONLY fast path: a file whose partition values PROVE the
    # predicate true for every row retires with a plain remove — no
    # scan, no DV, no row cap.  This is what makes
    # ``DELETE FROM t WHERE year = '2020'`` a metadata operation on a
    # billion-row partition instead of a refused 10M-row DV.  The
    # proof uses STRICT-mode translation (extract_proof_predicate):
    # any subtree undecidable from partition values — ``id >= 3``, a
    # function call — stays in the tree as Unknown, and Kleene
    # evaluation only returns True when decided branches alone
    # satisfy every row; such files retire, the rest scan.
    # (Pruning's extract_partition_predicate is deliberately NOT
    # reused here: it DROPS such conjuncts, which over-approximates —
    # fine for keep-the-file pruning, unsound as a proof.)  For a
    # column-mapped table the log's partitionValues key on PHYSICAL
    # names — the predicate's logical names would never match, so the
    # fast path is skipped there (the DV path handles it).
    full_files: list[str] = []
    if isinstance(predicate, str) and renames is None:
        from glue_table_cache_spark.pruning import (
            extract_proof_predicate,
        )

        pkeys = sorted({k for _p, (pv, _dv, _st) in by_path.items()
                        for k in pv})
        if pkeys:
            pred_tree = extract_proof_predicate(
                f"SELECT * FROM __t WHERE {predicate}",
                pkeys,
                {"__t"},
            )
            if pred_tree is not None:
                full_files = [
                    p
                    for p, (pv, _dv, _st) in sorted(by_path.items())
                    if pred_tree.evaluate(pv) is True
                ]
    n_full = 0
    if full_files:
        uncounted: list[str] = []
        for p in full_files:
            _pv, dv, st = by_path[p]
            num = None
            if st:
                try:
                    num = json.loads(st).get("numRecords")
                except (ValueError, TypeError):
                    num = None
            if num is None:
                uncounted.append(p)
            else:
                n_full += int(num) - int(
                    (dv or {}).get("cardinality") or 0
                )
        if uncounted:
            n_full += spark.read.parquet(*uncounted).count() - sum(
                len(dv_deleted_positions(by_path[p][1], location))
                for p in uncounted
                if by_path[p][1]
            )
    # files left for the scanning DV path (by_path stays COMPLETE —
    # the commit-time conflict validation must cover full_files too)
    scan_files = {
        p: v for p, v in by_path.items() if p not in full_files
    }

    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    total = 0
    hits: dict[str, list[int]] = {}
    tagged = None
    if scan_files:
        df = read_parquet_files(
            spark,
            location,
            scan_files,
            # the log schema is LOGICAL; a column-mapped table's files
            # carry physical names, so the scan stays schema-inferred
            # and the rename projection below restores logical names
            schema=log_schema if renames is None else None,
        )
        # tag (file, position) FIRST, then mask already-DV-deleted
        # rows by anti-joining the decoded positions (the
        # apply_deletion_vectors shape inlined — it drops _metadata,
        # which the tag still needs)
        tagged = df.select(
            F.col("_metadata.file_path").alias("__f"),
            F.col("_metadata.row_index").alias("__p"),
            "*",
        ).drop("_metadata")  # materialized across a clone's union scan
        if renames is not None:
            # COLUMN-MAPPED tables work here BECAUSE deletion vectors
            # are position-based: nothing about the commit depends on
            # column names — only the predicate needs the logical
            # view, so the physical->logical projection applies right
            # after tagging (apply_column_mapping: nested levels
            # rename too, r12)
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
            for p, (_pv, dv, _st) in scan_files.items()
            if dv
            for pos in dv_deleted_positions(dv, location)
        ]
        if len(prior_pairs) > max_deleted_rows:
            raise GlueSparkError(
                f"table already carries {len(prior_pairs)} DV-deleted "
                f"rows (cap {max_deleted_rows}); purge deletion "
                "vectors (optimize_delta) before deleting more"
            )
        if prior_pairs:
            deleted = local_frame(
                spark,
                prior_pairs, "__f string, __p long"
            )
            tagged = tagged.join(
                F.broadcast(deleted), ["__f", "__p"], "left_anti"
            )
        # cap BEFORE materializing positions on the driver: a count is
        # executor-side and cheap next to collecting 100M positions
        n_matched = tagged.where(cond).count()
        if n_matched > max_deleted_rows:
            raise GlueSparkError(
                f"DELETE matches {n_matched} rows (cap "
                f"{max_deleted_rows}); rewrite the table (filter + "
                "write) instead of carrying a DV that large, or "
                "raise max_deleted_rows"
            )
        matched = (
            tagged.where(cond)
            .groupBy("__f")
            .agg(
                F.sort_array(F.collect_list("__p")).alias("__ps"),
                F.count("*").alias("__n"),
            )
        )
        uri_to_path = {_path_uri(p): p for p in scan_files}
        for r in matched.collect():
            path = uri_to_path.get(r["__f"], r["__f"])
            hits[path] = [int(x) for x in r["__ps"]]
            total += int(r["__n"])
    total += n_full
    if not hits and not full_files:
        return None, 0

    # CDF: record the deleted rows as cdc files in the same commit —
    # without them a DV-attach commit's changed-row set is not
    # recoverable and CDF readers must refuse the window
    from glue_table_cache_spark.sinks.delta_cdc import (
        cdf_enabled,
        to_physical,
        typed,
        write_cdc_files,
    )

    cdc_actions: list[dict] = []
    if cdf_enabled(location):
        parts = []
        if hits:
            parts.append(tagged.where(cond).drop("__f", "__p"))
        if full_files:
            # full-file rows must reach the cdc output too: CDF
            # readers treat a commit's cdc files as its EXACT change
            # set, and remove-action synthesis cannot subtract a
            # retired file's prior DV — the still-live rows are what
            # this delete changes, not the raw file contents
            fdf = read_parquet_files(
                spark,
                location,
                {p: by_path[p] for p in full_files},
                schema=log_schema,
            )
            ftag = fdf.select(
                F.col("_metadata.file_path").alias("__f"),
                F.col("_metadata.row_index").alias("__p"),
                "*",
            ).drop("_metadata")
            full_prior = [
                (_path_uri(p), int(pos))
                for p in full_files
                if by_path[p][1]
                for pos in dv_deleted_positions(
                    by_path[p][1], location
                )
            ]
            if full_prior:
                ftag = ftag.join(
                    F.broadcast(
                        local_frame(
                            spark,
                            full_prior, "__f string, __p long"
                        )
                    ),
                    ["__f", "__p"],
                    "left_anti",
                )
            parts.append(ftag.drop("__f", "__p"))
        changes = parts[0]
        for extra in parts[1:]:
            changes = changes.unionByName(extra)
        cdc_actions = write_cdc_files(
            to_physical(typed(changes, "delete"), renames, phys_schema),
            location,
        )

    now = int(time.time() * 1000)
    removes: list[dict] = []
    adds: list[dict] = []
    sidecars: list[Path] = []
    for path in sorted(full_files):
        pv, dv, _st = by_path[path]
        rm = {
            "path": log_action_path(location, path),
            "deletionTimestamp": now,
            "dataChange": True,
            "partitionValues": pv,
        }
        if dv:
            # the remove mirrors the add it retires, DV included —
            # synthesis-based CDF readers refuse on it (the live-row
            # set of a DV'd file is not in the log), cdc-file readers
            # never look
            rm["deletionVector"] = dv
        removes.append(rm)
    for path, new_pos in sorted(hits.items()):
        pv, dv, st = by_path[path]
        rel = log_action_path(location, path)
        prior = (
            dv_deleted_positions(dv, location) if dv else []
        )
        positions = sorted(set(prior) | set(new_pos))
        rm = {
            "path": rel,
            "deletionTimestamp": now,
            "dataChange": True,
            "partitionValues": pv,
        }
        if dv:
            rm["deletionVector"] = dv
        removes.append(rm)
        num_records = None
        if st:
            try:
                num_records = json.loads(st).get("numRecords")
            except (ValueError, TypeError):
                num_records = None
        if num_records is not None and len(positions) >= num_records:
            continue  # every row deleted: the remove alone retires it
        u = uuid.uuid4()
        sidecar = base / f"deletion_vector_{u}.bin"
        desc_fields = write_dv_file(sidecar, positions)
        sidecars.append(sidecar)
        add = {
            "path": rel,
            "partitionValues": pv,
            "size": Path(path).stat().st_size,
            "modificationTime": now,
            "dataChange": True,
            "deletionVector": {
                "storageType": "u",
                "pathOrInlineDv": base64.b85encode(u.bytes).decode(),
                **desc_fields,
            },
        }
        if st is not None:
            add["stats"] = st  # bounds stay valid: DVs only narrow
        adds.append(add)

    log_dir = base / "_delta_log"
    affected = set(hits) | set(full_files)
    for _attempt in range(max_commit_retries):
        # pinned version + per-attempt validation, the OPTIMIZE
        # posture: any commit landing after the validation scan takes
        # this version and our O_EXCL collides
        version = _next_version(log_dir)
        fresh, _r, prior_proto = delta_scan_info(
            location, with_protocol=True, allow_nested_mapping=True
        )
        fresh_state = {p: dv for p, _pv, dv in fresh}
        conflict = any(
            p not in fresh_state
            or (fresh_state[p] or None) != (by_path[p][1] or None)
            for p in affected
        )
        if conflict:
            for s in sidecars:
                s.unlink(missing_ok=True)
            raise GlueSparkError(
                "delete_from_delta lost a conflicting race: a file it "
                "deletes from was rewritten or re-deleted "
                "concurrently; table left untouched — re-run"
            )
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "DELETE",
                    "operationParameters": {
                        "predicate": str(predicate)
                    },
                }
            },
        ]
        if adds:
            # UNION-upgrade, never clobber: the table may carry
            # features this writer doesn't use (timestampNtz,
            # v2Checkpoint, ...) that third-party readers must keep
            # seeing (re-resolved per attempt, like the schema).  A
            # pure metadata-only delete (removes only, no DV adds)
            # needs no feature and leaves the protocol untouched.
            actions.append(
                {
                    "protocol": upgraded_protocol(
                        prior_proto,
                        reader_features=("deletionVectors",),
                        writer_features=("deletionVectors",),
                    )
                }
            )
        actions += [{"remove": r} for r in removes]
        actions += [{"add": a} for a in adds]
        actions += cdc_actions
        commit = log_dir / f"{version:020d}.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        from glue_table_cache_spark.sinks.delta_write import (
            _maybe_checkpoint,
        )

        _maybe_checkpoint(location, version, checkpoint_interval)
        return version, total
    raise GlueSparkError(
        f"could not commit DELETE to {location!r} after "
        f"{max_commit_retries} attempts"
    )
