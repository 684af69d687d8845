"""Append-only Delta Lake writer: publish pipeline output atomically.

Beyond-reference extension.  A training-data pipeline's output wants
ATOMIC visibility — a reader must see a whole ingest or none of it,
never a half-written directory.  The Delta transaction log provides
exactly that, and this writer emits it per the public protocol
(PROTOCOL.md): data files are staged invisibly, then ONE commit JSON
names them all; readers (this repo's log walk, delta-spark, DuckDB
delta) flip to the new version atomically.

Commit sequence:

1. write the batch with Spark into a staging directory UNDER the
   table root (same filesystem → rename is cheap and atomic);
2. move each part file to its final name (partition dirs preserved);
3. create ``_delta_log/<next-version>.json`` with ``O_EXCL`` — the
   put-if-absent that makes two concurrent writers serialize: the
   loser's create fails, it re-reads the log and retries with the
   next version (its staged files are already in place and named
   uniquely, so a retry re-commits the same adds, never re-writes
   data).

``O_EXCL`` is atomic on local/NFS/HDFS-style filesystems; plain S3
has no put-if-absent, so there this writer needs an external commit
coordinator (documented, refused is wrong — S3 writers in the wild
use DynamoDB/conditional-put for the same step).

First commit also writes ``metaData`` (schemaString from the
DataFrame, partition columns) and ``protocol`` — so evolved readers
(:func:`~glue_table_cache_spark.sources.delta.logical_schema`) see
the authoritative schema from version 0.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.sinks.hive_paths import (
    partition_values_from_dir_parts,
)


def _footer_stats_json(path: Path) -> str | None:
    """``add.stats`` JSON derived from the written file's parquet
    footer (metadata-scale; the data is never re-read): numRecords /
    minValues / maxValues / nullCount with temporals as ISO strings —
    what the zone-map skipping layer consumes at scan time."""
    import datetime

    from glue_table_cache_spark.skipping import parquet_footer_stats

    st = parquet_footer_stats(str(path))
    if st is None:
        return None

    def render(m: dict) -> dict:
        out = {}
        for k, v in m.items():
            if isinstance(v, (datetime.date, datetime.datetime)):
                v = v.isoformat()
            out[k] = v
        return out

    return json.dumps(
        {
            "numRecords": st.num_records,
            "minValues": render(dict(st.min_values)),
            "maxValues": render(dict(st.max_values)),
            "nullCount": dict(st.null_counts),
        }
    )


#: PROTOCOL.md "Table Features": a legacy (pre-feature-vector)
#: minWriter/minReaderVersion IMPLIES these features; an upgrade to
#: (3, 7) must carry them forward explicitly or feature-aware readers
#: and writers lose the old gates.
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}


def upgraded_protocol(
    prior: dict | None,
    reader_features: tuple[str, ...] = (),
    writer_features: tuple[str, ...] = (),
) -> dict:
    """The table's protocol upgraded to the feature-vector form (3, 7)
    carrying the UNION of the prior protocol's features — explicit
    lists plus the ones its legacy version floors imply — and the new
    ones.  Clobbering instead (a bare ``{3, 7, [deletionVectors]}``)
    silently drops features like ``timestampNtz`` or ``v2Checkpoint``
    on externally written tables, after which feature-unaware readers
    scan data they should refuse."""
    prior = prior or {}
    mrv = int(prior.get("minReaderVersion") or 1)
    mwv = int(prior.get("minWriterVersion") or 1)
    rf = set(prior.get("readerFeatures") or [])
    wf = set(prior.get("writerFeatures") or [])
    if mrv < 3:  # legacy floor → implied reader features
        for v, feats in _LEGACY_READER_FEATURES.items():
            if mrv >= v:
                rf.update(feats)
    if mwv < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if mwv >= v:
                wf.update(feats)
    rf.update(reader_features)
    wf.update(writer_features)
    # reader features are writer features too, per the spec's pairing
    wf.update(rf)
    return {
        "minReaderVersion": max(mrv, 3),
        "minWriterVersion": max(mwv, 7),
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf),
    }


def _generation_expressions(meta: dict | None) -> dict[str, str]:
    """``{column: delta.generationExpression}`` from the schemaString
    field metadata — the write-side half of generated columns: the
    writer derives these, the batch never supplies them."""
    try:
        schema = json.loads((meta or {}).get("schemaString") or "{}")
    except ValueError:
        return {}
    out: dict[str, str] = {}
    for f in schema.get("fields") or []:
        expr = (f.get("metadata") or {}).get(
            "delta.generationExpression"
        )
        if expr:
            out[f["name"]] = expr
    return out


def refuse_append_only(location: str, verb: str) -> None:
    """PROTOCOL.md ``appendOnly``: a table with
    ``delta.appendOnly=true`` forbids removing or rewriting existing
    rows — DELETE/UPDATE/MERGE/INSERT OVERWRITE/RESTORE must refuse
    up front (real Delta writers enforce the same gate)."""
    from glue_table_cache_spark.sources.delta import (
        delta_table_configuration,
    )

    cfg = delta_table_configuration(location)
    if cfg.get("delta.appendOnly", "").lower() == "true":
        raise GlueSparkError(
            f"{verb} on an append-only table "
            "(delta.appendOnly=true): the table forbids removing or "
            "rewriting existing rows; unset the property to allow it"
        )


def enforce_check_constraints(
    df: DataFrame, configuration: dict, verb: str
) -> None:
    """PROTOCOL.md CHECK constraints: every row written must satisfy
    every ``delta.constraints.<name>`` expression (NULL passes, the
    SQL CHECK semantic).  One ``limit(1)`` scan over the batch for
    all constraints together; on a hit, each is re-checked for the
    precise message."""
    from pyspark.sql import functions as F

    checks = {
        k[len("delta.constraints."):]: v
        for k, v in (configuration or {}).items()
        if k.startswith("delta.constraints.")
    }
    if not checks:
        return
    violated = None
    for _name, sql in sorted(checks.items()):
        cond = ~F.coalesce(F.expr(sql), F.lit(True))
        violated = cond if violated is None else violated | cond
    if df.where(violated).limit(1).count():
        for name, sql in sorted(checks.items()):
            cond = ~F.coalesce(F.expr(sql), F.lit(True))
            if df.where(cond).limit(1).count():
                raise GlueSparkError(
                    f"{verb} violates CHECK constraint {name!r} "
                    f"({sql}) — no rows written"
                )


def serialize_actions(actions: list[dict]) -> str:
    """One commit's JSON lines, with every add/remove/cdc ``path``
    percent-ENCODED (PROTOCOL.md's URL-encoded path contract — the
    replay ``unquote``s symmetrically).  The writers build actions
    with ON-DISK path strings; encoding happens here, at the single
    serialization chokepoint, so a literal ``%`` in a hive-escaped
    partition directory survives the round-trip."""
    from glue_table_cache_spark.sources.delta import quote_log_path

    out = []
    for a in actions:
        enc = a
        for key in ("add", "remove", "cdc"):
            inner = a.get(key)
            if isinstance(inner, dict) and isinstance(
                inner.get("path"), str
            ):
                enc = {
                    **enc,
                    key: {
                        **inner,
                        "path": quote_log_path(inner["path"]),
                    },
                }
        out.append(json.dumps(enc))
    return "\n".join(out) + "\n"


def _next_version(log_dir: Path) -> int:
    vs = [
        int(p.name[:20])
        for p in log_dir.glob("*.json")
        if p.name[:20].isdigit()
    ]
    return max(vs) + 1 if vs else 0


def write_delta_append(
    df: DataFrame,
    location: str,
    partition_by: list[str] | None = None,
    max_commit_retries: int = 10,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    checkpoint_interval: int | None = 10,
    merge_schema: bool = False,
    overwrite: bool = False,
    extra_txns: list[tuple[str, int]] | None = None,
    operation: str = "WRITE",
    operation_parameters: dict | None = None,
) -> int:
    """Append ``df`` to the Delta table at ``location`` (created on
    first write); returns the committed version.  Readers see the
    whole batch or none of it.

    ``extra_txns`` appends additional SetTransaction markers in the
    SAME commit (``COPY INTO``'s per-source-file ledger — txn state
    survives checkpoints and log cleanup, unlike commitInfo); if ANY
    of them is already recorded at commit time, the append aborts
    with a race error (the caller re-diffs and re-runs).
    ``operation``/``operation_parameters`` override the commitInfo
    tag so history shows the real verb.

    ``overwrite=True`` is INSERT OVERWRITE: the same commit also
    emits a ``dataChange`` remove for every currently-active file
    (resolved fresh per attempt, so a concurrent append cannot
    survive unseen), replacing the table contents atomically — the
    one-commit replace a drop-and-recreate cannot give readers.

    Schema posture: a batch whose columns are a SUBSET of the table
    schema appends fine (readers surface nulls from the authoritative
    ``schemaString``); a batch with NEW columns refuses unless
    ``merge_schema=True``, which evolves the table by committing a
    widened ``metaData`` action (the protocol's schema-evolution
    mechanism — without it the new columns would be silently invisible
    to every schemaString-driven read); a column whose type changed
    always refuses.

    Every ``checkpoint_interval``-th version is snapshotted into a
    classic checkpoint parquet
    (:func:`glue_table_cache_spark.sinks.delta_checkpoint.write_delta_checkpoint`)
    so readers replay a bounded JSON tail instead of the whole log —
    without this, a long-lived ingestion loop's table gets slower to
    open with every commit.  ``None`` disables (an external
    maintenance job owns checkpointing).

    ``txn_app_id`` + ``txn_version`` make the append IDEMPOTENT (the
    protocol's SetTransaction action): if the log already records a
    ``txn`` for this app at ≥ this version, the call is a no-op
    returning -1 — nothing is staged, nothing commits.  This is what
    lets a restarted streaming writer replay a micro-batch after a
    crash without double-publishing it
    (:func:`glue_table_cache_spark.streaming.delta_sink.stream_to_delta`)."""
    if (txn_app_id is None) != (txn_version is None):
        raise GlueSparkError(
            "txn_app_id and txn_version must be passed together"
        )
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "write_delta_append commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    log_dir = base / "_delta_log"
    log_dir.mkdir(parents=True, exist_ok=True)

    def _already_committed() -> bool:
        if txn_app_id is None or not any(log_dir.glob("*.json")):
            return False
        from glue_table_cache_spark.sources.delta import (
            delta_last_txn_version,
        )

        last = delta_last_txn_version(location, txn_app_id)
        return last is not None and last >= txn_version

    if _already_committed():
        return -1

    def _extra_txn_conflict() -> str | None:
        if not extra_txns:
            return None
        from glue_table_cache_spark.sources.delta import (
            delta_last_txn_version,
        )

        if not any(log_dir.glob("*.json")) and not any(
            log_dir.glob("*.checkpoint*.parquet")
        ):
            return None
        for app, ver in extra_txns:
            last = delta_last_txn_version(location, app)
            if last is not None and last >= ver:
                return app
        return None

    if (clash := _extra_txn_conflict()) is not None:
        raise GlueSparkError(
            f"transaction marker {clash!r} is already committed — "
            "a concurrent writer loaded the same input; re-diff "
            "and re-run"
        )

    seen_meta: dict = {}

    def _resolve_evolution() -> dict | None:
        """Drift-check against the CURRENT log state; the widened
        ``metaData`` action when this batch evolves the schema, else
        None.  Called up front for early validation and again per
        commit attempt when evolving — a concurrent writer's
        evolution committed during our staging would otherwise be
        clobbered by our stale ``metaData`` (last-writer-wins on
        schemaString)."""
        if not any(log_dir.iterdir()):
            return None
        from glue_table_cache_spark.sources.delta import (
            _replay,
            column_mapping_renames,
            logical_schema,
        )

        _active, state = _replay(location)
        meta = state.get("metaData")
        seen_meta["meta"] = meta
        # column mapping appends fine (nested included, r12) — the
        # batch stages under PHYSICAL names below; nested levels
        # rename through to_physical's positional struct cast
        seen_meta["renames"] = column_mapping_renames(
            meta, allow_nested=True
        )
        table_schema = logical_schema(meta)
        if table_schema is None:
            return None
        def _no_meta(dt):
            # StructField equality includes field METADATA — a
            # column-mapped log schema carries delta.columnMapping.*
            # on nested fields the batch never has, which is not
            # type drift; compare shapes with metadata stripped
            from pyspark.sql.types import (
                ArrayType,
                MapType,
                StructField,
                StructType,
            )

            if isinstance(dt, StructType):
                return StructType(
                    [
                        StructField(
                            f.name, _no_meta(f.dataType), f.nullable
                        )
                        for f in dt.fields
                    ]
                )
            if isinstance(dt, ArrayType):
                return ArrayType(
                    _no_meta(dt.elementType), dt.containsNull
                )
            if isinstance(dt, MapType):
                return MapType(
                    _no_meta(dt.keyType),
                    _no_meta(dt.valueType),
                    dt.valueContainsNull,
                )
            return dt

        existing = {
            f.name: _no_meta(f.dataType)
            for f in table_schema.fields
        }
        drift = [
            f.name
            for f in df.schema.fields
            if f.name in existing
            and existing[f.name] != _no_meta(f.dataType)
        ]
        if drift:
            raise GlueSparkError(
                f"append changes the type of column(s) {drift} — "
                "type evolution is not supported; cast the batch "
                "to the table schema"
            )
        new_fields = [
            f
            for f in df.schema.fields
            if f.name not in existing
        ]
        if not new_fields:
            return None
        if not merge_schema:
            raise GlueSparkError(
                "append carries new column(s) "
                f"{[f.name for f in new_fields]} the table "
                "schema lacks — without schema evolution they "
                "would be silently invisible to readers; pass "
                "merge_schema=True to evolve, or drop them"
            )
        if seen_meta.get("renames") is not None:
            raise GlueSparkError(
                "schema evolution on a column-mapped table needs "
                "physical-name and field-id assignment; use "
                "ALTER TABLE ... ADD COLUMNS through a Delta "
                "runtime"
            )
        from pyspark.sql.types import StructType

        merged = StructType(
            list(table_schema.fields) + new_fields
        )
        evolved = dict(meta or {})
        evolved["schemaString"] = json.dumps(merged.jsonValue())
        return evolved

    evolved_meta = _resolve_evolution()
    table_conf = (seen_meta.get("meta") or {}).get("configuration") or {}
    if isinstance(table_conf, list):
        table_conf = dict(table_conf)
    if (
        overwrite
        and str(table_conf.get("delta.appendOnly", "")).lower()
        == "true"
    ):
        raise GlueSparkError(
            "INSERT OVERWRITE on an append-only table "
            "(delta.appendOnly=true): the table forbids removing "
            "existing rows; unset the property to allow it"
        )
    enforce_check_constraints(df, table_conf, "append")
    # appends INHERIT the table's recorded partitioning: the protocol
    # requires every add's partitionValues to cover partitionColumns,
    # and Spark's basePath partition discovery SILENTLY DROPS a
    # root-level file sitting next to k=v dirs — a mixed layout is
    # both illegal and unreadable, so it can never be committed
    pcols = list(
        (seen_meta.get("meta") or {}).get("partitionColumns") or []
    )
    if pcols and partition_by is None:
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            # the protocol's generated-columns write semantic: a
            # partition column carrying delta.generationExpression is
            # DERIVED by the writer, never supplied by the batch
            gen = _generation_expressions(seen_meta.get("meta"))
            from pyspark.sql import functions as F

            for c in [c for c in missing if c in gen]:
                df = df.withColumn(c, F.expr(gen[c]))
            missing = [c for c in missing if c not in gen]
        if missing:
            raise GlueSparkError(
                f"append lacks partition column(s) {missing} the "
                f"table is partitioned by ({pcols})"
            )
        partition_by = pcols
    elif seen_meta and list(partition_by or []) != pcols:
        raise GlueSparkError(
            f"append partitioned by {list(partition_by or [])} but "
            f"the table's recorded partitioning is {pcols} — a "
            "mixed layout is protocol-illegal and unreadable"
        )
    batch = uuid.uuid4().hex[:12]
    stage = base / f"_staging_{batch}"

    stage_df = df
    renames = seen_meta.get("renames")
    if renames is not None:
        # column-mapped table: files must carry PHYSICAL names (the
        # scan projects back); partition directories must keep their
        # current spelling, so a partition column whose physical name
        # diverged refuses (RENAME COLUMN refuses those up front)
        inv = {v: k for k, v in renames.items()}
        moved = [
            c for c in (partition_by or []) if inv.get(c, c) != c
        ]
        if moved:
            raise GlueSparkError(
                f"append to a column-mapped table whose partition "
                f"column(s) {moved} have divergent physical names; "
                "use a Delta runtime"
            )
        from glue_table_cache_spark.sinks.delta_cdc import (
            to_physical,
        )
        from glue_table_cache_spark.sources.delta import (
            physical_schema,
        )

        stage_df = to_physical(
            df, renames, physical_schema(seen_meta.get("meta"))
        )
    writer = stage_df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(stage))

    # move parts into place under unique batch-tagged names
    adds: list[dict] = []
    now = int(time.time() * 1000)
    for p in sorted(stage.rglob("part-*.parquet")):
        rel_dir = p.parent.relative_to(stage)
        # invert Spark's escapePathName: the directory keeps the
        # escaped spelling, partitionValues carries the logical value
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
    shutil.rmtree(stage, ignore_errors=True)

    schema_fields = df.schema.jsonValue()
    for attempt in range(max_commit_retries):
        # Pin the version BEFORE the idempotence check, and run the
        # check on EVERY attempt: a zombie replica committing this
        # (appId, version) during the distributed write above must be
        # caught even when its commit would not collide with ours.
        # With the version pinned first, any commit landing after the
        # check takes this version and our O_EXCL collides — the next
        # attempt then re-runs the check and sees the zombie's txn.
        version = _next_version(log_dir)
        if evolved_meta is not None:
            # evolving appends re-resolve against the current log so
            # a concurrent evolution is merged, not clobbered (plain
            # appends write no metaData action and cannot clobber)
            evolved_meta = _resolve_evolution()
        if _already_committed():
            # a concurrent replica of the same stream committed this
            # batch while we were racing: drop our staged (still
            # uncommitted, hence invisible) files and bow out
            for a in adds:
                (base / a["path"]).unlink(missing_ok=True)
            return -1
        if (clash := _extra_txn_conflict()) is not None:
            # a concurrent COPY of the same input landed mid-race:
            # committing ours would double-load those files
            for a in adds:
                (base / a["path"]).unlink(missing_ok=True)
            raise GlueSparkError(
                f"transaction marker {clash!r} was committed "
                "concurrently — a racing writer loaded the same "
                "input; re-diff and re-run"
            )
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": operation,
                    "operationParameters": (
                        dict(operation_parameters)
                        if operation_parameters is not None
                        else {
                            "mode": "Overwrite"
                            if overwrite else "Append"
                        }
                    ),
                }
            }
        ]
        if overwrite and version > 0:
            # fresh per attempt: a file added by a commit that lands
            # between attempts must be removed too
            from glue_table_cache_spark.sources.delta import (
                delta_scan_info,
            )

            entries, _r = delta_scan_info(
                location, allow_nested_mapping=True
            )
            actions += [
                {
                    "remove": {
                        "path": str(
                            Path(path).relative_to(base)
                        ) if str(path).startswith(str(base)) else path,
                        "deletionTimestamp": now,
                        "dataChange": True,
                        "partitionValues": pv or {},
                    }
                }
                for path, pv, _dv in entries
            ]
        if txn_app_id is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn_app_id,
                        "version": txn_version,
                        "lastUpdated": now,
                    }
                }
            )
        for app, ver in extra_txns or []:
            actions.append(
                {
                    "txn": {
                        "appId": app,
                        "version": int(ver),
                        "lastUpdated": now,
                    }
                }
            )
        if evolved_meta is not None:
            actions.append({"metaData": evolved_meta})
        if version == 0:
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.uuid4()),
                        "format": {
                            "provider": "parquet", "options": {},
                        },
                        "schemaString": json.dumps(schema_fields),
                        "partitionColumns": list(partition_by or []),
                        "configuration": {},
                        "createdTime": now,
                    }
                }
            )
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 2,
                    }
                }
            )
        actions += [{"add": a} for a in adds]
        commit = log_dir / f"{version:020d}.json"
        try:
            fd = os.open(
                commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            continue  # lost the race: re-read the log, retry
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        _maybe_checkpoint(location, version, checkpoint_interval)
        return version
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def set_delta_table_properties(
    location: str,
    props: dict[str, str],
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
    unset: tuple[str, ...] = (),
) -> int:
    """``ALTER TABLE ... SET TBLPROPERTIES`` — a metadata-only commit
    merging ``props`` into the table ``configuration`` (and removing
    the ``unset`` keys — the UNSET/DROP CONSTRAINT half).  Setting
    ``delta.enableChangeDataFeed=true`` also UNION-upgrades the
    protocol with the ``changeDataFeed`` writer feature, after which
    the DELETE/UPDATE/MERGE writers record cdc files and CDF readers
    get exact row-level changes for DML commits; setting a
    ``delta.constraints.<name>`` CHECK upgrades with
    ``checkConstraints`` and ``delta.appendOnly=true`` with
    ``appendOnly`` — feature-aware third-party writers then see the
    gates they must enforce."""
    if not props and not unset:
        raise GlueSparkError("SET TBLPROPERTIES: empty property list")
    base = Path(location)
    log_dir = base / "_delta_log"
    if not log_dir.is_dir() or not any(log_dir.glob("*.json")):
        raise GlueSparkError(
            f"no Delta log at {location!r} — ALTER needs an existing "
            "table"
        )
    from glue_table_cache_spark.sources.delta import _replay

    now = int(time.time() * 1000)
    enable_cdf = (
        str(props.get("delta.enableChangeDataFeed", "")).lower()
        == "true"
    )
    new_writer_features: list[str] = []
    if enable_cdf:
        new_writer_features.append("changeDataFeed")
    if any(k.startswith("delta.constraints.") for k in props):
        new_writer_features.append("checkConstraints")
    if str(props.get("delta.appendOnly", "")).lower() == "true":
        new_writer_features.append("appendOnly")
    for _ in range(max_commit_retries):
        version = _next_version(log_dir)
        _active, state = _replay(location)
        meta = dict(state.get("metaData") or {})
        if not meta:
            raise GlueSparkError(
                f"table at {location!r} has no recorded metaData to "
                "configure"
            )
        conf = meta.get("configuration") or {}
        if isinstance(conf, list):
            conf = dict(conf)
        conf = dict(conf)
        conf.update({str(k): str(v) for k, v in props.items()})
        for k in unset:
            conf.pop(str(k), None)
        meta["configuration"] = conf
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": json.dumps(props)
                    },
                }
            },
            {"metaData": meta},
        ]
        if new_writer_features:
            actions.append(
                {
                    "protocol": upgraded_protocol(
                        state.get("protocol"),
                        writer_features=tuple(new_writer_features),
                    )
                }
            )
        commit = log_dir / f"{version:020d}.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        _maybe_checkpoint(location, version, checkpoint_interval)
        return version
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def restore_delta(
    location: str,
    version: int,
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
) -> int:
    """``RESTORE TABLE ... TO VERSION AS OF`` — Delta's restore verb:
    ONE new commit that re-adds the target version's active files
    (deletion vectors included), removes files active now but not
    then, and reverts ``metaData`` (schema/configuration) to the
    target's.  History is preserved — the restore is itself a
    version, and the pre-restore state stays travelable.

    Refuses when a file the target version needs no longer exists on
    disk (VACUUM removed it — the protocol's documented restore
    hazard); the protocol action is never downgraded."""
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "restore_delta commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    refuse_append_only(location, "RESTORE")
    log_dir = base / "_delta_log"
    if not log_dir.is_dir():
        raise GlueSparkError(
            f"no Delta log at {location!r} — RESTORE needs an "
            "existing table"
        )
    from glue_table_cache_spark.sources.delta import _replay

    now = int(time.time() * 1000)
    for _ in range(max_commit_retries):
        cur_version = _next_version(log_dir) - 1
        if not isinstance(version, int) or not (
            0 <= version <= cur_version
        ):
            raise GlueSparkError(
                f"Delta version {version!r} does not exist at "
                f"{location!r} (latest is {cur_version})"
            )
        cur_active, cur_state = _replay(location)
        tgt_active, tgt_state = _replay(
            location, version_offset=cur_version - version
        )
        missing = [
            p
            for p in tgt_active
            if not (base / p).exists()
        ]
        if missing:
            raise GlueSparkError(
                f"RESTORE to version {version}: {len(missing)} "
                f"file(s) it needs were vacuumed (first: "
                f"{missing[0]!r}); that state is no longer "
                "materializable"
            )
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "RESTORE",
                    "operationParameters": {"version": version},
                }
            }
        ]
        if tgt_state.get("metaData") != cur_state.get("metaData"):
            actions.append({"metaData": tgt_state["metaData"]})
        n_removed = n_added = 0
        for p, (pv, _dv, _st) in cur_active.items():
            if p not in tgt_active:
                actions.append(
                    {
                        "remove": {
                            "path": p,
                            "deletionTimestamp": now,
                            "dataChange": True,
                            "partitionValues": pv or {},
                        }
                    }
                )
                n_removed += 1
        for p, (pv, dv, st) in tgt_active.items():
            cur = cur_active.get(p)
            if cur is not None and cur[1] == dv:
                continue  # same file, same DV state: nothing to do
            add = {
                "path": p,
                "partitionValues": pv or {},
                "size": (base / p).stat().st_size,
                "modificationTime": now,
                "dataChange": True,
            }
            if st is not None:
                add["stats"] = st
            if dv is not None:
                add["deletionVector"] = dv
            actions.append({"add": add})
            n_added += 1
        if n_removed == 0 and n_added == 0 and len(actions) == 1:
            return cur_version  # already at the target state: no-op
        commit = log_dir / f"{cur_version + 1:020d}.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the race: re-diff against the new state
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        _maybe_checkpoint(
            location, cur_version + 1, checkpoint_interval
        )
        return cur_version + 1
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def shallow_clone_delta(
    src_location: str,
    dst_location: str,
    version: int | None = None,
    deep: bool = False,
) -> int:
    """Delta's documented SHALLOW CLONE: a NEW table at
    ``dst_location`` whose version-0 commit references the source's
    active data files by ABSOLUTE path (the spec allows absolute
    ``add.path``) — zero data copied.  Deletion vectors carry over
    rewritten to ``storageType='p'`` absolute descriptors so the
    clone resolves them against the SOURCE directory.  ``version``
    clones a historical state (the read-side ``VERSION AS OF``
    identifier).

    ``deep=True`` is DEEP CLONE: the active files (and their DV
    sidecars) COPY into the clone's directory, adds reference them
    relative, and the clone has zero ties to the source — a VACUUM
    on the source can no longer break it.  The copy is a
    driver-side loop (a clone IS a data copy; at object-store scale
    the copy belongs in a distributed job or server-side COPY, and
    this local-FS writer keeps the protocol shape exact).

    The clone's log is independent from its first commit: writes,
    DML, RESTORE, and checkpoints all work; VACUUM walks only the
    clone's own directory, so referenced source files are naturally
    safe — but a VACUUM on the SOURCE can remove files a SHALLOW
    clone still references (the documented shallow-clone hazard;
    reads then fail loudly)."""
    if "://" in src_location or "://" in dst_location:
        raise GlueSparkError(
            "shallow_clone_delta commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    src = Path(src_location)
    src_log = src / "_delta_log"
    if not src_log.is_dir():
        raise GlueSparkError(
            f"no Delta log at {src_location!r} — SHALLOW CLONE "
            "needs an existing source table"
        )
    dst = Path(dst_location)
    dst_log = dst / "_delta_log"
    if dst_log.is_dir() and any(dst_log.glob("*.json")):
        raise GlueSparkError(
            f"{dst_location!r} already holds a Delta log — refusing "
            "to clone over an existing table"
        )
    from glue_table_cache_spark.sources.delta import _replay
    from glue_table_cache_spark.sources.dv import dv_file_path

    latest = _next_version(src_log) - 1
    if version is None:
        offset = 0
        version = latest
    elif not (0 <= version <= latest):
        raise GlueSparkError(
            f"Delta version {version!r} does not exist at "
            f"{src_location!r} (latest is {latest})"
        )
    else:
        offset = latest - version
    active, state = _replay(src_location, version_offset=offset)
    meta = dict(state.get("metaData") or {})
    if not meta:
        raise GlueSparkError(
            f"source table at {src_location!r} has no recorded "
            "metaData to clone"
        )
    meta["id"] = str(uuid.uuid4())
    now = int(time.time() * 1000)
    meta["createdTime"] = now
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "CLONE",
                "operationParameters": {
                    "source": src_location,
                    "sourceVersion": version,
                    "isShallow": not deep,
                },
            }
        },
        {"metaData": meta},
    ]
    if state.get("protocol"):
        actions.append({"protocol": state["protocol"]})
    n_files = 0
    for p, (pv, dv, st) in sorted(active.items()):
        abs_path = (
            p if p.startswith("/") else str(src / p)
        )
        if not Path(abs_path).exists():
            raise GlueSparkError(
                f"{'DEEP' if deep else 'SHALLOW'} CLONE of version "
                f"{version}: source file {p!r} no longer exists "
                "(vacuumed); that state is not materializable"
            )
        if deep:
            # copy the data file in, keeping the layout (partition
            # dirs survive) — foreign absolute paths (a clone of a
            # shallow clone) land at the root under a unique name
            rel = (
                p
                if not p.startswith("/")
                else f"clone-{uuid.uuid4().hex[:12]}-"
                + Path(p).name
            )
            dest = dst / rel
            dest.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(abs_path, dest)
            add_path = rel
            size_of = dest
        else:
            add_path = abs_path
            size_of = Path(abs_path)
        add = {
            "path": add_path,
            "partitionValues": pv or {},
            "size": size_of.stat().st_size,
            "modificationTime": now,
            "dataChange": True,
        }
        if st is not None:
            add["stats"] = st
        if dv is not None:
            if dv.get("storageType") == "i":
                add["deletionVector"] = dv  # inline: self-contained
            elif deep:
                # the sidecar copies too; an absolute 'p' path
                # re-anchors to the CLONE's directory
                src_dv = dv_file_path(src_location, dv)
                dv_name = Path(src_dv).name
                shutil.copy2(src_dv, dst / dv_name)
                add["deletionVector"] = {
                    **{
                        k: v
                        for k, v in dv.items()
                        if k not in ("storageType", "pathOrInlineDv")
                    },
                    "storageType": "p",
                    "pathOrInlineDv": str(dst / dv_name),
                }
            else:
                # re-anchor to the SOURCE directory: the clone's
                # reader resolves 'u' descriptors against ITS OWN
                # location, which holds no DV files
                add["deletionVector"] = {
                    **{
                        k: v
                        for k, v in dv.items()
                        if k not in ("storageType", "pathOrInlineDv")
                    },
                    "storageType": "p",
                    "pathOrInlineDv": dv_file_path(
                        src_location, dv
                    ),
                }
        actions.append({"add": add})
        n_files += 1
    dst_log.mkdir(parents=True, exist_ok=True)
    commit = dst_log / f"{0:020d}.json"
    try:
        fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise GlueSparkError(
            f"{dst_location!r} gained a Delta log concurrently — "
            "refusing to clone over it"
        )
    with os.fdopen(fd, "w") as f:
        f.write(serialize_actions(actions))
    return n_files


def copy_into_delta(
    spark,
    location: str,
    source_dir: str,
    pattern: str = "*.parquet",
) -> tuple[int | None, int, int]:
    """``COPY INTO``: idempotent incremental file loading — every
    parquet file under ``source_dir`` loads into the Delta table at
    ``location`` EXACTLY ONCE, however many times the command re-runs
    (the retryable-ingest verb: point it at a landing directory and
    cron it).  Returns ``(version, n_files_loaded, n_rows)`` —
    ``(None, 0, 0)`` when everything is already loaded.

    Idempotence ledger: one SetTransaction marker per source file
    (``appId = "copy-into:<absolute path>"``) committed ATOMICALLY
    with the adds.  txn state is carried into checkpoints and
    survives log cleanup — a commitInfo-based ledger would forget
    loaded files as soon as retention trimmed the log, silently
    re-loading them.  A concurrent COPY of the same input loses the
    race loudly (the commit re-checks every marker per attempt);
    re-running re-diffs and no-ops.

    The append inherits the table's partitioning, derives generated
    columns, and enforces CHECK constraints like any other write;
    reading the new files goes through one distributed
    ``mergeSchema`` scan."""
    src = Path(
        source_dir[len("file:"):]
        if source_dir.startswith("file:") else source_dir
    )
    if "://" in source_dir:
        raise GlueSparkError(
            "COPY INTO reads the source listing via the local "
            "filesystem; object stores need the scheme-specific "
            "listing path"
        )
    if not src.is_dir():
        raise GlueSparkError(
            f"COPY INTO: source {source_dir!r} is not a directory"
        )
    table_root = str(Path(location).resolve())
    if str(src.resolve()).rstrip("/") == table_root or str(
        src.resolve()
    ).startswith(table_root + "/"):
        raise GlueSparkError(
            "COPY INTO: the source directory lies inside the target "
            "table — loading a table into itself never converges"
        )
    candidates = sorted(
        str(p)
        for p in src.rglob(pattern)
        if p.is_file()
        and not any(
            seg.startswith("_") or seg.startswith(".")
            for seg in p.relative_to(src).parts
        )
    )
    if not candidates:
        raise GlueSparkError(
            f"COPY INTO: no files matching {pattern!r} under "
            f"{source_dir!r}"
        )
    log_dir = Path(location) / "_delta_log"
    loaded: set[str] = set()
    if log_dir.is_dir() and (
        any(log_dir.glob("*.json"))
        or any(log_dir.glob("*.checkpoint*.parquet"))
    ):
        from glue_table_cache_spark.sources.delta import _replay

        _active, state = _replay(location)
        loaded = {
            app[len("copy-into:"):]
            for app in (state.get("txns") or {})
            if app.startswith("copy-into:")
        }
    new_files = [f for f in candidates if f not in loaded]
    if not new_files:
        return None, 0, 0
    df = (
        spark.read.option("mergeSchema", "true").parquet(*new_files)
    )
    n_rows = df.count()
    version = write_delta_append(
        df,
        location,
        extra_txns=[(f"copy-into:{f}", 1) for f in new_files],
        operation="COPY INTO",
        operation_parameters={
            "source": str(src),
            "numSourceFiles": len(new_files),
        },
    )
    return version, len(new_files), n_rows


def convert_to_delta(
    spark,
    location: str,
    partition_keys: list[tuple[str, str]] | None = None,
    max_stats_files: int = 10_000,
) -> int:
    """``CONVERT TO DELTA``: generate a transaction log IN PLACE over
    an existing parquet directory — a metadata-only migration (no
    data copied or rewritten; the documented lakehouse-migration verb
    re-expressed over the public protocol).  Returns the number of
    files registered.

    * ``partition_keys`` is ``[(name, sql_type), ...]`` for hive
      ``k=v`` layouts; every data file must sit under EXACTLY those
      keys in that order — a half-partitioned directory refuses (the
      same mixed-layout hazard :func:`write_delta_append` refuses:
      Spark's basePath discovery silently drops root-level files
      next to ``k=v`` dirs, so a log legitimizing such a layout
      would be unreadable);
    * ``schemaString`` = one sampled data footer's schema plus the
      typed partition columns; ``add.stats`` derive from footers
      (metadata-scale, no data read) up to ``max_stats_files`` —
      beyond the cap adds carry no stats and a later OPTIMIZE
      re-derives them, keeping conversion of a million-file table a
      bounded-driver operation;
    * commits version 0 (``protocol(1,2)``, ``metaData`` with
      partitionColumns, one ``dataChange`` add per file) via O_EXCL —
      a concurrent conversion loses cleanly.

    Directories already holding a Delta log, a Hudi timeline, or
    Iceberg metadata refuse — converting those would fork their
    commit history."""
    from pyspark.sql.types import StructField, StructType

    if "://" in location:
        raise GlueSparkError(
            "convert_to_delta commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    base = Path(
        location[len("file:"):]
        if location.startswith("file:") else location
    )
    if not base.is_dir():
        raise GlueSparkError(
            f"CONVERT TO DELTA: {location!r} is not a directory"
        )
    log_dir = base / "_delta_log"
    if any(log_dir.glob("*.json")) or any(
        log_dir.glob("*.checkpoint*.parquet")
    ):
        raise GlueSparkError(
            f"{location!r} already holds a Delta transaction log — "
            "it IS a Delta table"
        )
    if (base / ".hoodie").is_dir():
        raise GlueSparkError(
            f"{location!r} holds a Hudi timeline (.hoodie/) — "
            "converting it would fork the commit history"
        )
    if any((base / "metadata").glob("*.metadata.json")):
        raise GlueSparkError(
            f"{location!r} holds Iceberg metadata — converting it "
            "would fork the commit history"
        )
    keys = [k for k, _t in (partition_keys or [])]
    files: list[tuple[Path, dict]] = []
    for p in sorted(base.rglob("*.parquet")):
        rel_parts = p.relative_to(base).parts
        if any(
            seg.startswith("_") or seg.startswith(".")
            for seg in rel_parts
        ):
            continue  # staging/metadata/hidden trees are not data
        # the user's layout is hive-escaped too (Spark wrote it) —
        # commit logical values, keep the directory spelling on disk
        pv = partition_values_from_dir_parts(rel_parts[:-1])
        if list(pv) != keys:
            raise GlueSparkError(
                f"CONVERT TO DELTA: file {str(p)!r} sits under "
                f"partition dirs {list(pv)} but the declared keys "
                f"are {keys} — every data file must carry exactly "
                "the declared partitioning (a mixed layout is "
                "unreadable)"
            )
        files.append((p, pv))
    if not files:
        raise GlueSparkError(
            f"CONVERT TO DELTA: no parquet data files under "
            f"{location!r}"
        )
    # DISTRIBUTED footer-schema merge: files written at different
    # schema versions union into one schemaString (readers surface
    # nulls for columns a file lacks) — a single sampled footer would
    # silently drop columns added later
    data_schema = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[str(p) for p, _pv in files])
        .schema
    )
    clash = [f.name for f in data_schema.fields if f.name in keys]
    if clash:
        raise GlueSparkError(
            f"CONVERT TO DELTA: partition column(s) {clash} also "
            "exist inside the data files — ambiguous layout"
        )
    part_fields = []
    for name, sql_type in partition_keys or []:
        try:
            t = local_frame(
                spark,
                [], f"`{name}` {sql_type}"
            ).schema.fields[0]
        except Exception:
            raise GlueSparkError(
                f"CONVERT TO DELTA: cannot parse partition column "
                f"type {sql_type!r} for {name!r}"
            )
        part_fields.append(StructField(t.name, t.dataType, True))
    full_schema = StructType(
        list(data_schema.fields) + part_fields
    )
    now = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "CONVERT",
                "operationParameters": {
                    "numFiles": len(files),
                    "partitionedBy": json.dumps(keys),
                },
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {
                    "provider": "parquet", "options": {},
                },
                "schemaString": json.dumps(full_schema.jsonValue()),
                "partitionColumns": keys,
                "configuration": {},
                "createdTime": now,
            }
        },
    ]
    for i, (p, pv) in enumerate(files):
        add = {
            "path": str(p.relative_to(base)),
            "partitionValues": pv,
            "size": p.stat().st_size,
            "modificationTime": int(p.stat().st_mtime * 1000),
            "dataChange": True,
        }
        if i < max_stats_files:
            stats = _footer_stats_json(p)
            if stats is not None:
                add["stats"] = stats
        actions.append({"add": add})
    log_dir.mkdir(parents=True, exist_ok=True)
    commit = log_dir / f"{0:020d}.json"
    try:
        fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise GlueSparkError(
            f"{location!r} gained a Delta log concurrently — "
            "lost the conversion race"
        )
    with os.fdopen(fd, "w") as f:
        f.write(serialize_actions(actions))
    return len(files)


def alter_delta_add_columns(
    location: str,
    columns,
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
) -> int:
    """``ALTER TABLE ... ADD COLUMNS`` as a SCHEMA-ONLY commit: one
    version whose ``metaData`` action widens ``schemaString`` with
    ``columns`` (a ``StructType`` or list of ``StructField``); no
    data files change — pre-alter files surface nulls for the new
    columns on every schemaString-driven read, exactly like a
    ``merge_schema`` append's evolution but without writing rows.

    Added columns must be nullable (existing files have no values for
    them); duplicate names and column-mapped tables refuse.  The
    schema is re-resolved per commit attempt so a concurrent writer's
    evolution merges instead of being clobbered."""
    from pyspark.sql.types import StructField, StructType

    fields = list(
        columns.fields if isinstance(columns, StructType) else columns
    )
    if not fields:
        raise GlueSparkError("ADD COLUMNS: empty column list")
    bad = [f.name for f in fields if not f.nullable]
    if bad:
        raise GlueSparkError(
            f"ADD COLUMNS: column(s) {bad} are non-nullable — "
            "existing rows have no values for them"
        )
    base = Path(location)
    log_dir = base / "_delta_log"
    if not log_dir.is_dir() or not any(log_dir.glob("*.json")):
        raise GlueSparkError(
            f"no Delta log at {location!r} — ALTER needs an existing "
            "table"
        )
    from glue_table_cache_spark.sources.delta import (
        _replay,
        column_mapping_renames,
        logical_schema,
    )

    now = int(time.time() * 1000)
    for _ in range(max_commit_retries):
        version = _next_version(log_dir)
        _active, state = _replay(location)
        meta = state.get("metaData")
        if column_mapping_renames(meta) is not None:
            raise GlueSparkError(
                "ALTER on a column-mapped table needs physical-name "
                "assignment; use a Delta runtime"
            )
        table_schema = logical_schema(meta)
        if table_schema is None:
            raise GlueSparkError(
                f"table at {location!r} has no recorded schema to "
                "evolve"
            )
        existing = {f.name for f in table_schema.fields}
        dupes = [f.name for f in fields if f.name in existing]
        if dupes:
            raise GlueSparkError(
                f"ADD COLUMNS: column(s) {dupes} already exist"
            )
        merged = StructType(
            list(table_schema.fields)
            + [StructField(f.name, f.dataType, True) for f in fields]
        )
        evolved = dict(meta or {})
        evolved["schemaString"] = json.dumps(merged.jsonValue())
        actions = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "ADD COLUMNS",
                    "operationParameters": {
                        "columns": [f.name for f in fields]
                    },
                }
            },
            {"metaData": evolved},
        ]
        commit = log_dir / f"{version:020d}.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        _maybe_checkpoint(location, version, checkpoint_interval)
        return version
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def _maybe_checkpoint(
    location: str, version: int, interval: int | None
) -> None:
    """Checkpoint after every ``interval``-th committed version.  The
    commit has already succeeded; checkpointing is idempotent repo
    maintenance, so a race with another writer's checkpoint of the
    same version is benign (first rename wins, identical state)."""
    if not interval or version <= 0 or version % interval:
        return
    from glue_table_cache_spark.sinks.delta_checkpoint import (
        write_delta_checkpoint,
        write_delta_checkpoint_v2,
    )

    try:
        write_delta_checkpoint(location, version)
    except GlueSparkError as exc:
        # v2-policy tables take the uuid-manifest form instead — the
        # interval contract holds whatever the table's policy is
        if "checkpointPolicy=v2" not in str(exc):
            raise
        write_delta_checkpoint_v2(location, version)


def _mapping_upgrade(schema: dict, configuration: dict) -> dict:
    """Column-mapping upgrade for a FLAT schema (in place): mode
    ``name``, per-field ``delta.columnMapping.id`` +
    ``physicalName = <current name>`` — so the files on disk keep
    reading correctly while logical names become free to change.
    Nested structs refuse (every level needs physical-name
    assignment; use a Delta runtime)."""

    def _has_struct(t) -> bool:
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return True
            return any(
                _has_struct(v)
                for k, v in t.items()
                if k in ("elementType", "valueType", "keyType", "type")
            )
        return False

    for f in schema.get("fields", []):
        if _has_struct(f.get("type")):
            raise GlueSparkError(
                f"column-mapping upgrade of nested field "
                f"{f.get('name')!r}: every struct level needs "
                "physical-name assignment — use a Delta runtime"
            )
    for i, f in enumerate(schema.get("fields", [])):
        md = dict(f.get("metadata") or {})
        md.setdefault("delta.columnMapping.id", i + 1)
        md.setdefault(
            "delta.columnMapping.physicalName", f["name"]
        )
        f["metadata"] = md
    configuration["delta.columnMapping.mode"] = "name"
    configuration.setdefault(
        "delta.columnMapping.maxColumnId",
        str(len(schema.get("fields", []))),
    )
    return schema


def _refuse_column_references(
    meta: dict, name: str, verb: str
) -> None:
    """A column a CHECK constraint or a generation expression
    references cannot rename/drop out from under the expression —
    conservative word-boundary match on the recorded SQL text."""
    import re as _re2

    # optional backticks around the name so both ``price`` and
    # ```price``` spellings in the recorded SQL text are caught
    pat = _re2.compile(
        rf"(?<![A-Za-z0-9_])`?{_re2.escape(name)}`?(?![A-Za-z0-9_])",
        _re2.IGNORECASE,
    )
    conf = meta.get("configuration") or {}
    for k, v in conf.items():
        if k.startswith("delta.constraints.") and pat.search(v):
            raise GlueSparkError(
                f"{verb} {name!r}: CHECK constraint "
                f"{k[len('delta.constraints.'):]!r} references it — "
                "DROP CONSTRAINT first"
            )
    schema = json.loads(meta.get("schemaString") or "{}")
    for f in schema.get("fields", []):
        expr = (f.get("metadata") or {}).get(
            "delta.generationExpression"
        )
        if expr and pat.search(expr):
            raise GlueSparkError(
                f"{verb} {name!r}: generated column "
                f"{f.get('name')!r} derives from it"
            )


def _alter_delta_column(
    location: str,
    verb: str,
    name: str,
    new_name: str | None,
    max_commit_retries: int,
    checkpoint_interval: int | None,
) -> int:
    """Shared RENAME/DROP COLUMN commit: auto-upgrades the table to
    column mapping (mode ``name``) in the SAME commit when needed —
    physical names pin to the current spelling so every existing
    file keeps resolving — then changes only the LOGICAL schema.
    Metadata-only: no data file is read or written."""
    from glue_table_cache_spark.sources.delta import (
        _mapping_mode,
        _replay,
    )

    base = Path(location)
    log_dir = base / "_delta_log"
    if "://" in location:
        raise GlueSparkError(
            f"{verb} commits via filesystem put-if-absent; object "
            "stores need an external commit coordinator"
        )
    if not log_dir.is_dir() or not any(log_dir.glob("*.json")):
        raise GlueSparkError(
            f"no Delta log at {location!r} — ALTER needs an "
            "existing table"
        )
    now = int(time.time() * 1000)
    for _ in range(max_commit_retries):
        version = _next_version(log_dir)
        _active, state = _replay(location)
        meta = dict(state.get("metaData") or {})
        if not meta.get("schemaString"):
            raise GlueSparkError(
                f"table at {location!r} has no recorded schema"
            )
        conf = dict(meta.get("configuration") or {})
        # CDF tables rename fine: cdc files carry PHYSICAL names
        # (pre-upgrade files' names ARE the pinned physical names),
        # and delta_cdf / the streaming CDF mode map every piece
        # through the current metadata at read
        if name in (meta.get("partitionColumns") or []):
            raise GlueSparkError(
                f"{verb} {name!r}: it is a partition column — "
                "directories key on it; rewrite the table instead"
            )
        _refuse_column_references(meta, name, verb)
        schema = json.loads(meta["schemaString"])
        fields = schema.get("fields", [])
        names = [f["name"] for f in fields]
        if name not in names:
            raise GlueSparkError(
                f"{verb} {name!r}: no such column (have {names})"
            )
        if new_name is not None and new_name in names:
            raise GlueSparkError(
                f"RENAME COLUMN to {new_name!r}: column already "
                "exists"
            )
        if new_name is None and len(fields) == 1:
            raise GlueSparkError(
                f"DROP COLUMN {name!r}: it is the table's only "
                "column"
            )
        upgraded = _mapping_mode(meta) == "none"
        if upgraded:
            schema = _mapping_upgrade(schema, conf)
        if new_name is None:
            schema["fields"] = [
                f for f in schema["fields"] if f["name"] != name
            ]
        else:
            for f in schema["fields"]:
                if f["name"] == name:
                    f["name"] = new_name
        meta["schemaString"] = json.dumps(schema)
        meta["configuration"] = conf
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": verb,
                    "operationParameters": (
                        {"column": name, "newColumn": new_name}
                        if new_name is not None
                        else {"column": name}
                    ),
                }
            }
        ]
        if upgraded:
            actions.append(
                {
                    "protocol": upgraded_protocol(
                        state.get("protocol"),
                        reader_features=("columnMapping",),
                        writer_features=("columnMapping",),
                    )
                }
            )
        actions.append({"metaData": meta})
        commit = log_dir / f"{version:020d}.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(serialize_actions(actions))
        _maybe_checkpoint(location, version, checkpoint_interval)
        return version
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def alter_delta_rename_column(
    location: str,
    name: str,
    new_name: str,
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
) -> int:
    """``ALTER TABLE ... RENAME COLUMN a TO b`` — metadata-only:
    auto-upgrades to column mapping (physical names pin to the
    on-disk spelling) and changes the logical name.  Partition
    columns, constraint/generated references, CDF tables, and nested
    schemas refuse with pointers."""
    return _alter_delta_column(
        location, "RENAME COLUMN", name, new_name,
        max_commit_retries, checkpoint_interval,
    )


def alter_delta_drop_column(
    location: str,
    name: str,
    max_commit_retries: int = 10,
    checkpoint_interval: int | None = 10,
) -> int:
    """``ALTER TABLE ... DROP COLUMN c`` — metadata-only: the field
    leaves the logical schema while the physical data stays on disk
    (the mapping projection simply never selects it); same refusal
    matrix as RENAME."""
    return _alter_delta_column(
        location, "DROP COLUMN", name, None,
        max_commit_retries, checkpoint_interval,
    )
