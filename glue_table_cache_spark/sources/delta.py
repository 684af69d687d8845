"""Delta Lake data-file resolution from the transaction log.

Beyond-reference extension: the reference *enumerates* DELTA in its
table taxonomy but never handles it (/root/reference/src/types.ts:4-11)
— a Delta location scanned as a raw parquet directory would read every
historical file, deleted rows included.  This module reconstructs the
table's ACTIVE file set from the public Delta Lake log protocol
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md), the same
metadata-walk posture as :mod:`glue_table_cache_spark.sources.iceberg`:

1. list ``<location>/_delta_log/`` — ``<version>.json`` commits
   (JSON-lines of ``add`` / ``remove`` / ``metaData`` / ``protocol``
   actions) and ``<version>.checkpoint[.part.of].parquet`` snapshots;
2. start from the newest checkpoint at or below the target version
   (read driver-side with pyarrow — one metadata-scale parquet), which
   carries the full action state at that version, so vacuumed/cleaned
   older commits are never needed;
3. replay the JSON commits after the checkpoint up to the target:
   ``add`` inserts a path into the active set, ``remove`` deletes it
   (paths are URL-encoded table-relative names per the protocol);
4. ``version_offset`` steps the target back N commits for time travel
   (mirrors the Iceberg reader's parameter).

Only files the log names as live are scanned — orphan files sitting in
the data directory (failed writes, un-vacuumed deletes) are invisible,
the same hygiene property the Iceberg fixture asserts.

All steps are metadata-scale and run on the driver, EXCEPT the
checkpoint decode at extreme file counts (r12): a checkpoint at or
above :data:`DISTRIBUTED_CHECKPOINT_MIN_BYTES` is read with
``spark.read.parquet`` over the parts, projected to the action
columns, so the decompress/decode parallelizes across executors and
the driver collects only compact per-file tuples
(:func:`_read_checkpoint_distributed`).  The commit-replay tail stays
driver-side: the JSON tail is bounded by the checkpoint interval
(10 commits by default), so it never grows with table size.
"""

from __future__ import annotations

import json
import posixpath
import re
from urllib.parse import quote as _quote
from urllib.parse import unquote

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.sources.iceberg import (
    _path_resolver,
    _read_bytes,
    _resolve_path,
)

_COMMIT_RE = re.compile(r"(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(
    r"(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet$"
)
#: v2 (uuid-named) checkpoint manifests: <version>.checkpoint.<uuid>.
#: {json,parquet}; the uuid form is distinguished from the classic
#: multi-part <part>.<numParts> numeric pair by field count
_CHECKPOINT_V2_RE = re.compile(
    r"(\d{20})\.checkpoint\.([0-9a-zA-Z-]+)\.(json|parquet)$"
)

#: Reader features (Delta protocol table-features, minReaderVersion 3)
#: this raw-parquet read path can honor.  ``columnMapping`` is refused
#: via the metaData gate; ``deletionVectors`` is accepted here because
#: per-file DVs are either materialized by the DV read path or refused
#: loudly at the ``add`` action; ``v2Checkpoint`` manifests (uuid-named,
#: actions split into ``_sidecars/`` parquet files) are read by
#: :func:`_read_checkpoint_v2`.
_SUPPORTED_READER_FEATURES = {
    "columnMapping",  # flat schemas; nested refuses in the rename map
    "deletionVectors",
    "timestampNtz",
    "vacuumProtocolCheck",
    "v2Checkpoint",
}


def _log_files(location: str, fs=None) -> list[str]:
    from glue_table_cache_spark.listing import filesystem_for

    log_dir = posixpath.join(location.rstrip("/"), "_delta_log")
    fs = fs or filesystem_for(log_dir)
    return fs.list_files(log_dir)


def _apply_action(active: dict, action: dict, state: dict) -> None:
    if "add" in action and action["add"]:
        a = action["add"]
        _check_dv_supported(a)
        active[unquote(a["path"])] = (
            a.get("partitionValues") or {},
            a.get("deletionVector"),
            a.get("stats"),
        )
    elif "remove" in action and action["remove"]:
        active.pop(unquote(action["remove"]["path"]), None)
    elif "metaData" in action and action["metaData"]:
        state["metaData"] = action["metaData"]
    elif "protocol" in action and action["protocol"]:
        _check_protocol(action["protocol"])
        # kept so writers can UPGRADE (union features) instead of
        # clobbering a richer protocol written by another engine
        state["protocol"] = action["protocol"]
    elif "txn" in action and action["txn"]:
        # streaming-writer idempotence marker: latest version per appId
        # wins (the protocol's SetTransaction semantics)
        t = action["txn"]
        if t.get("appId") is not None:
            state.setdefault("txns", {})[t["appId"]] = t.get("version")


def _mapping_mode(meta: dict | None) -> str:
    conf = (meta or {}).get("configuration") or {}
    if isinstance(conf, list):  # pyarrow map -> list of pairs
        conf = dict(conf)
    mode = conf.get("delta.columnMapping.mode", "none")
    return "none" if mode in ("", "none") else mode


def column_mapping_renames(
    meta: dict | None, allow_nested: bool = False
) -> dict[str, str] | None:
    """``{physical_name: logical_name}`` (top level) for a
    column-mapped table (modes ``name``/``id`` — with both, the
    parquet files carry the physical names recorded in the schema's
    field metadata), or ``None`` when the table is unmapped.

    Nested schemas map their STRUCT FIELD names too; a top-level
    rename alone would silently mis-label them.  The scan path
    passes ``allow_nested=True`` and finishes the job in
    :func:`apply_column_mapping` (a positional struct cast renames
    every level — mapping preserves field order, so position is the
    identity that survives the rename).  The DML writers keep the
    default and REFUSE nested-mapped tables: their rewrite
    projections and footer-stats keys are top-level-name based."""
    if _mapping_mode(meta) == "none":
        return None
    schema = json.loads(meta["schemaString"])

    def has_struct(t) -> bool:
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return True
            return any(
                has_struct(v)
                for k, v in t.items()
                if k in ("elementType", "valueType", "keyType", "type")
            )
        return False

    renames: dict[str, str] = {}
    for field in schema.get("fields", []):
        if has_struct(field.get("type")) and not allow_nested:
            raise GlueSparkError(
                f"Delta column mapping on nested field "
                f"{field.get('name')!r} is not supported by this "
                "writer path (scans handle it; row-level writes "
                "need a Delta runtime)"
            )
        physical = (field.get("metadata") or {}).get(
            "delta.columnMapping.physicalName"
        )
        if not physical:
            raise GlueSparkError(
                f"Delta column-mapped field {field.get('name')!r} "
                "carries no physicalName metadata — schemaString is "
                "inconsistent with delta.columnMapping.mode"
            )
        renames[physical] = field["name"]
    return renames


def column_mapping_name_tree(meta: dict | None) -> dict | None:
    """Per-level ``physical → (logical, subtree)`` name pairs from the
    schemaString's ``delta.columnMapping.physicalName`` metadata, or
    ``None`` when the table is unmapped / records no schema.

    Node shapes mirror the type they describe so a consumer can walk
    an Arrow/Spark type alongside: ``{"struct": {phys: (logical,
    node|None)}}``, ``{"array": node}``, ``{"map": (key_node,
    value_node)}``.  This is what lets the streaming file reader
    relabel a nested physical-named column BY NAME (r14, ADVICE r13):
    a purely positional graft silently mislabels a struct whose file
    schema dropped one field and added another at the same arity —
    with the tree, only a field whose physical name matches is
    renamed, and any unmatched field keeps its file name so the
    name-matched cast refuses loudly instead of surfacing the wrong
    column's data."""
    if _mapping_mode(meta) == "none" or not (meta or {}).get(
        "schemaString"
    ):
        return None

    def node(t):
        if not isinstance(t, dict):
            return None
        kind = t.get("type")
        if kind == "struct":
            out = {}
            for f in t.get("fields", []):
                phys = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName"
                ) or f["name"]
                out[phys] = (f["name"], node(f.get("type")))
            return {"struct": out}
        if kind == "array":
            sub = node(t.get("elementType"))
            return {"array": sub} if sub is not None else None
        if kind == "map":
            k = node(t.get("keyType"))
            v = node(t.get("valueType"))
            return {"map": (k, v)} if (k or v) else None
        return None

    return node(json.loads(meta["schemaString"]))


def physical_schema(meta: dict | None):
    """The table schema as a Spark ``StructType`` with EVERY level
    renamed to its recorded ``delta.columnMapping.physicalName`` —
    the spelling the data (and cdc) files carry on a column-mapped
    table.  ``None`` when the table is unmapped or records no schema.
    This is the WRITE-direction twin of :func:`apply_column_mapping`:
    casting a logical-named frame to this schema renames every nested
    field positionally (mapping preserves field order and never
    changes types), which is what lets the DML writers stage nested
    column-mapped rewrites (r12) instead of refusing."""
    if _mapping_mode(meta) == "none" or not (meta or {}).get(
        "schemaString"
    ):
        return None
    from pyspark.sql.types import StructType

    def walk_type(t):
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return {
                    **t,
                    "fields": [
                        walk_field(f) for f in t.get("fields", [])
                    ],
                }
            if kind == "array":
                return {
                    **t,
                    "elementType": walk_type(t.get("elementType")),
                }
            if kind == "map":
                return {
                    **t,
                    "keyType": walk_type(t.get("keyType")),
                    "valueType": walk_type(t.get("valueType")),
                }
        return t

    def walk_field(f):
        phys = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName"
        ) or f["name"]
        return {
            **f,
            "name": phys,
            "type": walk_type(f.get("type")),
            "metadata": {},
        }

    return StructType.fromJson(
        walk_type(json.loads(meta["schemaString"]))
    )


def _check_protocol(protocol: dict) -> None:
    """Refuse tables whose reader protocol this path cannot honor —
    silently scanning past an unknown reader requirement is exactly the
    wrong-rows hazard the protocol field exists to prevent."""
    version = protocol.get("minReaderVersion", 1)
    if version is None:
        return
    if version > 3:
        raise GlueSparkError(
            f"Delta minReaderVersion {version} is newer than this "
            "reader understands (max 3)"
        )
    if version == 3:
        unsupported = (
            set(protocol.get("readerFeatures") or [])
            - _SUPPORTED_READER_FEATURES
        )
        if unsupported:
            raise GlueSparkError(
                "Delta table requires reader features "
                f"{sorted(unsupported)} not supported by the "
                "raw-parquet read path"
            )


def _check_dv_supported(add: dict) -> None:
    """Deletion vectors mark rows WITHIN a live file as deleted; they
    are honored by :func:`apply_deletion_vectors` (anti-join on
    ``_metadata.row_index``) for the known storage types — an UNKNOWN
    storage type still refuses loudly rather than resurrect rows."""
    dv = add.get("deletionVector")
    if dv and dv.get("storageType") not in ("u", "p", "i"):
        raise GlueSparkError(
            f"Delta file {add.get('path')!r} carries a deletion vector "
            f"with unknown storageType {dv.get('storageType')!r}; "
            "read through a Delta runtime"
        )


def _verify_checkpoint_parts(version: int, paths: list[str]) -> list[str]:
    """A multi-part checkpoint filename encodes ``<part>.<numParts>``;
    trusting whatever parts the listing happened to return would
    silently drop every live file recorded in a missing part (silent
    data loss, not a loud error).  Verify the set is exactly
    ``1..numParts`` before reading."""
    parts: dict[int, int] = {}
    for p in paths:
        m = _CHECKPOINT_RE.search(p)
        if m and m.group(2) is not None:
            parts[int(m.group(2))] = int(m.group(3))
    if not parts:  # single-file checkpoint
        if len(paths) != 1:
            raise GlueSparkError(
                f"Conflicting checkpoint files for Delta version "
                f"{version}: {sorted(paths)}"
            )
        return paths
    num_parts = set(parts.values())
    if len(num_parts) != 1 or set(parts) != set(
        range(1, next(iter(num_parts)) + 1)
    ):
        raise GlueSparkError(
            f"Incomplete multi-part checkpoint for Delta version "
            f"{version}: have parts {sorted(parts)} of "
            f"{sorted(num_parts)} — refusing to read a partial "
            "active-file set"
        )
    return sorted(paths)


def _complete_checkpoints(
    checkpoints: dict[int, list[str]],
) -> dict[int, list[str]]:
    """Subset of ``checkpoints`` whose part sets verify complete.

    A crash between the per-part renames of a multi-part checkpoint
    leaves a partial set on disk.  Treating that partial set as
    covering — selecting it for a read, or worse, using it as the
    ``clean_delta_log`` horizon and deleting the JSON commits beneath
    it — turns one crashed checkpoint write into a permanently
    unreadable table.  Incomplete sets are simply not candidates:
    selection falls back to an older complete checkpoint or full JSON
    replay, and the loud :func:`_verify_checkpoint_parts` refusal is
    reserved for the case where a partial set is all that remains."""
    out: dict[int, list[str]] = {}
    for v, paths in checkpoints.items():
        try:
            _verify_checkpoint_parts(v, paths)
        except GlueSparkError:
            continue
        out[v] = paths
    return out


#: Distributed-decode gate (r12): a checkpoint whose parts total at
#: least this many bytes is decoded EXECUTOR-side — ``spark.read
#: .parquet`` over the parts projected to the action columns, the
#: driver collecting only the compact per-file tuples — instead of
#: serial driver pyarrow, so a multi-GB checkpoint's decode
#: parallelizes across the cluster.  Below the threshold the driver
#: path stays (no Spark-job overhead for small tables).  Requires an
#: active SparkSession, no injected ``s3_client``, and stat-able part
#: sizes (local paths).
DISTRIBUTED_CHECKPOINT_MIN_BYTES = 64 * 1024 * 1024


def _checkpoint_total_bytes(paths: list[str]) -> int | None:
    """Total size of local checkpoint parts, or ``None`` when any
    path is non-local / un-stat-able (the gate then keeps the driver
    path — correctness never depends on the answer)."""
    import os

    total = 0
    for p in paths:
        if "://" in p:
            return None
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def _read_checkpoint_distributed(
    spark,
    paths: list[str],
    state: dict | None = None,
    keep_factory=None,
) -> dict:
    """:func:`_read_checkpoint` semantics with the parquet decode on
    the EXECUTORS: one ``spark.read.parquet`` over the parts,
    column-pruned to the action structs, collecting (Arrow-batched)
    only ``(path, partitionValues, deletionVector, stats)`` per add
    plus the handful of ``metaData``/``protocol``/``txn`` rows.  The
    protocol/DV gates run driver-side on the collected rows, exactly
    like the driver decoder, so refusals are identical.

    ``keep_factory`` (r13,
    :class:`glue_table_cache_spark.meta_prune._DeltaPruneFactory`) is
    invoked with the replay ``state`` AFTER the metaData rows are
    collected; when it yields a keep callable, the adds are filtered
    EXECUTOR-side before collection, so the driver holds only files
    the query's partition/stats predicates cannot disprove — the
    difference between collecting 10M adds and the one partition's
    worth.  A ``None`` keep (no predicate, column-mapped table, …)
    keeps the collect-everything path."""
    from pyspark.sql import functions as F

    state = state if state is not None else {}
    active: dict = {}
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    cols = set(df.columns)
    if "txn" in cols:
        for r in (
            df.where(F.col("txn.appId").isNotNull())
            .select("txn")
            .collect()
        ):
            t = r["txn"].asDict()
            state.setdefault("txns", {})[t["appId"]] = t.get(
                "version"
            )
    if "protocol" in cols:
        for r in (
            df.where(F.col("protocol.minReaderVersion").isNotNull())
            .select("protocol")
            .collect()
        ):
            proto = r["protocol"].asDict(recursive=True)
            _check_protocol(proto)
            state["protocol"] = proto
    if "metaData" in cols:
        for r in (
            df.where(F.col("metaData").isNotNull())
            .select("metaData")
            .collect()
        ):
            meta = r["metaData"].asDict(recursive=True)
            if meta.get("configuration") or meta.get("id"):
                state["metaData"] = meta
    if "add" in cols:
        add_fields = {
            f.name for f in df.schema["add"].dataType.fields
        }

        def _sub(name):
            if name in add_fields:
                return F.col(f"add.{name}").alias(name)
            return F.lit(None).alias(name)

        sel = df.where(F.col("add.path").isNotNull()).select(
            F.col("add.path").alias("path"),
            _sub("partitionValues"),
            _sub("deletionVector"),
            _sub("stats"),
        )
        keep = keep_factory(state) if keep_factory is not None else None
        if keep is not None:
            # tell the caching layer the collected set is
            # predicate-narrowed (keys the cache entry by predicate)
            keep_factory.applied = True
            # predicate pushdown into the decode: each executor batch
            # evaluates the SAME three-valued keep the driver prune
            # would (True/Unknown keep; only a proven False drops) and
            # ships one pickled blob of survivors — the driver never
            # materializes the pruned-away adds at all.  Entries that
            # would make the driver path refuse (unsupported DV shape)
            # are always kept so the refusal below still fires.
            import pickle

            def _filter(iterator):
                import pandas as pd

                for pdf in iterator:
                    out = []
                    for path, pv, dv, st in zip(
                        pdf["path"],
                        pdf["partitionValues"],
                        pdf["deletionVector"],
                        pdf["stats"],
                    ):
                        if isinstance(pv, list):
                            pv = dict(pv)
                        if dv is not None and not isinstance(dv, dict):
                            dv = None if dv != dv else dict(dv)
                        if st is not None and not isinstance(st, str):
                            st = None
                        if keep(path, pv, dv, st):
                            out.append((path, pv, dv, st))
                    yield pd.DataFrame(
                        {"blob": [pickle.dumps(out, protocol=4)]}
                    )

            for r in sel.mapInPandas(
                _filter, schema="blob binary"
            ).collect():
                for path, pv, dv, st in pickle.loads(
                    bytes(r["blob"])
                ):
                    _check_dv_supported(
                        {"path": path, "deletionVector": dv}
                    )
                    active[unquote(path)] = (pv or {}, dv, st)
            return active
        # toArrow, not collect(): the adds come back as Arrow columns
        # (same C++ materialization the driver pyarrow path uses) —
        # per-Row object creation at 10^5-10^6 adds would eat the
        # distributed decode's win; the decode itself is the shared
        # vectorized helper (see _decode_adds_arrow)
        tbl = sel.toArrow()
        _decode_adds_arrow(
            tbl.column("path"),
            tbl.column("partitionValues"),
            tbl.column("deletionVector"),
            tbl.column("stats"),
            active,
        )
    return active


def _decode_adds_arrow(path_arr, pv_arr, dv_arr, stats_arr, active) -> None:
    """Vectorized add-action decode shared by every checkpoint reader:
    fills ``active[path] = (partition_values, deletion_vector, stats)``
    from flat Arrow arrays.

    This replaces the per-row nested-struct ``to_pylist()`` + dict walk
    (guide §1: measured on the 300k-add fixture the old loop was 11.6 s
    of driver CPU, ~3.9 s of it pyarrow's per-row map→tuple-list
    conversion alone; this path is 1.4 s for the identical output).
    The partitionValues map converts through ``to_pandas(
    maps_as_pydicts=...)`` — the only pyarrow map→dict path that is
    C-level end to end — and the deletionVector storage-type gate runs
    as one vectorized ``is_in`` over the column, falling back to the
    exact per-row check (same error text) only when a DV could refuse."""
    import pyarrow as pa
    import pyarrow.compute as pc

    paths = path_arr.to_pylist()
    n = len(paths)
    if pv_arr is not None and pv_arr.null_count != n:
        pvs = pv_arr.to_pandas(maps_as_pydicts="lossy")
    else:
        pvs = None
    if dv_arr is not None and dv_arr.null_count != n:
        ok = pc.all(
            pc.or_kleene(
                pc.is_null(dv_arr),
                pc.is_in(
                    pc.struct_field(dv_arr, "storageType"),
                    value_set=pa.array(["u", "p", "i"]),
                ),
            ),
            min_count=0,
        ).as_py()
        dvs = dv_arr.to_pylist()
        if ok is not True:
            for path, dv in zip(paths, dvs):
                _check_dv_supported(
                    {"path": path, "deletionVector": dv}
                )
    else:
        dvs = None
    sts = (
        stats_arr.to_pylist()
        if stats_arr is not None and stats_arr.null_count != n
        else None
    )
    for i, path in enumerate(paths):
        if "%" in path:
            path = unquote(path)
        pv = pvs[i] if pvs is not None else None
        active[path] = (
            pv if pv else {},
            dvs[i] if dvs is not None else None,
            sts[i] if sts is not None else None,
        )


def _decode_add_struct(add_col, active) -> None:
    """:func:`_decode_adds_arrow` over a checkpoint's ``add`` struct
    column (rows for other actions are null — filtered out first)."""
    import pyarrow.compute as pc

    mask = pc.is_valid(pc.struct_field(add_col, "path"))
    f = add_col.filter(mask)
    fields = {fld.name for fld in f.type}
    _decode_adds_arrow(
        pc.struct_field(f, "path"),
        pc.struct_field(f, "partitionValues")
        if "partitionValues" in fields
        else None,
        pc.struct_field(f, "deletionVector")
        if "deletionVector" in fields
        else None,
        pc.struct_field(f, "stats") if "stats" in fields else None,
        active,
    )


def _read_checkpoint(
    paths: list[str], s3_client=None, state: dict | None = None
) -> dict:
    """Active adds from a (possibly multi-part) checkpoint parquet.
    A checkpoint row holds at most one action; only ``add`` rows carry
    live files (``remove`` rows are expired-tombstone bookkeeping) —
    but ``metaData`` / ``protocol`` rows carry the SAME reader gates
    the JSON replay enforces, and after log cleanup the checkpoint may
    be the only place they live, so they are read and tracked too."""
    import io

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    state = state if state is not None else {}
    active: dict = {}
    for p in paths:
        pf = pq.ParquetFile(io.BytesIO(_read_bytes(p, s3_client)))
        want = [
            c
            for c in ("add", "metaData", "protocol", "txn")
            if c in pf.schema_arrow.names
        ]
        # `stats` rides inside the add struct; nothing extra to project
        table = pf.read(columns=want)
        # metaData/protocol/txn are a handful of rows in a sea of
        # nulls: drop_null first so to_pylist materializes only them
        if "txn" in want:
            for t in pc.drop_null(table.column("txn")).to_pylist():
                if t.get("appId") is not None:
                    state.setdefault("txns", {})[t["appId"]] = t.get(
                        "version"
                    )
        if "protocol" in want:
            for proto in pc.drop_null(
                table.column("protocol")
            ).to_pylist():
                if proto.get("minReaderVersion") is not None:
                    _check_protocol(proto)
                    state["protocol"] = proto
        if "metaData" in want:
            for meta in pc.drop_null(
                table.column("metaData")
            ).to_pylist():
                if meta.get("configuration") or meta.get("id"):
                    state["metaData"] = meta
        if "add" in want:
            _decode_add_struct(table.column("add"), active)
    return active


def _read_checkpoint_v2(
    manifest_path: str,
    location: str,
    s3_client=None,
    state: dict | None = None,
) -> dict:
    """Active adds from a v2 (uuid-named) checkpoint: the manifest
    (JSON-lines or parquet) carries ``metaData`` / ``protocol`` /
    ``checkpointMetadata`` plus ``sidecar`` actions pointing at
    ``_delta_log/_sidecars/*.parquet`` files that hold the file
    actions.  ``remove`` rows are expired-tombstone bookkeeping, same
    as v1.  A sidecar named by the manifest but unreadable raises —
    silently skipping it would drop live files."""
    import io

    import pyarrow.parquet as pq

    state = state if state is not None else {}
    active: dict = {}
    sidecars: list[str] = []

    def handle(action: dict) -> None:
        if action.get("sidecar"):
            sidecars.append(action["sidecar"]["path"])
        elif action.get("protocol"):
            _check_protocol(action["protocol"])
        elif action.get("metaData"):
            state["metaData"] = action["metaData"]
        elif action.get("txn"):
            t = action["txn"]
            if t.get("appId") is not None:
                state.setdefault("txns", {})[t["appId"]] = t.get(
                    "version"
                )
        elif action.get("add"):
            a = action["add"]
            _check_dv_supported(a)
            pv = a.get("partitionValues") or {}
            if isinstance(pv, list):
                pv = dict(pv)
            active[unquote(a["path"])] = (
                pv,
                a.get("deletionVector"),
                a.get("stats"),
            )

    if manifest_path.endswith(".json"):
        for line in _read_bytes(manifest_path, s3_client).splitlines():
            line = line.strip()
            if line:
                handle(json.loads(line))
    else:
        pf = pq.ParquetFile(
            io.BytesIO(_read_bytes(manifest_path, s3_client))
        )
        want = [
            c
            for c in ("add", "metaData", "protocol", "sidecar", "txn")
            if c in pf.schema_arrow.names
        ]
        table = pf.read(columns=want)
        for c in want:
            for rec in table.column(c).to_pylist():
                if rec and (
                    rec.get("path")
                    or rec.get("minReaderVersion") is not None
                    or rec.get("configuration")
                    or rec.get("id")
                    or rec.get("appId") is not None
                ):
                    handle({c: rec})
    sidecar_dir = posixpath.join(
        location.rstrip("/"), "_delta_log", "_sidecars"
    )
    for name in sidecars:
        path = (
            name
            if "://" in name or name.startswith("/")
            else posixpath.join(sidecar_dir, name)
        )
        try:
            raw = _read_bytes(path, s3_client)
        except Exception as exc:  # noqa: BLE001
            raise GlueSparkError(
                f"Delta v2 checkpoint {manifest_path!r} names sidecar "
                f"{name!r} which cannot be read ({exc}) — refusing to "
                "reconstruct a partial active-file set"
            ) from exc
        pf = pq.ParquetFile(io.BytesIO(raw))
        if "add" not in pf.schema_arrow.names:
            continue
        # vectorized decode (same path as v1 checkpoints)
        _decode_add_struct(
            pf.read(columns=["add"]).column("add"), active
        )
    return active


def _commit_timestamp(path: str, s3_client=None) -> int | None:
    """The commit's ``commitInfo.timestamp`` (ms), or None when the
    writer emitted no commitInfo action."""
    for line in _read_bytes(path, s3_client).splitlines():
        line = line.strip()
        if not line:
            continue
        action = json.loads(line)
        if action.get("commitInfo"):
            ts = action["commitInfo"].get("timestamp")
            return int(ts) if ts is not None else None
    return None


def _replay(
    location: str,
    version_offset: int = 0,
    s3_client=None,
    fs=None,
    as_of_timestamp_ms: int | None = None,
    prune_factory=None,
) -> tuple[dict, dict]:
    """Reconstruct ``(active_files, table_state)`` at the target
    version: checkpoint bootstrap + JSON commit tail.  ``table_state``
    carries the latest ``metaData`` action (schema, configuration);
    protocol gates are enforced during the walk.

    ``as_of_timestamp_ms`` picks the newest version whose
    ``commitInfo.timestamp`` is at or before the instant (timestamp
    travel) — mutually exclusive with ``version_offset``; commits
    lacking commitInfo, or an instant predating the retained log,
    refuse rather than guess."""
    names = _log_files(location, fs=fs)
    commits: dict[int, str] = {}
    checkpoints: dict[int, list[str]] = {}
    v2cps: dict[int, list[str]] = {}
    for p in names:
        m = _COMMIT_RE.search(p)
        if m:
            commits[int(m.group(1))] = p
            continue
        m = _CHECKPOINT_RE.search(p)
        if m:
            checkpoints.setdefault(int(m.group(1)), []).append(p)
            continue
        m = _CHECKPOINT_V2_RE.search(p)
        if m:
            v2cps.setdefault(int(m.group(1)), []).append(p)
    if not commits and not checkpoints and not v2cps:
        raise GlueSparkError(
            f"No Delta log found under {location!r}/_delta_log"
        )
    # cross-check the writer's _last_checkpoint pointer (listed
    # nowhere: it is `_`-prefixed, which data listers rightly hide —
    # read it directly; absence is normal): an advertised checkpoint
    # the listing missed, or a parts count the listed files
    # contradict, means the listing cannot be trusted for
    # reconstruction — raise rather than silently fall back to an
    # older/partial state
    lc_path = posixpath.join(
        location.rstrip("/"), "_delta_log", "_last_checkpoint"
    )
    try:
        raw = _read_bytes(lc_path, s3_client)
    except Exception:  # noqa: BLE001 - absent pointer is the normal case
        raw = None
    if raw:
        info = json.loads(raw)
        v = info.get("version")
        if v is not None:
            if v not in checkpoints and v not in v2cps:
                raise GlueSparkError(
                    f"_last_checkpoint advertises checkpoint version "
                    f"{v} for {location!r} but the listing has no "
                    "checkpoint files for it — inconsistent listing"
                )
            if (
                info.get("parts")
                and v in checkpoints
                and len(checkpoints[v]) != info["parts"]
            ):
                raise GlueSparkError(
                    f"_last_checkpoint says checkpoint {v} has "
                    f"{info['parts']} part(s) but the listing found "
                    f"{len(checkpoints[v])} for {location!r}"
                )
    latest = max([*commits, *checkpoints, *v2cps])
    if as_of_timestamp_ms is not None:
        if version_offset:
            raise GlueSparkError(
                "version_offset and as_of_timestamp_ms are mutually "
                "exclusive"
            )
        target = None
        for v in sorted(commits):
            ts = _commit_timestamp(commits[v], s3_client)
            if ts is None:
                raise GlueSparkError(
                    f"Delta commit {v} of {location!r} carries no "
                    "commitInfo timestamp — timestamp travel needs "
                    "the writer's commitInfo actions"
                )
            if ts <= as_of_timestamp_ms:
                target = v
            else:
                break
        if target is None:
            raise GlueSparkError(
                f"No Delta version of {location!r} exists at or "
                f"before timestamp {as_of_timestamp_ms} in the "
                "retained log"
            )
    else:
        target = latest - version_offset
    if target < 0:
        raise GlueSparkError(
            f"version_offset={version_offset} exceeds available versions "
            f"({latest + 1}) for {location!r}"
        )

    active: dict = {}
    state: dict = {}
    start = 0
    cp_complete = _complete_checkpoints(checkpoints)
    cp_versions = [
        v for v in {*cp_complete, *v2cps} if v <= target
    ]
    if cp_versions:
        cp = max(cp_versions)
        if cp in v2cps:
            # prefer the v2 manifest when both forms exist at the same
            # version (either is complete; v2 is what newer writers
            # treat as authoritative).  Multiple uuid manifests at one
            # version are equivalent per the protocol — read one
            # deterministically.
            active = _read_checkpoint_v2(
                sorted(v2cps[cp])[-1], location, s3_client, state
            )
        else:
            cp_paths = _verify_checkpoint_parts(cp, checkpoints[cp])
            spark_sess = None
            if s3_client is None:
                from pyspark.sql import SparkSession

                spark_sess = SparkSession.getActiveSession()
            size = (
                _checkpoint_total_bytes(cp_paths)
                if spark_sess is not None
                else None
            )
            if (
                size is not None
                and size >= DISTRIBUTED_CHECKPOINT_MIN_BYTES
            ):
                active = _read_checkpoint_distributed(
                    spark_sess, cp_paths, state,
                    keep_factory=prune_factory,
                )
            else:
                active = _read_checkpoint(cp_paths, s3_client, state)
        start = cp + 1
    for v in range(start, target + 1):
        if v not in commits:
            # if an incomplete (crashed multi-part) checkpoint is the
            # only thing that could have covered this gap, diagnose
            # THAT — its part-set refusal names the real corruption
            for cv in sorted(checkpoints):
                if v <= cv <= target and cv not in cp_complete:
                    _verify_checkpoint_parts(cv, checkpoints[cv])
            raise GlueSparkError(
                f"Delta log for {location!r} is missing commit {v} "
                f"(target version {target}, no covering checkpoint)"
            )
        for line in _read_bytes(commits[v], s3_client).splitlines():
            line = line.strip()
            if line:
                _apply_action(active, json.loads(line), state)
    if (
        prune_factory is not None
        and getattr(prune_factory, "applied", False)
        and getattr(prune_factory, "gate_basis", None) is not None
    ):
        from glue_table_cache_spark.meta_prune import delta_gate_basis

        if (
            delta_gate_basis(state.get("metaData"))
            != prune_factory.gate_basis
        ):
            # a JSON commit AFTER the checkpoint changed the
            # column-mapping mode / schemaString / partitionColumns
            # the executor-side keep was gated on (ADVICE r13): the
            # pruned set may be wrong for the FINAL state — redo the
            # whole walk unpruned (rare: requires a metadata change
            # racing the scan within one checkpoint interval)
            prune_factory.applied = False
            return _replay(
                location,
                version_offset,
                s3_client,
                fs,
                as_of_timestamp_ms,
                prune_factory=None,
            )
    return active, state


def logical_schema(meta: dict | None):
    """The table's logical schema as a Spark ``StructType`` from the
    metaData action's ``schemaString`` (``None`` when absent).  This
    is the AUTHORITATIVE scan schema for an evolved table: a file
    written before a column was added simply lacks it, and reading
    with the log schema surfaces nulls there — reading with
    whatever-the-first-file-has drops or misorders evolved columns
    depending on scan order, which is exactly the nondeterminism the
    log schema exists to prevent."""
    ss = (meta or {}).get("schemaString")
    if not ss:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(ss))


def delta_scan_info(
    location: str,
    version_offset: int = 0,
    s3_client=None,
    fs=None,
    as_of_timestamp_ms: int | None = None,
    with_schema: bool = False,
    with_stats: bool = False,
    with_partition_fields: bool = False,
    with_protocol: bool = False,
    allow_nested_mapping: bool = False,
    with_physical_schema: bool = False,
    prune_factory=None,
) -> tuple:
    """Everything a correct raw-parquet scan needs:
    ``(entries, renames)`` where ``entries`` are ``(path,
    partition_values, deletion_vector_or_None)`` triples (with
    ``with_stats=True``, 4-tuples whose last element is the add
    action's raw ``stats`` JSON string or ``None`` — feed it to
    :func:`glue_table_cache_spark.skipping.delta_file_stats` for
    zone-map file skipping) and
    ``renames`` is the physical→logical column map for column-mapped
    tables (``None`` when unmapped).  Feed the scan through
    :func:`apply_deletion_vectors` first (it needs ``_metadata``,
    which a rename projection drops), then
    :func:`apply_column_mapping`.

    ``with_partition_fields=True`` appends (last) the
    :func:`generated_partition_fields` list — the transform-aware
    pruning input covering partitionColumns and
    ``delta.generationExpression`` mappings.

    ``with_schema=True`` appends the log's logical schema
    (:func:`logical_schema`) as a third element — pass it to the
    reader for evolved tables (only when ``renames`` is None: a
    column-mapped table's files carry PHYSICAL names, so the logical
    schema must be applied after the rename projection, not at the
    scan).

    ``prune_factory`` (r13,
    :func:`glue_table_cache_spark.meta_prune.delta_prune_factory`)
    pushes the query's partition/stats predicates INTO the distributed
    checkpoint decode, so above the distribution gate the returned
    ``entries`` hold only files the predicates cannot disprove — the
    driver never materializes the rest.  Callers that need the FULL
    active set (CDF, DML, OPTIMIZE) must not pass one."""
    active, state = _replay(
        location, version_offset, s3_client, fs, as_of_timestamp_ms,
        prune_factory=prune_factory,
    )
    renames = column_mapping_renames(
        state.get("metaData"), allow_nested=allow_nested_mapping
    )
    _res = _path_resolver(location)
    if with_stats:
        entries = [
            (_res(p), active[p][0], active[p][1], active[p][2])
            for p in sorted(active)
        ]
    else:
        entries = [
            (_res(p), active[p][0], active[p][1])
            for p in sorted(active)
        ]
    out: tuple = (entries, renames)
    if with_schema:
        out = out + (logical_schema(state.get("metaData")),)
    if with_partition_fields:
        out = out + (
            generated_partition_fields(state.get("metaData")),
        )
    if with_protocol:
        # latest protocol action seen in replay (``None`` only for a
        # log that never wrote one) — writers union-upgrade from it
        out = out + (state.get("protocol"),)
    if with_physical_schema:
        out = out + (physical_schema(state.get("metaData")),)
    return out


def generated_partition_fields(meta: dict | None) -> list[dict]:
    """Partition fields for TRANSFORM-AWARE pruning, in the same
    ``[{"name", "transform", "source"}]`` dialect the Iceberg
    partition spec produces: every ``metaData.partitionColumns`` entry
    yields an IDENTITY field (so log-metadata pruning works even when
    the catalog registered no partition keys — the common shape for
    Delta entries in Glue), and a partition column whose schemaString
    metadata carries ``delta.generationExpression`` additionally maps
    predicates on the SOURCE column through the expression (the
    protocol's generated-columns partition-filter optimization):

    * ``CAST(x AS DATE)`` / ``DATE(x)`` → monotone date string;
    * ``YEAR(x)`` → monotone int; ``MONTH/DAY/HOUR(x)`` →
      equality-only ints (not monotone in ``x``);
    * ``DATE_FORMAT(x, 'yyyy[-MM[-dd[ HH]]]')`` → monotone string
      (whitelisted most-significant-first formats only);
    * ``DATE_TRUNC('YEAR|MONTH|DAY|HOUR', x)`` → monotone timestamp
      string.

    Unrecognized expressions contribute nothing (pruning just loses
    that column, never soundness)."""
    if not meta:
        return []
    pcols = meta.get("partitionColumns") or []
    if not pcols:
        return []
    try:
        schema = json.loads(meta.get("schemaString") or "{}")
    except ValueError:
        schema = {}
    by_name = {
        f.get("name"): f for f in schema.get("fields", []) or []
    }
    import re as _re

    col = r"`?(\w+)`?"
    patterns = [
        (rf"CAST\s*\(\s*{col}\s+AS\s+DATE\s*\)", "gen_cast_date"),
        (rf"DATE\s*\(\s*{col}\s*\)", "gen_cast_date"),
        (rf"YEAR\s*\(\s*{col}\s*\)", "gen_year"),
        (rf"MONTH\s*\(\s*{col}\s*\)", "gen_month"),
        (rf"(?:DAY|DAYOFMONTH)\s*\(\s*{col}\s*\)", "gen_day"),
        (rf"HOUR\s*\(\s*{col}\s*\)", "gen_hour"),
    ]
    out: list[dict] = []
    for c in pcols:
        f = by_name.get(c) or {}
        expr = (f.get("metadata") or {}).get(
            "delta.generationExpression"
        )
        if not expr:
            out.append(
                {"name": c, "transform": "identity", "source": c}
            )
            continue
        e = expr.strip()
        kind = src = None
        for pat, k in patterns:
            m = _re.fullmatch(pat, e, _re.IGNORECASE)
            if m:
                kind, src = k, m.group(1)
                break
        if kind is None:
            m = _re.fullmatch(
                rf"DATE_FORMAT\s*\(\s*{col}\s*,\s*'([^']+)'\s*\)",
                e,
                _re.IGNORECASE,
            )
            if m:
                from glue_table_cache_spark.sources.iceberg_partitioning import (  # noqa: E501
                    _JAVA_FORMATS,
                )

                if m.group(2) in _JAVA_FORMATS:
                    kind, src = f"gen_format[{m.group(2)}]", m.group(1)
        if kind is None:
            m = _re.fullmatch(
                rf"DATE_TRUNC\s*\(\s*'(YEAR|MONTH|DAY|HOUR)'\s*,"
                rf"\s*{col}\s*\)",
                e,
                _re.IGNORECASE,
            )
            if m:
                kind = f"gen_trunc[{m.group(1).lower()}]"
                src = m.group(2)
        if kind is not None:
            out.append({"name": c, "transform": kind, "source": src})
        # unrecognized generation expression: the GENERATED column
        # itself still prunes identically (its value is materialized
        # in partitionValues), so keep the identity mapping
        out.append({"name": c, "transform": "identity", "source": c})
    # dedupe (a generated column contributes both its expression
    # mapping and its own identity)
    seen = set()
    uniq = []
    for f in out:
        key = (f["name"], f["transform"], f["source"])
        if key not in seen:
            seen.add(key)
            uniq.append(f)
    return uniq


def has_complex_type(dt) -> bool:
    """True when a Spark type contains a struct at any depth — the
    types whose positional cast performs the nested rename in BOTH
    column-mapping directions (:func:`apply_column_mapping` reading,
    ``sinks.delta_cdc.to_physical`` writing)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, StructType):
        return True
    if isinstance(dt, ArrayType):
        return has_complex_type(dt.elementType)
    if isinstance(dt, MapType):
        return has_complex_type(dt.keyType) or has_complex_type(
            dt.valueType
        )
    return False


def apply_column_mapping(
    df, renames: dict[str, str] | None, logical_schema=None
):
    """Project a column-mapped scan back to its logical schema.
    Partition columns surfaced from ``basePath`` parsing keep their
    directory names and pass through unmapped.

    With ``logical_schema`` (the log's logical ``StructType``),
    NESTED mappings resolve too: each complex column casts to its
    logical type — Spark's struct cast matches fields POSITIONALLY,
    which renames every nested physical field in one expression
    (column mapping preserves field order and never changes types,
    so the cast is a pure rename at every level, arrays and maps
    included) — and the TOP-LEVEL columns come back in the logical
    schema's order (r14): the file order puts basePath partition
    columns last, but the Delta contract (and positional INSERT)
    binds to schemaString order, exactly what unmapped scans already
    present.  Caller-added helper columns (``__f``/``__p`` tags)
    keep their values and follow after the schema columns."""
    from pyspark.sql import functions as F

    if not renames:
        return df

    complex_ = has_complex_type

    logical_types = (
        {f.name: f.dataType for f in logical_schema.fields}
        if logical_schema is not None
        else {}
    )
    out = []
    for c in df.columns:
        tgt = renames.get(c, c)
        if (
            logical_schema is not None
            and c not in renames
            and tgt not in logical_types
        ):
            # physically present but logically absent = a DROPPED
            # column (the mapping projection must not resurrect it);
            # basePath partition columns stay — they ARE in the
            # logical schema
            continue
        col = F.col(c)
        lt = logical_types.get(tgt)
        if lt is not None and complex_(lt):
            col = col.cast(lt)
        out.append((tgt, col.alias(tgt)))
    if logical_schema is not None:
        order = {
            f.name: i for i, f in enumerate(logical_schema.fields)
        }
        out.sort(key=lambda t: order.get(t[0], len(order)))
    return df.select(*[c for _n, c in out])


def delta_data_files(
    location: str,
    version_offset: int = 0,
    s3_client=None,
    fs=None,
    with_partition_values: bool = False,
    with_deletion_vectors: bool = False,
    as_of_timestamp_ms: int | None = None,
) -> list[str] | list[tuple[str, dict]] | list[tuple[str, dict, dict]]:
    """Data-file paths of the (``version_offset``-stepped-back) current
    version of the Delta table at ``location``.

    ``with_deletion_vectors=True`` returns ``(path, partition_values,
    deletion_vector_or_None)`` triples — callers that scan raw parquet
    MUST either request this and pass the triples through
    :func:`apply_deletion_vectors`, or tolerate resurrected rows; the
    default modes raise if any live file carries a DV, so no caller
    silently reads deleted rows back.

    ``s3_client`` / ``fs`` are injectable so the S3 metadata path is
    testable without AWS (stub client + stub lister), exactly like the
    Iceberg reader."""
    active, state = _replay(
        location, version_offset, s3_client, fs, as_of_timestamp_ms
    )
    if _mapping_mode(state.get("metaData")) != "none":
        # with id/name column mapping the parquet files carry physical
        # column names — a raw read would surface col-<uuid> columns
        # instead of the logical schema.  delta_scan_info() +
        # apply_column_mapping() is the supported path.
        raise GlueSparkError(
            "Delta column mapping mode "
            f"{_mapping_mode(state.get('metaData'))!r} needs the "
            "rename map — use delta_scan_info() + "
            "apply_column_mapping() instead of the raw path list"
        )
    paths = sorted(active)
    _res = _path_resolver(location)
    if with_deletion_vectors:
        return [
            (_res(p), active[p][0], active[p][1])
            for p in paths
        ]
    carrying = [p for p in paths if active[p][1]]
    if carrying:
        raise GlueSparkError(
            f"{len(carrying)} live Delta file(s) carry deletion "
            f"vectors (e.g. {carrying[0]!r}); call with "
            "with_deletion_vectors=True and apply_deletion_vectors(), "
            "or purge them (REORG TABLE ... APPLY (PURGE)) — a raw "
            "path scan would resurrect deleted rows"
        )
    if with_partition_values:
        return [(_res(p), active[p][0]) for p in paths]
    return [_res(p) for p in paths]


def delta_changes(
    location: str,
    since_version: int,
    s3_client=None,
    fs=None,
) -> tuple[int, list[str], list[str]]:
    """File-level incremental feed: ``(latest_version, added, removed)``
    across commits ``(since_version, latest]`` — the "process only new
    data" primitive for incremental training-data ingestion (a consumer
    remembers ``latest_version`` and feeds only ``added`` to the next
    pipeline run; no checkpoint needed because only the delta commits
    are replayed, never full state).

    A file both added and removed inside the window cancels out; a
    removal of a pre-window file is reported in ``removed``.  Raises if
    a commit in the window is missing (cleaned logs past the retention
    window cannot produce a correct increment — re-bootstrap from
    :func:`delta_data_files` instead)."""
    names = _log_files(location, fs=fs)
    commits: dict[int, str] = {}
    for p in names:
        m = _COMMIT_RE.search(p)
        if m:
            commits[int(m.group(1))] = p
    if not commits:
        raise GlueSparkError(
            f"No Delta log found under {location!r}/_delta_log"
        )
    latest = max(commits)
    if since_version > latest:
        raise GlueSparkError(
            f"since_version={since_version} is ahead of the log "
            f"(latest {latest}) for {location!r}"
        )
    added: dict[str, dict] = {}
    removed: set[str] = set()
    for v in range(since_version + 1, latest + 1):
        if v not in commits:
            raise GlueSparkError(
                f"Delta log for {location!r} is missing commit {v}; "
                "the increment window is not reconstructible — "
                "re-bootstrap from delta_data_files()"
            )
        for line in _read_bytes(commits[v], s3_client).splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if action.get("add"):
                a = action["add"]
                # a DV'd re-add reports the file as "added": its
                # effective content changed, consumers must re-process
                _check_dv_supported(a)
                path = unquote(a["path"])
                added[path] = a.get("partitionValues") or {}
                removed.discard(path)
            elif action.get("remove"):
                path = unquote(action["remove"]["path"])
                if path in added:
                    del added[path]  # added and removed inside window
                else:
                    removed.add(path)
    return (
        latest,
        [_resolve_path(location, p) for p in sorted(added)],
        [_resolve_path(location, p) for p in sorted(removed)],
    )


def delta_cdf(
    spark,
    location: str,
    since_version: int,
    s3_client=None,
    fs=None,
):
    """Row-level Change Data Feed over commits ``(since_version,
    latest]``: a DataFrame of the table's data columns plus
    ``_change_type`` (insert / delete / update_preimage /
    update_postimage) and ``_commit_version`` — the row-granular
    "process only what changed" primitive (the file-level
    :func:`delta_changes` tells you WHICH files, this tells you WHICH
    ROWS).

    Per the public CDF protocol: a commit that wrote ``cdc`` actions
    (writers with ``delta.enableChangeDataFeed=true`` route
    updates/deletes through ``_change_data/`` files carrying
    ``_change_type``) is represented by EXACTLY those files — its
    add/remove actions are storage bookkeeping for the same rows.  A
    commit without ``cdc`` actions synthesizes: ``add`` files with
    ``dataChange`` are inserts, ``remove`` files with ``dataChange``
    are deletes (their content is still on disk until vacuum; a
    vacuumed remove fails loudly at read, never silently).  A
    no-``cdc`` commit that attaches deletion vectors refuses — the
    changed-row set is the DV delta, which only the writer's CDC
    output represents faithfully.

    All reads are distributed parquet scans; the driver touches only
    the commit JSONs (metadata-scale)."""
    from pyspark.sql import functions as F

    names = _log_files(location, fs=fs)
    commits: dict[int, str] = {}
    for p in names:
        m = _COMMIT_RE.search(p)
        if m:
            commits[int(m.group(1))] = p
    if not commits:
        raise GlueSparkError(
            f"No Delta log found under {location!r}/_delta_log"
        )
    latest = max(commits)
    if since_version > latest:
        raise GlueSparkError(
            f"since_version={since_version} is ahead of the log "
            f"(latest {latest}) for {location!r}"
        )
    _active, state = _replay(location, 0, s3_client, fs)
    # column-mapped tables: data AND cdc files carry PHYSICAL names
    # (the writers project through to_physical); map every piece back
    # through the CURRENT metadata so historical changes surface
    # under the latest logical schema — files written before the
    # mapping upgrade resolve too, because the upgrade pins each
    # physical name to the then-current spelling
    renames = column_mapping_renames(
        state.get("metaData"), allow_nested=True
    )
    lschema = logical_schema(state.get("metaData"))
    ltypes = (
        {f.name: f.dataType for f in lschema.fields}
        if lschema is not None
        else {}
    )

    def _map(df):
        if renames is not None:
            aug = dict(renames)
            for c in ("_change_type", "_commit_version"):
                if c in df.columns:
                    aug[c] = c
            df = apply_column_mapping(df, aug, lschema)
        if ltypes:
            # align to the log's logical types: synthesized pieces
            # read partition columns from hive directories (string
            # inference) while cdc pieces carry them typed — one
            # cast keeps unionByName and the output schema coherent
            df = df.select(
                *[
                    F.col(c).cast(ltypes[c]).alias(c)
                    if c in ltypes
                    else F.col(c)
                    for c in df.columns
                ]
            )
        return df

    def _read(paths):
        # hive-partition columns attach on the synthesized
        # add/remove scans (cdc files materialize them); a shallow
        # clone's mixed-root active set reads per partition root
        df = read_parquet_files(spark, location, paths)
        return (
            df.drop("_metadata")
            if "_metadata" in df.columns
            else df
        )

    pieces = []
    for v in range(since_version + 1, latest + 1):
        if v not in commits:
            raise GlueSparkError(
                f"Delta log for {location!r} is missing commit {v}; "
                "the change window is not reconstructible"
            )
        cdc_paths: list[str] = []
        adds: list[str] = []
        removes: list[str] = []
        dv_attached = False
        for line in _read_bytes(commits[v], s3_client).splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if action.get("cdc"):
                cdc_paths.append(
                    _resolve_path(
                        location, unquote(action["cdc"]["path"])
                    )
                )
            elif action.get("add"):
                a = action["add"]
                # a DV (re-)add changes rows whatever its dataChange
                # flag says — only the writer's CDC output represents
                # that delta faithfully
                if a.get("deletionVector"):
                    dv_attached = True
                if a.get("dataChange", True):
                    adds.append(_resolve_path(
                        location, unquote(a["path"])
                    ))
            elif action.get("remove"):
                r = action["remove"]
                # a retired file that CARRIED a DV has live rows =
                # file minus positions — not reconstructible from the
                # log; only the writer's cdc output represents it
                if r.get("deletionVector"):
                    dv_attached = True
                if r.get("dataChange", True):
                    removes.append(
                        _resolve_path(location, unquote(r["path"]))
                    )
        if cdc_paths:
            pieces.append(
                _map(spark.read.parquet(*cdc_paths))
                .withColumn("_commit_version", F.lit(v))
            )
            continue
        if dv_attached:
            raise GlueSparkError(
                f"Delta commit {v} of {location!r} attaches deletion "
                "vectors without cdc actions — the changed-row set is "
                "not reconstructible from the log alone; enable "
                "delta.enableChangeDataFeed on the writer"
            )
        if adds:
            pieces.append(
                _map(_read(adds))
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v))
            )
        if removes:
            pieces.append(
                _map(_read(removes))
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", F.lit(v))
            )
    if not pieces:
        return spark.range(0).select(
            F.lit("").alias("_change_type"),
            F.lit(0).alias("_commit_version"),
        ).limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def hadoop_uri_encode(path: str) -> str:
    """The byte-level spelling Hadoop's ``Path.toUri`` gives a local
    path — what Spark's ``_metadata.file_path`` reports: ``%`` →
    ``%25`` and space → ``%20``; everything else (``+ ( ) ~ $ = :``)
    stays literal (verified empirically against Spark 4.1).  Apply to
    ON-DISK paths before comparing/joining them against
    ``_metadata``-derived strings — a hive-escaped directory like
    ``p=a%3Ab`` reports as ``p=a%253Ab``.  Non-ASCII characters
    (which hive's escapePathName does NOT escape, so they reach disk
    raw: ``p=café``) stay LITERAL too — verified empirically against
    Spark 4.1 (``_metadata.file_path`` uses the URI's ``toString``,
    not ``toASCIIString``); see
    test_hudi_non_ascii_partition_value_dml."""
    return path.replace("%", "%25").replace(" ", "%20")


def _path_uri(path: str) -> str:
    """The URI form Spark's ``_metadata.file_path`` reports for a scan
    path: local absolute paths gain the Hadoop-style single-slash
    ``file:`` scheme (``file:/a/b``) and the ``%``/space URI encoding
    (:func:`hadoop_uri_encode`); real URIs pass through."""
    return (
        path if "://" in path else "file:" + hadoop_uri_encode(path)
    )


def apply_deletion_vectors(
    df,
    entries: list[tuple[str, dict, dict | None]],
    location: str,
    s3_client=None,
    max_deleted_rows: int = 10_000_000,
):
    """Mask DV-deleted rows out of a raw parquet scan: anti-join on
    ``(_metadata.file_path, _metadata.row_index)`` against the decoded
    deletion sets.

    The DV blobs are metadata-scale and decoded driver-side; the
    resulting (file, position) frame is broadcast, so the scan itself
    neither shuffles nor re-reads.  ``max_deleted_rows`` bounds the
    driver-side materialization: a table carrying more deleted rows
    than that (cardinality summed from the descriptors, no decode
    needed) raises with a purge suggestion — at that scale the DV
    decode belongs in a distributed mapInPandas over the DV files,
    and rewriting (purging) the table is usually cheaper than
    carrying the mask.
    """
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.dv import dv_deleted_positions

    dvs = [(p, dv) for p, _pv, dv in entries if dv]
    if not dvs:
        return df
    total = sum(int(dv.get("cardinality") or 0) for _, dv in dvs)
    if total > max_deleted_rows:
        raise GlueSparkError(
            f"Delta table at {location!r} carries {total} DV-deleted "
            f"rows (cap {max_deleted_rows}); purge deletion vectors "
            "(REORG TABLE ... APPLY (PURGE)) or raise max_deleted_rows"
        )
    pairs = [
        (_path_uri(path), int(pos))
        for path, dv in dvs
        for pos in dv_deleted_positions(dv, location, s3_client)
    ]
    spark = df.sparkSession
    deleted = local_frame(
        spark,
        pairs, "__dv_file string, __dv_pos long"
    )
    return (
        df.withColumn("__dv_file", F.col("_metadata.file_path"))
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
        .join(F.broadcast(deleted), ["__dv_file", "__dv_pos"], "left_anti")
        .drop("__dv_file", "__dv_pos")
    )


def delta_last_txn_version(
    location: str, app_id: str, s3_client=None, fs=None
) -> int | None:
    """Latest committed ``txn`` (SetTransaction) version for
    ``app_id``, or ``None`` if the app never committed — the protocol's
    idempotence primitive for streaming writers: a batch whose version
    is ≤ this has already been published and must not commit again."""
    _active, state = _replay(location, s3_client=s3_client, fs=fs)
    return (state.get("txns") or {}).get(app_id)


def delta_table_configuration(
    location: str, s3_client=None, fs=None
) -> dict[str, str]:
    """The table's ``metaData.configuration`` map (``{}`` when unset)
    — the home of writer-enforced behavior gates: ``delta.appendOnly``
    and ``delta.constraints.<name>`` CHECK expressions."""
    _active, state = _replay(location, s3_client=s3_client, fs=fs)
    conf = (state.get("metaData") or {}).get("configuration") or {}
    if isinstance(conf, list):
        conf = dict(conf)
    return {str(k): str(v) for k, v in conf.items()}


def quote_log_path(path: str) -> str:
    """The string an add/remove/cdc action's ``path`` field must
    carry: percent-ENCODED per PROTOCOL.md ("the file ... encoded as
    a URL"), which every reader here decodes back via ``unquote``.
    ``/`` and ``=`` stay literal (directory separators and hive
    ``k=v`` keep the log human-readable, like the reference
    runtimes); the characters that matter are the literal ``%`` of a
    hive-escaped partition directory (``p=a%3Ab`` on disk must
    commit as ``p=a%253Ab`` or replay would resolve ``p=a:b``) and
    spaces."""
    if "://" in path:
        # an absolute URI add.path is already in encoded form per
        # the protocol; encoding its scheme colon would corrupt it
        return path
    return _quote(path, safe="/=")


def log_action_path(location: str, path: str) -> str:
    """The path string a remove action must carry to retire an add
    during replay: table-relative when the file lives under the table
    root (the normal case), else the absolute path unchanged — a
    SHALLOW CLONE's log adds the source's files by absolute path
    (PROTOCOL.md allows absolute ``add.path``), and the matching
    remove must repeat that exact string."""
    root = location.rstrip("/") + "/"
    p = str(path)
    if p.startswith(root):
        return p[len(root):]
    return p


def _partition_root(path: str) -> tuple[str, int]:
    """The directory above a file's hive-style ``k=v`` partition
    segments (the ``basePath`` that makes Spark surface exactly
    those segments as partition columns) and the segment count —
    files with DIFFERENT depths under the same root must scan
    separately: Spark's discovery silently drops a root-level file
    sitting next to k=v dirs."""
    import os.path as osp

    d = osp.dirname(path)
    depth = 0
    while True:
        seg = osp.basename(d)
        if "=" in seg and not seg.startswith("="):
            d = osp.dirname(d)
            depth += 1
        else:
            return d, depth


def read_parquet_files(spark, location: str, paths, schema=None):
    """Scan an explicit file list with hive-style partition dirs
    surfacing as partition columns.  The normal case is one read with
    the table root as ``basePath``; a SHALLOW CLONE's active set can
    span TWO roots (source-referenced absolute paths + the clone's
    own files), where a single widened basePath makes Spark's
    partition discovery refuse ("multiple root directories") — so
    files group by their partition root and the per-root scans
    union.  ``_metadata`` stays per-leaf-file correct through the
    union, so DV application downstream is unaffected."""
    paths = list(paths)
    root = location.rstrip("/") + "/"
    groups: dict[tuple[str, int], list[str]] = {}
    for p in paths:
        groups.setdefault(_partition_root(p), []).append(p)
    if not paths or (
        len(groups) == 1 and all(p.startswith(root) for p in paths)
    ):
        reader = spark.read.option("basePath", location)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)
    dfs = []
    for (r, _depth), ps in sorted(groups.items()):
        reader = spark.read.option("basePath", r)
        if schema is not None:
            reader = reader.schema(schema)
        # the hidden _metadata column does not survive a Union —
        # materialize it per group so DV application and file
        # tagging downstream still resolve _metadata.file_path /
        # row_index; consumers drop it before results surface (a
        # no-op drop in the single-root case above)
        dfs.append(reader.parquet(*ps).select("*", "_metadata"))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(
            d, allowMissingColumns=schema is None
        )
    return out


def delta_history(spark, location: str, s3_client=None, fs=None):
    """The retained commit history as a small DataFrame — the
    ``DESCRIBE HISTORY`` introspection surface (version, commitInfo
    timestamp/operation where present).  Only commits still in the
    log appear; checkpoint-covered cleaned versions are gone by
    definition of retention."""
    names = _log_files(location, fs=fs)
    rows = []
    for p in names:
        m = _COMMIT_RE.search(p)
        if not m:
            continue
        v = int(m.group(1))
        ts, op = None, None
        for line in _read_bytes(p, s3_client).splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if action.get("commitInfo"):
                ci = action["commitInfo"]
                ts = ci.get("timestamp")
                op = ci.get("operation")
                break
        rows.append((v, ts, op))
    if not rows:
        raise GlueSparkError(
            f"No Delta log found under {location!r}/_delta_log"
        )
    return local_frame(
        spark,
        sorted(rows),
        "version long, timestamp long, operation string",
    )


def delta_version_at_timestamp(
    location: str, ts_ms: int, s3_client=None, fs=None
) -> int:
    """The newest RETAINED version whose commitInfo timestamp is at
    or before ``ts_ms`` — the read-travel rule, exposed for
    ``RESTORE TABLE ... TO TIMESTAMP AS OF``."""
    names = _log_files(location, fs=fs)
    commits: dict[int, str] = {}
    for p in names:
        m = _COMMIT_RE.search(p)
        if m:
            commits[int(m.group(1))] = p
    if not commits:
        raise GlueSparkError(
            f"No Delta log found under {location!r}/_delta_log"
        )
    target = None
    for v in sorted(commits):
        ts = _commit_timestamp(commits[v], s3_client)
        if ts is None:
            raise GlueSparkError(
                f"Delta commit {v} of {location!r} carries no "
                "commitInfo timestamp — timestamp travel needs the "
                "writer's commitInfo actions"
            )
        if ts <= ts_ms:
            target = v
        else:
            break
    if target is None:
        raise GlueSparkError(
            f"No Delta version of {location!r} exists at or before "
            f"timestamp {ts_ms} in the retained log"
        )
    return target


def delta_version_at_or_after_timestamp(
    location: str, ts_ms: int, s3_client=None, fs=None
) -> int:
    """The OLDEST retained version whose commitInfo timestamp is at
    or after ``ts_ms`` — the CDF ``startingTimestamp`` rule (the
    public dialect errors when the timestamp is past the newest
    commit, and so does this)."""
    names = _log_files(location, fs=fs)
    commits: dict[int, str] = {}
    for p in names:
        m = _COMMIT_RE.search(p)
        if m:
            commits[int(m.group(1))] = p
    if not commits:
        raise GlueSparkError(
            f"No Delta log found under {location!r}/_delta_log"
        )
    for v in sorted(commits):
        ts = _commit_timestamp(commits[v], s3_client)
        if ts is None:
            raise GlueSparkError(
                f"Delta commit {v} of {location!r} carries no "
                "commitInfo timestamp — timestamp travel needs the "
                "writer's commitInfo actions"
            )
        if ts >= ts_ms:
            return v
    raise GlueSparkError(
        f"No Delta version of {location!r} exists at or after "
        f"timestamp {ts_ms} (newest commit predates it)"
    )
