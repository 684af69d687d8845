"""Which function implements a statement verb for each table format —
the write half of the engine's format seam.

The reference classifies a table once (its ``src/util/glue.ts:13-19``)
and dispatches once.  ``GlueSparkEngine`` does the same for its write
and metadata statements: :func:`for_format` looks the verb up in
:data:`VERBS` for the table's ``ETableType`` and returns the function,
which the engine calls with that function's own signature.  A verb
with no entry for the format refuses with the row's reason, naming the
verb and the format — one place instead of a ladder per verb.

Entries are ``"module:function"`` names below this package, imported
when a statement runs: importing the engine imports no sink, and a
test that monkeypatches a sink attribute still takes effect.

The per-format ``*_detail`` / ``*_properties`` readers at the bottom
back ``DESCRIBE DETAIL`` and ``SHOW TBLPROPERTIES`` (one reader per
format serves both).
"""

from __future__ import annotations

import importlib
import os
from typing import Callable, NamedTuple

from glue_table_cache_spark.catalog import ETableType
from glue_table_cache_spark.errors import GlueSparkError

DELTA, ICEBERG, HUDI = ETableType.DELTA, ETableType.ICEBERG, ETableType.HUDI

_NO_LOG = (
    "raw parquet has no transaction log to commit against; register "
    "the location as a DELTA/ICEBERG/HUDI table"
)
_NO_METADATA = (
    "raw parquet has no transaction metadata; register the location "
    "as a DELTA/ICEBERG/HUDI table"
)
_LOGICAL_COLUMNS = (
    "logical column changes need column mapping (Delta) or field-id "
    "resolution (Iceberg) — Hudi tracks columns by name in every "
    "base/log file; rewrite via CREATE TABLE AS"
)
_CONSTRAINTS = (
    "CHECK constraints live in the Delta configuration "
    "(delta.constraints.<name>)"
)
_REFS = "named snapshot refs are an Iceberg feature"

#: verb → (refusal reason, {format: "module:function"}).  A ``None``
#: reason means the engine answers the other formats itself
#: (``DESCRIBE DETAIL`` describes a raw listing from the listing).
VERBS: dict[str, tuple[str | None, dict[ETableType, str]]] = {
    # (df, location, overwrite= | partition_by=) → version
    "INSERT": (_NO_LOG, {
        DELTA: "sinks.delta_write:write_delta_append",
        ICEBERG: "sinks.iceberg_write:write_iceberg_append",
        HUDI: "sinks.hudi_write:write_hudi_append",
    }),
    # (spark, location, predicate) → (version, rows_deleted)
    "DELETE": (_NO_LOG, {
        DELTA: "sinks.delta_delete:delete_from_delta",
        ICEBERG: "sinks.iceberg_delete:delete_from_iceberg",
        HUDI: "sinks.hudi_log_write:delete_from_hudi",
    }),
    # (spark, location, predicate, set_exprs) → (version, rows_updated)
    "UPDATE": (_NO_LOG, {
        DELTA: "sinks.delta_merge:update_delta",
        ICEBERG: "sinks.iceberg_delete:update_iceberg",
        HUDI: "sinks.hudi_log_write:update_hudi",
    }),
    # the whole-row upsert pair: (spark, location, source, on)
    # → (version, rows_updated, rows_inserted)
    "MERGE ROWS": (_NO_LOG, {
        DELTA: "sinks.delta_merge:merge_into_delta",
        ICEBERG: "sinks.iceberg_delete:merge_into_iceberg",
        HUDI: "sinks.hudi_log_write:merge_into_hudi",
    }),
    # (spark, location, source, on, clauses)
    # → (version, rows_updated, rows_inserted, rows_deleted)
    "MERGE": (_NO_LOG, {
        DELTA: "sinks.delta_merge:merge_general_delta",
        ICEBERG: "sinks.iceberg_delete:merge_general_iceberg",
        HUDI: "sinks.hudi_log_write:merge_general_hudi",
    }),
    # (location, props, unset=) → version (Hudi: None)
    "SET TBLPROPERTIES": (
        "table properties live in each format's own metadata (Delta "
        "configuration / Iceberg properties / hoodie.properties)",
        {
            DELTA: "sinks.delta_write:set_delta_table_properties",
            ICEBERG: "sinks.iceberg_write:set_iceberg_table_properties",
            HUDI: "sinks.hudi_write:set_hudi_table_properties",
        },
    ),
    # (location, version) → version
    "RESTORE": (_NO_LOG, {
        DELTA: "sinks.delta_write:restore_delta",
        ICEBERG: "sinks.iceberg_write:rollback_iceberg",
        HUDI: "sinks.hudi_write:restore_hudi",
    }),
    # (location, ts_ms, fs=) → the version to restore
    "RESTORE TIMESTAMP AS OF": (
        "implemented for Delta (commitInfo timestamps are the travel "
        "authority); restore by VERSION AS OF",
        {DELTA: "sources.delta:delta_version_at_timestamp"},
    ),
    # (location, StructType) → version
    "ADD COLUMNS": (_NO_LOG, {
        DELTA: "sinks.delta_write:alter_delta_add_columns",
        ICEBERG: "sinks.iceberg_write:alter_iceberg_add_columns",
        HUDI: "sinks.hudi_write:alter_hudi_add_columns",
    }),
    # (location, name, new_name) → version
    "RENAME COLUMN": (_LOGICAL_COLUMNS, {
        DELTA: "sinks.delta_write:alter_delta_rename_column",
        ICEBERG: "sinks.iceberg_write:alter_iceberg_rename_column",
    }),
    # (location, name) → version
    "DROP COLUMN": (_LOGICAL_COLUMNS, {
        DELTA: "sinks.delta_write:alter_delta_drop_column",
        ICEBERG: "sinks.iceberg_write:alter_iceberg_drop_column",
    }),
    # (spark, location, zorder_by=) → version
    "OPTIMIZE": (
        "compaction of raw listings goes through "
        "sinks.compact.compact_parquet_dir",
        {
            DELTA: "sinks.delta_optimize:optimize_delta",
            ICEBERG: "sinks.iceberg_optimize:optimize_iceberg",
            HUDI: "sinks.hudi_optimize:optimize_hudi",
        },
    ),
    "OPTIMIZE WHERE": (
        "partition-scoped compaction is implemented for Delta only; "
        "run the unscoped OPTIMIZE",
        {DELTA: "sinks.delta_optimize:optimize_delta"},
    ),
    # (location, retention_hours=, dry_run=) → deletable paths
    "VACUUM": (
        "raw listings have no transaction log to derive the "
        "unreferenced set from",
        {
            DELTA: "sinks.delta_optimize:vacuum_delta",
            ICEBERG: "sinks.iceberg_optimize:remove_iceberg_orphans",
            HUDI: "sinks.hudi_optimize:clean_hudi",
        },
    ),
    # (spark, location, purge_only=True) → version
    "REORG": (
        "deletion vectors are a Delta feature",
        {DELTA: "sinks.delta_optimize:optimize_delta"},
    ),
    # (location, dry_run=) → (version, missing paths)
    "FSCK": (
        "implemented for Delta; Iceberg/Hudi repair by rewriting "
        "metadata with their own runtimes",
        {DELTA: "sinks.delta_optimize:fsck_delta"},
    ),
    # (spark, location, source_dir) → (version, files, rows)
    "COPY INTO": (
        "the per-file idempotence ledger rides the Delta log's "
        "SetTransaction state",
        {DELTA: "sinks.delta_write:copy_into_delta"},
    ),
    # (location, props, unset=) → version
    "CONSTRAINT": (_CONSTRAINTS, {
        DELTA: "sinks.delta_write:set_delta_table_properties",
    }),
    # (location, name, ref_type=, sequence_number=) → version
    "CREATE REF": (_REFS, {
        ICEBERG: "sinks.iceberg_write:create_iceberg_ref",
    }),
    # (location, name) → version
    "DROP REF": (_REFS, {ICEBERG: "sinks.iceberg_write:drop_iceberg_ref"}),
    # (src_location, dst_location, version=, deep=) → files
    "SHALLOW CLONE": (
        "shallow clone is a Delta verb",
        {DELTA: "sinks.delta_write:shallow_clone_delta"},
    ),
    # (spark, location, partition_keys) → None
    "CONVERT TO DELTA": (
        "only plain parquet (HIVE/UNPARTITIONED) tables convert",
        {
            ETableType.HIVE: "sinks.delta_write:convert_to_delta",
            ETableType.UNPARTITIONED: "sinks.delta_write:convert_to_delta",
        },
    ),
    # (spark, location, fs=) → DataFrame
    "DESCRIBE HISTORY": (_NO_METADATA, {
        DELTA: "sources.delta:delta_history",
        ICEBERG: "sources.iceberg:iceberg_history",
        HUDI: "sources.hudi:hudi_history",
    }),
    # (location, fs=) → {key: value}
    "SHOW TBLPROPERTIES": (_NO_METADATA, {
        DELTA: "sources.delta:delta_table_configuration",
        ICEBERG: "formats:iceberg_properties",
        HUDI: "formats:hudi_properties",
    }),
    # (location, fs=) → Detail
    "DESCRIBE DETAIL": (None, {
        DELTA: "formats:delta_detail",
        ICEBERG: "formats:iceberg_detail",
        HUDI: "formats:hudi_detail",
    }),
}


def for_format(
    verb: str, ttype: ETableType, qual: str, op: str | None = None
) -> Callable | None:
    """The function implementing ``verb`` for a ``ttype`` table.

    A format without an entry refuses with the verb's reason, naming
    ``op`` (the statement's own spelling, default ``verb``), ``qual``
    and the format; a verb whose reason is ``None`` returns ``None``
    instead, for the caller's own path."""
    reason, entries = VERBS[verb]
    entry = entries.get(ttype)
    if entry is None:
        if reason is None:
            return None
        raise GlueSparkError(
            f"{op or verb} {qual}: {reason} (the table is registered "
            f"as {ttype.name})"
        )
    module, _, name = entry.partition(":")
    return getattr(
        importlib.import_module(f"glue_table_cache_spark.{module}"), name
    )


class Detail(NamedTuple):
    """The format-owned facts of a ``DESCRIBE DETAIL`` row."""

    table_id: str | None
    created_ms: int | None
    partition_columns: list[str]
    files: list[str]
    properties: dict[str, str]


def _string_map(m) -> dict[str, str]:
    return {str(k): str(v) for k, v in (m or {}).items()}


def _iceberg_metadata(location: str, fs=None) -> dict:
    """The newest metadata JSON (highest ``last-sequence-number``)."""
    from glue_table_cache_spark.sources.iceberg import (
        _list_metadata_jsons,
        _read_json,
    )

    jsons = _list_metadata_jsons(location, fs=fs)
    if not jsons:
        raise GlueSparkError(
            f"No Iceberg metadata JSON found under {location!r}"
        )
    return max(
        (_read_json(p) for p in jsons),
        key=lambda m: m.get("last-sequence-number", 0),
    )


def iceberg_properties(location: str, fs=None) -> dict[str, str]:
    """The table ``properties`` of the newest metadata JSON."""
    return _string_map(_iceberg_metadata(location, fs).get("properties"))


def hudi_properties(location: str, fs=None) -> dict[str, str]:
    """``.hoodie/hoodie.properties`` as a dict (``{}`` when absent);
    the shallowest copy is the table's own (a metadata table nests
    another under ``.hoodie/metadata``)."""
    from glue_table_cache_spark.sources.hudi import (
        _read_bytes,
        _timeline_files,
    )

    names = [
        p
        for p in _timeline_files(location, fs=fs)
        if p.endswith("hoodie.properties")
    ]
    props: dict[str, str] = {}
    if names:
        text = _read_bytes(min(names, key=len)).decode()
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            k, eq, v = line.partition("=")
            if eq:
                props[k.strip()] = v.strip()
    return props


def delta_detail(location: str, fs=None) -> Detail:
    from glue_table_cache_spark.sources.delta import (
        _replay,
        delta_table_configuration,
    )

    active, state = _replay(location, fs=fs)
    meta = state.get("metaData") or {}
    return Detail(
        meta.get("id"),
        meta.get("createdTime"),
        list(meta.get("partitionColumns") or []),
        [
            p if p.startswith("/") else os.path.join(location, p)
            for p in active
        ],
        delta_table_configuration(location, fs=fs),
    )


def iceberg_detail(location: str, fs=None) -> Detail:
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    meta = _iceberg_metadata(location, fs)
    specs = meta.get("partition-specs") or []
    # delete files (position AND equality) are live storage too — walk
    # the full scan state, not the data-only helper, which refuses
    # when deletes exist
    entries, pos_dels, eq_dels = iceberg_scan_details(location, fs=fs)
    return Detail(
        meta.get("table-uuid"),
        meta.get("last-updated-ms"),
        [f["name"] for f in specs[0].get("fields") or []] if specs else [],
        [p for p, _pv, _s in entries]
        + list(pos_dels)
        + [
            d["path"]
            for d in eq_dels
            if isinstance(d, dict) and d.get("path")
        ],
        _string_map(meta.get("properties")),
    )


def hudi_detail(location: str, fs=None) -> Detail:
    from pathlib import Path

    from glue_table_cache_spark.sinks.hudi_write import (
        _recorded_partition_fields,
    )
    from glue_table_cache_spark.sources.hudi import hudi_scan_info

    pcols = _recorded_partition_fields(
        location, Path(location) / ".hoodie" / "hoodie.properties"
    )
    return Detail(
        None,
        None,
        pcols or [],
        [
            p
            for p, _pv in hudi_scan_info(
                location, fs=fs, base_files_only=True
            )
        ],
        hudi_properties(location, fs),
    )
