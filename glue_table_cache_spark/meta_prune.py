"""Executor-side metadata pruning for the distributed decode (r13).

The r12 distributed metadata walk moved the checkpoint/manifest DECODE
to the executors but still collected EVERY add / manifest entry to the
driver, where :func:`~glue_table_cache_spark.pruning.prune_files` ran a
Python loop over all of them — at 10M+ files the collected list itself
is the scale wall (driver memory + a driver-side prune pass), even for
a one-partition query.  This module pushes the engine's three prunes
(catalog-key partition predicate, generated/hidden-partitioning
transform predicate, zone-map stats skipping) INTO the executor-side
decode as a per-file ``keep`` callable, so the driver collects only
SURVIVING files.

Soundness contract — identical to the driver prunes, because the keep
callable runs the SAME code: :meth:`Predicate.evaluate` keeps on True
and Unknown (only a definite False drops), and
:func:`~glue_table_cache_spark.skipping.may_match` drops only when the
stats PROVE no row can match.  The engine's driver-side prunes still
run afterwards over the (already reduced) survivors, so the final kept
set is the intersection of two sound over-approximations — sound.

Refusal parity: a file that would make the driver path REFUSE (e.g. an
unsupported Delta deletion-vector shape) is always kept, so the driver
still sees it and raises the same error the undistributed path raises.

Factories late-bind against the format's own metadata (the Delta
``metaData`` action lives in the same checkpoint being decoded; the
Iceberg schema/spec in the metadata JSON), and return ``None`` —
meaning "collect everything, prune driver-side as before" — whenever
pruning could change any OBSERVABLE behavior beyond dropped files:

* Delta column-mapped tables (``renames`` not None): the engine skips
  partition pruning there anyway, and the all-files-pruned empty-scan
  fallback samples a file footer that executor pruning could remove.
* A Delta log with no usable ``schemaString`` (same fallback reason).
* No predicate survives extraction (nothing to push down).

Everything here is pure Python over picklable predicate trees —
cloudpickle ships the closure to the executors inside the existing
``mapInPandas`` decode.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any, Callable

from glue_table_cache_spark.pruning import (
    Predicate,
    TruePredicate,
    extract_partition_predicate,
    parse_where_clause,
)


def _fingerprint(
    query: str, catalog_keys: list[str], idents: set[str], stats: bool
) -> str | None:
    """Stable digest of everything a keep callable can depend on, for
    predicate-scoped cache keys.  ``None`` when the query has no
    parseable WHERE clause — then there is nothing to push down and
    callers should not build a factory at all."""
    where = parse_where_clause(query)
    if where is None:
        return None
    blob = json.dumps(
        {
            "where": where,
            "keys": sorted(k.lower() for k in catalog_keys),
            "idents": sorted(i.lower() for i in idents),
            "stats": stats,
        },
        sort_keys=True,
    )
    return hashlib.sha1(blob.encode()).hexdigest()[:16]


def _live_predicates(preds: list[Predicate]) -> list[Predicate]:
    return [p for p in preds if not isinstance(p, TruePredicate)]


def _assemble_predicates(
    query: str,
    catalog_keys: list[str],
    idents: set[str],
    stats_skipping: bool,
    transform_fields: list[dict],
    schema_cols: list[str],
) -> tuple[list[Predicate], Predicate | None]:
    """The SHARED prune-predicate assembly both formats run —
    identical by construction so the Delta and Iceberg pushdowns can
    never silently diverge: (1) the catalog partition-key predicate,
    (2) the transform rewrite over the spec/generated fields' source
    columns, (3) the zone-map stats predicate over the schema's
    top-level columns.  Returns ``(partition_preds, stats_pred)``
    with TruePredicates filtered out / None-ed."""
    preds: list[Predicate] = []
    if catalog_keys:
        preds.append(
            extract_partition_predicate(query, catalog_keys, idents)
        )
    if transform_fields:
        from glue_table_cache_spark.sources.iceberg_partitioning import (  # noqa: E501
            transform_partition_predicate,
        )

        srcs = sorted(
            {f["source"] for f in transform_fields if f["source"]}
        )
        preds.append(
            transform_partition_predicate(
                extract_partition_predicate(query, srcs, idents),
                transform_fields,
            )
        )
    stats_pred: Predicate | None = None
    if stats_skipping and schema_cols:
        p = extract_partition_predicate(query, schema_cols, idents)
        if not isinstance(p, TruePredicate):
            stats_pred = p
    return _live_predicates(preds), stats_pred


def delta_gate_basis(meta: dict | None) -> tuple:
    """The metaData facts a Delta keep callable binds — column-mapping
    mode, schemaString (renames, generated fields, stats columns) and
    partitionColumns.  ``_replay`` compares the checkpoint-time basis
    a factory gated on against the FINAL replayed state; divergence
    (a post-checkpoint commit changed any of them) re-runs the walk
    unpruned so pruning decisions never bind stale metadata."""
    m = meta or {}
    conf = m.get("configuration") or {}
    if isinstance(conf, list):  # pyarrow map -> list of pairs
        conf = dict(conf)
    return (
        conf.get("delta.columnMapping.mode", "none") or "none",
        m.get("schemaString"),
        tuple(m.get("partitionColumns") or ()),
    )


class _DeltaPruneFactory:
    """``callable(replay_state) -> keep(path, pv, dv, stats) | None``.

    Built once per scan (driver-side, cheap); invoked inside
    ``_read_checkpoint_distributed`` AFTER the ``metaData`` rows are
    collected, so the generated-column fields and column-mapping mode
    come from the very checkpoint being decoded."""

    def __init__(
        self,
        query: str,
        catalog_keys: list[str],
        idents: set[str],
        stats_skipping: bool,
        fingerprint: str,
    ) -> None:
        self.query = query
        self.catalog_keys = list(catalog_keys)
        self.idents = set(idents)
        self.stats_skipping = stats_skipping
        self.fingerprint = fingerprint
        # set True by the decode when pushdown actually engaged (gate
        # crossed AND a keep callable was produced) — the engine's
        # cache layer keys the result by predicate only then
        self.applied = False
        # checkpoint-time metaData basis (set by __call__) — _replay's
        # divergence check input
        self.gate_basis: tuple | None = None

    def __call__(self, state: dict) -> Callable[..., bool] | None:
        from glue_table_cache_spark.sources.delta import (
            _check_dv_supported,
            column_mapping_renames,
            generated_partition_fields,
            logical_schema,
        )

        meta = state.get("metaData")
        if not meta:
            return None
        schema = logical_schema(meta)
        if schema is None:
            # the engine's empty-scan fallback would need a sample
            # path footer; keep the full list so it always has one
            return None
        # column-mapped tables (r14): partitionValues and stats key on
        # PHYSICAL names — translate physical→logical through the
        # rename map so the SAME logical-name predicates prune them
        # (parity with the engine's driver prunes, which translate
        # identically); the pruned-to-zero fallback builds its empty
        # relation from the log's logical schema, so no footer sample
        # is needed
        renames = column_mapping_renames(meta, allow_nested=True)
        # everything the keep callable binds from the checkpoint-time
        # metaData — _replay compares it against the FINAL replayed
        # state and re-runs unpruned on divergence (ADVICE r13: a
        # post-checkpoint commit may change mapping/schema)
        self.gate_basis = delta_gate_basis(meta)

        preds, stats_pred = _assemble_predicates(
            self.query,
            self.catalog_keys,
            self.idents,
            self.stats_skipping,
            generated_partition_fields(meta),
            [f.name for f in schema.fields],
        )
        if not preds and stats_pred is None:
            return None

        from glue_table_cache_spark.skipping import (
            delta_file_stats,
            may_match,
        )

        def keep(
            path: str, pv: dict | None, dv: Any, stats: str | None
        ) -> bool:
            try:
                _check_dv_supported(
                    {"path": path, "deletionVector": dv}
                )
            except Exception:
                return True  # driver must see it to refuse
            pv = pv or {}
            if renames is not None:
                pv = {renames.get(k, k): v for k, v in pv.items()}
            for p in preds:
                if p.evaluate(pv) is False:
                    return False
            if stats_pred is not None and stats:
                st = delta_file_stats(stats, renames=renames)
                if st is not None and not may_match(stats_pred, st):
                    return False
            return True

        return keep


class _IcebergPruneFactory:
    """``callable(table_metadata) -> keep(raw_manifest_entry) | None``.

    The keep callable runs over RAW data-manifest Avro entries on the
    executors (delete manifests always pass through untouched — their
    validation and sequence scoping stay driver-side), reproducing the
    walk's partition-tuple stringification and
    :func:`~glue_table_cache_spark.skipping.iceberg_entry_stats`
    decode so the surviving entries are byte-identical to what the
    driver path would have pruned to.  Entries arrive through the
    walk's projection, zone maps still raw bytes; keep decodes them
    only for an entry that passed the partition test."""

    def __init__(
        self,
        query: str,
        catalog_keys: list[str],
        idents: set[str],
        stats_skipping: bool,
        fingerprint: str,
    ) -> None:
        self.query = query
        self.catalog_keys = list(catalog_keys)
        self.idents = set(idents)
        self.stats_skipping = stats_skipping
        self.fingerprint = fingerprint
        self.applied = False  # same contract as the Delta factory

    def __call__(self, meta: dict) -> Callable[[dict], bool] | None:
        from glue_table_cache_spark.sources.iceberg import (
            _field_types_by_id,
            iceberg_spark_schema,
        )
        from glue_table_cache_spark.sources.iceberg_partitioning import (
            iceberg_partition_fields,
        )

        schema = iceberg_spark_schema(meta)
        if schema is None:
            # the engine's empty-scan fallback would need a sample
            # path; keep the full list so it always has one
            return None
        preds, stats_pred = _assemble_predicates(
            self.query,
            self.catalog_keys,
            self.idents,
            self.stats_skipping,
            iceberg_partition_fields(meta),
            [f.name for f in schema.fields],
        )
        types_by_id: dict = (
            _field_types_by_id(meta) if stats_pred is not None else {}
        )
        if not preds and stats_pred is None:
            return None

        from glue_table_cache_spark.skipping import (
            iceberg_entry_stats,
            may_match,
        )

        def keep(entry: dict) -> bool:
            if entry.get("status") == 2:
                return True  # the walk skips DELETED entries itself
            rec = entry.get("data_file") or {}
            pv = {
                k: None if v is None else str(v)
                for k, v in (rec.get("partition") or {}).items()
            }
            for p in preds:
                if p.evaluate(pv) is False:
                    return False
            if stats_pred is not None:
                st = iceberg_entry_stats(rec, types_by_id)
                if st is not None and not may_match(stats_pred, st):
                    return False
            return True

        return keep


def delta_prune_factory(
    query: str | None,
    catalog_keys: list[str],
    idents: set[str],
    stats_skipping: bool,
) -> _DeltaPruneFactory | None:
    """Factory for the Delta distributed-checkpoint decode, or ``None``
    when the query carries no parseable WHERE (nothing to push)."""
    if not query:
        return None
    fp = _fingerprint(query, catalog_keys, idents, stats_skipping)
    if fp is None:
        return None
    return _DeltaPruneFactory(
        query, catalog_keys, idents, stats_skipping, fp
    )


def iceberg_prune_factory(
    query: str | None,
    catalog_keys: list[str],
    idents: set[str],
    stats_skipping: bool,
) -> _IcebergPruneFactory | None:
    """Factory for the Iceberg distributed-manifest decode, or
    ``None`` when the query carries no parseable WHERE."""
    if not query:
        return None
    fp = _fingerprint(query, catalog_keys, idents, stats_skipping)
    if fp is None:
        return None
    return _IcebergPruneFactory(
        query, catalog_keys, idents, stats_skipping, fp
    )
