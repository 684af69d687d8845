"""GlueSparkEngine — resolve → fetch metadata (cached) → list files
(cached) → prune → register views → run the query on Spark.

This is the Spark-first re-expression of the reference's main path
``convertGlueTableQuery`` (/root/reference/src/glue-table-cache.ts:242-251;
lifecycle table in SURVEY.md §3).  Where the reference emits DuckDB SQL
(listing tables, ART indexes, SET VARIABLE file lists, views) for the
caller to execute, we register temp views over DataFrames and hand the
rewritten query to Catalyst:

* HIVE / UNPARTITIONED / GLUE_PROJECTED tables go through the
  reference-style path: driver-side listing (LRU+TTL cached,
  prefix-pruned when the query carries a partition predicate),
  partition-value extraction by regex over each path below the table
  location, conservative pruning (fixing the reference's OR→AND hazard,
  SURVEY.md §2.D.1), then ``spark.read.parquet(*pruned_paths)`` (plus
  ``basePath`` for hive layouts).  The scan schema Spark infers for a
  path list is cached beside the listing, so a repeat query starts no
  listing or footer-inference job before its own.  Only a pruned list
  over ``max_explicit_files`` falls back to Spark's native directory
  scan (``InMemoryFileIndex`` + ``PruneFileSourcePartitions``).
* DELTA, ICEBERG and HUDI tables resolve their active data files from
  the format's own metadata walk (transaction log, manifests,
  timeline), cached like a listing, then read the kept paths.

Every read path picks its files in one place,
``GlueSparkEngine._prune_and_skip``: identity partition pruning,
transform pruning (Iceberg hidden partitions, Delta generated
columns) and zone-map skipping over the walk's per-file stats — the
reference's single ``SELECT list(path) FROM listing WHERE …``
(its ``src/glue-table-cache.ts:323-333``).

Write and metadata statements (INSERT/CTAS, DELETE, UPDATE, MERGE,
ALTER, TBLPROPERTIES, RESTORE, OPTIMIZE/VACUUM/REORG/FSCK, COPY INTO,
constraints, tags and branches, DESCRIBE HISTORY/DETAIL) pick their
implementation in one place too: ``formats.for_format`` maps the verb
and the table's format to a sink or source function, or refuses with a
reason that names both.  The engine binds the statement's arguments
and calls it; Hudi's MERGE_ON_READ layout is decided once per
statement, in ``GlueSparkEngine._row_writer``.
"""

from __future__ import annotations

import functools
import itertools
import re as _re
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import logging

from glue_table_cache_spark.cache import (
    LruTtlCache,
    listing_cache_key,
    table_cache_key,
)
from glue_table_cache_spark.catalog import (
    CatalogTable,
    ETableType,
    MetadataStore,
    PartitionListing,
)
from glue_table_cache_spark.config import Credentials, EngineConfig
from glue_table_cache_spark.errors import (
    GlueSparkError,
    NoStorageLocationError,
)
from glue_table_cache_spark.formats import Detail, for_format
from glue_table_cache_spark.listing import (
    FileInfo,
    FileSystem,
    ListingStats,
    filesystem_for,
    list_table_files,
    list_table_files_pruned,
)
from glue_table_cache_spark.projection import (
    extractors_for,
    relative_path_column,
)
from glue_table_cache_spark.pruning import (
    AllColumnsExcept,
    And,
    TruePredicate,
    build_predicate,
    extract_partition_predicate,
    parse_where_clause,
    predicate_columns,
    prune_files,
)
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.skipping import FooterMemo
from glue_table_cache_spark.transformer import (
    TableReference,
    get_query_glue_table_refs,
    rewrite_query,
)

#: row-level verb → the engine method that writes it on a
#: MERGE_ON_READ Hudi table (log blocks instead of base rewrites)
_HUDI_MOR_WRITERS = {
    "DELETE": "_hudi_mor_delete",
    "UPDATE": "_hudi_mor_update",
    "MERGE": "_hudi_mor_merge",
}


def _local_path(loc: str) -> str:
    """``loc`` without its ``file:`` scheme."""
    return loc[len("file:"):] if loc.startswith("file:") else loc


class GlueSparkEngine:
    def __init__(
        self,
        spark: SparkSession,
        metadata_store: MetadataStore,
        config: EngineConfig | None = None,
        filesystem: FileSystem | None = None,
    ) -> None:
        self.spark = spark
        self.store = metadata_store
        self.config = config or EngineConfig()
        self._fs = filesystem
        self._view_seq = itertools.count()  # per-query view-name tokens
        cfg = self.config
        retry = dict(
            retry_attempts=cfg.retry_attempts,
            retry_min_backoff_s=cfg.retry_min_backoff_s,
            retry_max_backoff_s=cfg.retry_max_backoff_s,
        )
        # two caches, same split as the reference
        # (/root/reference/src/glue-table-cache.ts:75-84)
        self._metadata_cache: LruTtlCache[CatalogTable] = LruTtlCache(
            max_entries=cfg.max_entries,
            ttl_ms=cfg.table_metadata_ttl_ms,
            **retry,
        )
        self._listing_cache: LruTtlCache[list[FileInfo]] = LruTtlCache(
            max_entries=cfg.max_entries,
            ttl_ms=cfg.s3_listing_ttl_ms,
            **retry,
        )
        # table key → the table's parquet-footer zone maps
        # (_footer_stats), bounded and expired like the listings
        self._footer_memos: LruTtlCache[FooterMemo] = LruTtlCache(
            max_entries=cfg.max_entries,
            ttl_ms=cfg.s3_listing_ttl_ms,
            **retry,
        )
        # table key → listing keys, recorded whenever a listing is
        # cached: invalidate_table must find the listings even after
        # the metadata entry was LRU-evicted or TTL-expired (peek()
        # would miss and the stale listing would keep serving).  A SET
        # per table (r13): predicate-scoped format-scan entries mean
        # one table can own several cache keys at once; insertion
        # -ordered (a dict used as an ordered set) so the cap in
        # _track_listing_key evicts the least recently recorded key
        self._listing_keys: dict[str, dict[str, None]] = {}
        # guards the side-map: concurrent sql() calls record keys while
        # others iterate them
        self._keys_lock = threading.Lock()
        if cfg.credentials is not None or cfg.region is not None:
            self._apply_credentials(cfg.credentials, cfg.region)

    # -- public API (parity with the reference's, SURVEY.md §3) -------------

    def sql(self, query: str) -> DataFrame:
        """``convertGlueTableQuery`` + execute: resolve glue refs, set up
        views, rewrite, run through Spark SQL.

        Views are registered under per-query-unique names (a monotonic
        token + per-ref index): two concurrent ``sql()`` calls touching
        the same table with different WHERE clauses would otherwise race
        on ``createOrReplaceTempView`` and read each other's pruned
        DataFrames, and distinct databases that mangle to the same view
        name (``a-b`` vs ``ab``) can no longer collide."""
        from glue_table_cache_spark.transformer import (
            extract_time_travel,
        )

        # DML on a glue reference dispatches to the table format's
        # row-level writer instead of the read path ("SQL in, engine
        # does the work" — the reference's thesis applied to writes)
        from glue_table_cache_spark.dml import parse_dml

        stmt = parse_dml(query)
        if stmt is not None:
            return self._execute_dml(stmt)
        # `glue.db.t VERSION|TIMESTAMP AS OF x` clauses steer the
        # table's metadata walk and are STRIPPED before execution
        # (Spark temp views carry no travel syntax)
        travel, query = extract_time_travel(query)
        token = next(self._view_seq)
        # Iceberg metadata tables (`glue.db.t.snapshots` / .files /
        # .manifests / .history) resolve to per-query-unique views
        # over the format's metadata walk before the scan rewrite —
        # the 4-part shape is invisible to the normal ref regex
        from glue_table_cache_spark.transformer import (
            extract_metadata_refs,
        )

        meta_refs, query = extract_metadata_refs(
            query,
            lambda ref, kind, ver: (
                f"{ref.view_name}__{kind}"
                f"{'' if ver is None else f'_v{ver}'}__q{token}"
            ),
        )
        # table_changes(glue.db.t, start [, end]) — the batch CDF TVF
        from glue_table_cache_spark.transformer import (
            extract_table_changes,
        )

        def _tc_tag(v) -> str:
            # timestamp bounds carry chars invalid in view names
            return (
                "latest"
                if v is None
                else _re.sub(r"[^A-Za-z0-9]", "_", str(v))
            )

        cdf_refs, query = extract_table_changes(
            query,
            lambda ref, v1, v2: (
                f"{ref.view_name}__changes_{_tc_tag(v1)}_"
                f"{_tc_tag(v2)}__q{token}"
            ),
        )
        refs = get_query_glue_table_refs(query, strict=False)
        names = {
            ref: f"{ref.view_name}__q{token}_{i}"
            for i, ref in enumerate(refs)
        }
        self._register_views(refs, names, query, travel)
        # drop views in finally: analysis failures (e.g. a typo'd
        # column) must not leak one per-query-unique view per call.
        # Meta/CDF registration sits INSIDE the try — their builders
        # raise on user-visible paths (non-Iceberg metadata table,
        # non-Delta TVF, unknown sequence) and must not strand the
        # already-registered scan views
        try:
            for ref, kind, vname, ver in meta_refs:
                self._metadata_table_df(
                    ref, kind, ver
                ).createOrReplaceTempView(vname)
            for ref, v1, v2, vname in cdf_refs:
                self._table_changes_df(
                    ref, v1, v2
                ).createOrReplaceTempView(vname)
            df = self.spark.sql(rewrite_query(query, refs, names))
        finally:
            for name in names.values():
                self.spark.catalog.dropTempView(name)
            for _r, _k, vname, _v in meta_refs:
                self.spark.catalog.dropTempView(vname)
            for _r, _v1, _v2, vname in cdf_refs:
                self.spark.catalog.dropTempView(vname)
        return df

    def _metadata_table_df(
        self, ref, kind: str, version: int | None = None
    ) -> DataFrame:
        """The DataFrame behind ``glue.db.t.<kind> [VERSION AS OF
        n]`` — Iceberg's SQL inspection tables, answered from the
        engine's own metadata walk (public Iceberg spec "Metadata
        tables"); ``version`` pins the walk to the metadata state at
        that sequence number (the same identifier data-scan travel
        uses).  Non-Iceberg formats refuse toward the engine's
        unified ``DESCRIBE HISTORY`` surface."""
        from glue_table_cache_spark.sources.iceberg import (
            iceberg_metadata_table,
        )

        tbl = self.get_table_metadata_cached(ref.database, ref.table)
        loc = self._table_location(tbl)
        if tbl.table_type != ETableType.ICEBERG:
            raise GlueSparkError(
                f"glue.{ref.database}.{ref.table}.{kind}: Iceberg "
                f"metadata tables need an ICEBERG table (this one is "
                f"{tbl.table_type.name}); use DESCRIBE HISTORY "
                f"glue.{ref.database}.{ref.table} for the engine's "
                "unified timeline"
            )
        return iceberg_metadata_table(
            self.spark, loc, kind, sequence_number=version
        )

    @staticmethod
    def _tc_ts_ms(literal: str) -> int:
        """Epoch millis of a ``table_changes`` timestamp bound
        (``'2024-01-01'`` / ``'2024-01-01 12:30:45'``); a naive
        literal reads as UTC — the timezone this repo's writers stamp
        commit timestamps in."""
        from datetime import datetime, timezone

        try:
            dt = datetime.fromisoformat(literal)
        except ValueError:
            raise GlueSparkError(
                f"table_changes: unparseable timestamp bound "
                f"{literal!r} (use ISO 'YYYY-MM-DD[ HH:MM:SS]', or "
                "an integer version/instant)"
            ) from None
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)

    def _table_changes_df(
        self, ref, start: int | str, end: int | str | None
    ) -> DataFrame:
        """The DataFrame behind ``table_changes(glue.db.t, start
        [, end])`` — the batch Change Data Feed TVF (public Delta
        dialect, extended to every lakehouse format this engine
        reads): the table's columns plus ``_change_type`` /
        ``_commit_version`` for the INCLUSIVE window.

        Bound spelling is per-format: Delta commit versions, Iceberg
        sequence numbers, Hudi request instants — the same
        identifiers each format's ``VERSION AS OF`` travel uses.
        Quoted timestamp literals resolve against the formats' commit
        timestamps (start → oldest commit at or after; end → newest
        at or before).  Row-level windows synthesize real change rows
        (Iceberg position-delete diffs; Hudi deltacommit log decode);
        what refuses is the genuinely non-reconstructible remainder
        (Iceberg equality-delete changes, Hudi replacecommits that
        retire groups with live logs) — with a pointer."""

        tbl = self.get_table_metadata_cached(ref.database, ref.table)
        loc = self._table_location(tbl)
        if tbl.table_type == ETableType.DELTA:
            from glue_table_cache_spark.sources.delta import (
                delta_cdf,
                delta_version_at_or_after_timestamp,
                delta_version_at_timestamp,
            )

            if isinstance(start, str):
                start = delta_version_at_or_after_timestamp(
                    loc, self._tc_ts_ms(start)
                )
            if isinstance(end, str):
                end = delta_version_at_timestamp(
                    loc, self._tc_ts_ms(end)
                )
            df = delta_cdf(self.spark, loc, since_version=start - 1)
            if end is not None:
                df = df.where(F.col("_commit_version") <= end)
            return df
        if tbl.table_type == ETableType.ICEBERG:
            from glue_table_cache_spark.sources.iceberg import (
                iceberg_seq_for_timestamp,
                iceberg_table_changes,
            )

            if isinstance(start, str):
                start = iceberg_seq_for_timestamp(
                    loc, self._tc_ts_ms(start), "start"
                )
            if isinstance(end, str):
                end = iceberg_seq_for_timestamp(
                    loc, self._tc_ts_ms(end), "end"
                )
            return iceberg_table_changes(self.spark, loc, start, end)
        if tbl.table_type == ETableType.HUDI:
            from glue_table_cache_spark.sources.hudi import (
                hudi_instant_for_timestamp,
                hudi_table_changes,
            )

            if isinstance(start, str):
                start = hudi_instant_for_timestamp(
                    loc, self._tc_ts_ms(start), "start"
                )
            if isinstance(end, str):
                end = hudi_instant_for_timestamp(
                    loc, self._tc_ts_ms(end), "end"
                )
            return hudi_table_changes(
                self.spark,
                loc,
                start,
                end,
                record_key_field=self._hudi_record_key(tbl),
            )
        raise GlueSparkError(
            f"table_changes(glue.{ref.database}.{ref.table}, ...): "
            f"the batch CDF TVF needs a DELTA, ICEBERG, or HUDI "
            f"table (this one is {tbl.table_type.name})"
        )

    def setup_views(self, query: str) -> list[TableReference]:
        """Register one *stable-named* temp view per glue table referenced
        by ``query`` (= ``getGlueTableViewSetupSql``,
        /root/reference/src/glue-table-cache.ts:253-347) for callers that
        want to query ``glue__db_tbl`` views directly."""
        refs = get_query_glue_table_refs(query, strict=False)
        self._register_views(refs, {r: r.view_name for r in refs}, query)
        return refs

    def _execute_dml(self, stmt) -> DataFrame:
        """Dispatch a parsed DML statement to the table format's
        row-level writer; returns a one-row metrics DataFrame
        (``operation, version, rows_updated, rows_inserted,
        rows_deleted``).  A successful commit invalidates the table's
        cached metadata walk so the next scan replays the new version
        — writers are externally-visible state changes, the one case
        the reference's ``invalidateTable`` exists for."""
        from glue_table_cache_spark.dml import (
            AlterColumnStatement,
            AlterTableStatement,
            CloneStatement,
            ConstraintStatement,
            ConvertStatement,
            CopyIntoStatement,
            CreateTableStatement,
            DeleteStatement,
            DropTableStatement,
            InsertStatement,
            MaintenanceStatement,
            MergeStatement,
            RefStatement,
            RestoreStatement,
            ShowStatement,
            TablePropertiesStatement,
            UpdateStatement,
            predicate_has_subquery,
        )

        ref = stmt.ref
        # DDL resolves (or intentionally fails to resolve) the table
        # itself — dispatch before the existence lookup below
        if isinstance(stmt, CreateTableStatement):
            return self._execute_create(stmt)
        if isinstance(stmt, CloneStatement):
            return self._execute_clone(stmt)
        if isinstance(stmt, DropTableStatement):
            return self._execute_drop(stmt)
        if isinstance(stmt, ShowStatement):
            return self._execute_show(stmt)
        tbl = self.get_table_metadata_cached(ref.database, ref.table)
        loc = self._table_location(tbl)
        ttype = tbl.table_type
        qual = f"glue.{ref.database}.{ref.table}"
        if isinstance(stmt, ConvertStatement):
            return self._execute_convert(stmt, tbl, loc, qual)
        if isinstance(stmt, MaintenanceStatement):
            return self._execute_maintenance(stmt, tbl, loc, qual)
        n_upd = n_ins = n_del = 0
        if isinstance(stmt, CopyIntoStatement):
            op = "COPY INTO"
            version, _n_files, n_ins = for_format(op, ttype, qual)(
                self.spark, loc, stmt.source
            )
        elif isinstance(stmt, ConstraintStatement):
            op = f"{stmt.action.upper()} CONSTRAINT"
            version = self._alter_constraint(stmt, tbl, loc, qual, op)
        elif isinstance(stmt, TablePropertiesStatement):
            op = (
                "UNSET TBLPROPERTIES" if stmt.unset else "SET TBLPROPERTIES"
            )
            version = for_format("SET TBLPROPERTIES", ttype, qual, op)(
                loc, dict(stmt.props), unset=stmt.unset
            )
        elif isinstance(stmt, RefStatement):
            op = f"{stmt.action.upper()} {stmt.ref_type.upper()}"
            verb = f"{stmt.action.upper()} REF"
            if stmt.action == "create":
                version = for_format(verb, ttype, qual, op)(
                    loc,
                    stmt.name,
                    ref_type=stmt.ref_type,
                    sequence_number=stmt.version,
                )
            else:
                version = for_format(verb, ttype, qual, op)(
                    loc, stmt.name
                )
        elif isinstance(stmt, RestoreStatement):
            op = "RESTORE"
            target = stmt.version
            if stmt.timestamp is not None:
                # TO TIMESTAMP AS OF: resolve through the same rule
                # read-side timestamp travel uses (newest commit at
                # or before the literal)
                target = for_format(
                    "RESTORE TIMESTAMP AS OF", ttype, qual
                )(
                    loc,
                    self._travel_timestamp_ms(stmt.timestamp),
                    fs=self._fs,
                )
            version = for_format(op, ttype, qual)(loc, target)
        elif isinstance(stmt, AlterColumnStatement):
            # Iceberg's rename/drop is the spec's native mechanism:
            # readers resolve by FIELD ID, so both are one metadata
            # commit; the name-mapping property pins on-disk
            # spellings for this engine's id-less parquet files
            if stmt.action == "rename":
                op, args = "RENAME COLUMN", (stmt.column, stmt.new_name)
            else:
                op, args = "DROP COLUMN", (stmt.column,)
            version = for_format(op, ttype, qual)(loc, *args)
        elif isinstance(stmt, AlterTableStatement):
            from pyspark.sql.types import StructType

            op = "ADD COLUMNS"
            add_columns = for_format(op, ttype, qual)
            try:
                cols = StructType.fromDDL(stmt.columns_ddl)
            except Exception as e:
                raise GlueSparkError(
                    f"ALTER TABLE {qual}: invalid column list "
                    f"{stmt.columns_ddl!r} ({e})"
                ) from None
            version = add_columns(loc, cols)
        elif isinstance(stmt, InsertStatement):
            op = "INSERT OVERWRITE" if stmt.overwrite else "INSERT"
            append = for_format("INSERT", ttype, qual, op)
            source = self._insert_source(stmt, op, qual)
            n_ins = source.count()
            version = append(source, loc, overwrite=stmt.overwrite)
        elif isinstance(stmt, DeleteStatement):
            op = "DELETE"
            _v, delete = self._row_writer(op, tbl, loc, qual)
            # subquery predicates (`WHERE id IN (SELECT ... FROM
            # glue.db.x)` — the decontamination DELETE) evaluate in
            # the writers' FILTERS, where Spark allows them
            with self._predicate_refs(stmt.predicate) as pred:
                version, n_del = delete(self.spark, loc, pred)
        elif isinstance(stmt, UpdateStatement):
            op = "UPDATE"
            if any(
                predicate_has_subquery(e)
                for e in stmt.set_exprs.values()
            ):
                raise GlueSparkError(
                    f"UPDATE {qual}: subqueries in SET expressions "
                    "re-evaluate inside per-row PROJECTIONS, where "
                    "Spark only allows them in filters — express "
                    "the change as MERGE INTO ... USING (SELECT ...)"
                )
            _v, update = self._row_writer(op, tbl, loc, qual)
            with self._predicate_refs(stmt.predicate) as pred:
                version, n_upd = update(
                    self.spark, loc, pred, stmt.set_exprs
                )
        elif isinstance(stmt, MergeStatement):
            op = "MERGE"
            verb, merge = self._row_writer(
                "MERGE ROWS" if stmt.whole_row else "MERGE",
                tbl, loc, qual, "MERGE INTO",
            )
            # the USING operand resolves through the normal read
            # path — glue refs, temp views, and subqueries all work
            source = self.sql(f"SELECT * FROM {stmt.source_text}")
            if stmt.schema_evolution:
                self._evolve_for_merge(tbl, loc, qual, source)
            keys = list(stmt.on_keys)
            if verb == "MERGE ROWS":
                # the classic upsert pair (unconditional UPDATE SET *
                # + INSERT *): the whole-row writers' fast path, no
                # full-row join
                version, n_upd, n_ins = merge(
                    self.spark, loc, source, keys
                )
            else:
                version, n_upd, n_ins, n_del = merge(
                    self.spark, loc, source, keys, stmt.parsed
                )
        else:
            raise GlueSparkError(f"unknown DML statement {stmt!r}")
        # the commit is externally visible NOW — drop the cached format
        # walk so the next scan replays the new version (Hudi property
        # changes rewrite hoodie.properties with no instant)
        if version is not None or isinstance(
            stmt, TablePropertiesStatement
        ):
            self.invalidate_table(ref.database, ref.table)
        return self._dml_metrics(op, version, n_upd, n_ins, n_del)

    def _dml_metrics(
        self, op: str, version=None, updated=0, inserted=0, deleted=0
    ) -> DataFrame:
        """The one-row result of a write statement."""
        return local_frame(
            self.spark,
            [(
                op,
                None if version is None else str(version),
                updated, inserted, deleted,
            )],
            "operation string, version string, rows_updated long, "
            "rows_inserted long, rows_deleted long",
        )

    def _table_location(self, tbl: CatalogTable) -> str:
        """The table's location as the format readers and writers take
        it (no ``file:`` scheme); a table without one refuses."""
        if not tbl.location:
            raise NoStorageLocationError(tbl.database, tbl.name)
        return _local_path(tbl.location)

    def _row_writer(
        self, verb: str, tbl: CatalogTable, loc: str, qual: str, op=None
    ) -> tuple[str, Callable]:
        """``(verb, writer)`` for a row-level verb (DELETE, UPDATE,
        MERGE, MERGE ROWS); the writer takes the sink's signature.

        Hudi picks its writer here, once per statement.  A
        MERGE_ON_READ table publishes log blocks through the engine's
        MOR writers, which read the merged snapshot view (the catalog
        table is bound in).  A whole-row MERGE on a MOR or a
        partitioned copy-on-write table runs the general clause
        planner, which routes inserts into per-partition file groups —
        the whole-row pair is just its simplest clause shape."""
        if tbl.table_type == ETableType.HUDI:
            from glue_table_cache_spark.sources.hudi import hudi_scan_info

            mor = self._hudi_is_mor(loc)
            if verb == "MERGE ROWS" and (
                mor or any(pv for _p, pv in hudi_scan_info(loc))
            ):
                verb = "MERGE"
            if mor:
                return verb, functools.partial(
                    getattr(self, _HUDI_MOR_WRITERS[verb]), tbl
                )
        return verb, for_format(verb, tbl.table_type, qual, op)

    def _alter_constraint(self, stmt, tbl, loc: str, qual: str, op: str):
        """``ADD`` / ``DROP CONSTRAINT``: a CHECK expression stored as
        ``delta.constraints.<name>`` in the Delta configuration, which
        every Delta writer enforces."""
        set_props = for_format("CONSTRAINT", tbl.table_type, qual, op)
        key = f"delta.constraints.{stmt.name}"
        cfg = for_format("SHOW TBLPROPERTIES", tbl.table_type, qual)(
            loc, fs=self._fs
        )
        if stmt.action == "drop":
            if key not in cfg:
                have = sorted(
                    k.rsplit(".", 1)[1]
                    for k in cfg
                    if k.startswith("delta.constraints.")
                )
                raise GlueSparkError(
                    f"DROP CONSTRAINT {qual}: no constraint named "
                    f"{stmt.name!r} (have {have})"
                )
            return set_props(loc, {}, unset=(key,))
        if key in cfg:
            raise GlueSparkError(
                f"ADD CONSTRAINT {qual}: constraint {stmt.name!r} "
                f"already exists ({cfg[key]}); DROP it first"
            )
        # EXISTING rows must already satisfy the new CHECK — otherwise
        # the table is born violating its own gate
        bad = (
            self.table_dataframe(stmt.ref.database, stmt.ref.table)
            .where(~F.coalesce(F.expr(stmt.expr), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise GlueSparkError(
                f"ADD CONSTRAINT {qual}: existing rows violate CHECK "
                f"({stmt.expr}) — clean the data first"
            )
        return set_props(loc, {key: stmt.expr})

    def _insert_source(self, stmt, op: str, qual: str) -> DataFrame:
        """INSERT's source bound to the target table's columns.  The
        source resolves through the normal read path (glue refs, temp
        views, VALUES, subqueries all work) and binds POSITIONALLY, to
        an explicit column list, or BY NAME, then casts implicitly to
        the target column types — a bare VALUES tuple's col1/col2
        names are meaningless.  The writers' own schema authority
        gates the rest."""
        source = self.sql(f"SELECT * FROM ({stmt.source_text})")
        target_fields = self.table_dataframe(
            stmt.ref.database, stmt.ref.table
        ).schema.fields
        if stmt.by_name:
            # BY NAME: the source's own column names bind — order-free;
            # unknown names refuse, missing target columns NULL-fill
            # (the Delta-dialect posture)
            known = {f.name for f in target_fields}
            unknown = [c for c in source.columns if c not in known]
            if unknown:
                raise GlueSparkError(
                    f"{op} {qual} BY NAME: source column(s) {unknown} "
                    f"are not in the table schema {sorted(known)}"
                )
            have = set(source.columns)
            source = source.select(
                *[
                    F.col(f.name)
                    if f.name in have
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in target_fields
                ]
            )
        elif stmt.columns:
            if len(stmt.columns) != len(source.columns):
                raise GlueSparkError(
                    f"{op} {qual}: column list has {len(stmt.columns)} "
                    f"name(s) but the source produces "
                    f"{len(source.columns)} column(s)"
                )
            source = source.toDF(*stmt.columns)
        elif len(source.columns) == len(target_fields):
            source = source.toDF(*[f.name for f in target_fields])
        else:
            raise GlueSparkError(
                f"{op} {qual}: the source produces "
                f"{len(source.columns)} column(s) but the table has "
                f"{len(target_fields)} — INSERT binds positionally; "
                "pass an explicit column list"
            )
        target = {f.name: f.dataType for f in target_fields}
        return source.select(
            *[
                F.col(c).cast(target[c]).alias(c)
                if c in target
                else F.col(c)
                for c in source.columns
            ]
        )

    @staticmethod
    def _hudi_is_mor(loc: str) -> bool:
        from glue_table_cache_spark.sources.hudi import (
            _table_type,
            _timeline_files,
        )

        return _table_type(_timeline_files(loc)) == "MERGE_ON_READ"

    def _hudi_record_key(self, tbl: CatalogTable) -> str:
        from glue_table_cache_spark.sources.hudi_mor import (
            DEFAULT_RECORD_KEY,
        )

        return tbl.parameters.get(
            "hoodie.table.recordkey.fields", DEFAULT_RECORD_KEY
        )

    def _hudi_mor_view(self, tbl: CatalogTable, verb: str):
        """``(record_key, merged snapshot view)`` of a MERGE_ON_READ
        table — what its row-level verbs match against."""
        key = self._hudi_record_key(tbl)
        df = self._dataframe_for(tbl, None)
        if key not in df.columns:
            raise GlueSparkError(
                f"{verb} on MOR glue.{tbl.database}.{tbl.name}: "
                f"record key column {key!r} is not in the scan "
                "schema; register hoodie.table.recordkey.fields"
            )
        return key, df

    def _hudi_mor_delete(
        self,
        tbl: CatalogTable,
        spark,
        loc: str,
        predicate,
        max_delete_keys: int = 1_000_000,
    ) -> tuple[str | None, int]:
        """SQL DELETE on a MERGE_ON_READ table: matched record keys
        (from the MERGED snapshot view, so log-upserted rows match
        too) publish as ONE DELETE log block — no base rewrite, the
        MOR contract.  Keys are driver-collected by the log-block
        codec, so a cap refuses unbounded deletes toward the COW
        path, mirroring write_hudi_log's own posture."""
        from glue_table_cache_spark.sinks.hudi_log_write import (
            write_hudi_log,
        )

        key, df = self._hudi_mor_view(tbl, "DELETE")
        matched = df.where(F.expr(predicate)).select(key).distinct()
        keys = [
            r[0] for r in matched.limit(max_delete_keys + 1).collect()
        ]
        if len(keys) > max_delete_keys:
            raise GlueSparkError(
                f"MOR DELETE matches over {max_delete_keys} record "
                "keys — log-block deletes are a micro-batch path; "
                "compact to COPY_ON_WRITE semantics first or raise "
                "the cap"
            )
        if not keys:
            return None, 0
        instant = write_hudi_log(spark, loc, key, delete_keys=keys)
        return instant, len(keys)

    def _evolve_for_merge(
        self, tbl: CatalogTable, loc: str, qual: str, source: DataFrame
    ) -> None:
        """``MERGE WITH SCHEMA EVOLUTION``'s widening pre-step: any
        source column absent from the target schema commits via the
        format's schema-only ALTER (nullable — pre-merge rows read
        null), then the table caches invalidate so the merge writers
        and the MOR merged view see the widened schema.  No new
        columns → no commit.  Two commits: a documented deviation
        from the one-commit runtimes."""
        from pyspark.sql.types import StructField, StructType

        t_cols = set(self._dataframe_for(tbl, None).columns)
        new_fields = [
            StructField(f.name, f.dataType, True)
            for f in source.schema.fields
            if f.name not in t_cols
        ]
        if new_fields:
            for_format("ADD COLUMNS", tbl.table_type, qual)(
                loc, StructType(new_fields)
            )
            self.invalidate_table(tbl.database, tbl.name)

    def _hudi_mor_update(
        self, tbl: CatalogTable, spark, loc: str, predicate, set_exprs
    ) -> tuple[str | None, int]:
        """SQL UPDATE on a MERGE_ON_READ table: matched rows from the
        merged view, transformed through the SET expressions
        (pre-update values), publish as ONE upsert log block — the
        MOR update path, no base rewrite."""
        from glue_table_cache_spark.sinks.hudi_log_write import (
            write_hudi_log,
        )

        key, df = self._hudi_mor_view(tbl, "UPDATE")
        unknown = [c for c in set_exprs if c not in df.columns]
        if unknown:
            raise GlueSparkError(
                f"UPDATE sets unknown column(s) {unknown}; table "
                f"columns are {df.columns}"
            )
        matched = df.where(F.expr(predicate))
        transformed = matched.select(
            *[
                F.expr(set_exprs[c])
                .cast(df.schema[c].dataType)
                .alias(c)
                if c in set_exprs
                else F.col(c)
                for c in df.columns
            ]
        )
        n = transformed.count()
        if not n:
            return None, 0
        instant = write_hudi_log(spark, loc, key, upserts=transformed)
        return instant, int(n)

    def _hudi_mor_merge(
        self,
        tbl: CatalogTable,
        spark,
        loc: str,
        source,
        keys: list[str],
        clauses,
        max_delete_keys: int = 1_000_000,
    ) -> tuple[str | None, int, int, int]:
        """MERGE (the whole-row upsert pair AND the general clause
        grammar) on a MERGE_ON_READ table: clause semantics evaluate
        against the MERGED snapshot view — log-upserted rows match
        too — and the outcome publishes as log blocks under ONE
        atomic deltacommit: update-chosen rows transformed and
        upserted by record key, delete-chosen rows' record keys in a
        DELETE block, NOT MATCHED source rows upserted as inserts.
        No base rewrite, the MOR contract.

        A SET that could rewrite the record key refuses up front: an
        upsert block replaces BY record key, so changing it would
        insert a twin and strand the old row.  Delete keys are
        driver-collected by the log-block codec — the same cap
        posture as MOR DELETE."""
        from glue_table_cache_spark.sinks.hudi_log_write import (
            write_hudi_log,
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

        key, df = self._hudi_mor_view(tbl, "MERGE")
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise GlueSparkError(
                f"merge keys {missing} are not in the source "
                f"columns {source.columns}"
            )
        t_cols = list(df.columns)
        validate_clauses(clauses, t_cols, source.columns, keys)
        for cl in clauses:
            if cl.action != "update" or cl.when == "not_matched":
                continue
            sets_key = (
                any(c == key for c, _e in cl.set_exprs)
                if cl.set_exprs is not None
                else key not in keys  # SET * copies the source key
            )
            if sets_key:
                raise GlueSparkError(
                    f"MERGE on MOR glue.{tbl.database}.{tbl.name}: "
                    f"an UPDATE clause may rewrite the record key "
                    f"{key!r} — upsert log blocks replace by record "
                    "key, so this would insert a twin and strand "
                    "the old row; merge ON the record key or drop "
                    f"{key!r} from SET"
                )
        if (
            source.groupBy(*keys)
            .count()
            .where("count > 1")
            .limit(1)
            .count()
        ):
            raise GlueSparkError(
                "MERGE source has duplicate keys — a matched target "
                "row would meet several source rows; de-duplicate "
                "the source first (e.g. max_by on a version column)"
            )
        upd_idx = action_indexes(clauses, "update")
        del_idx = action_indexes(clauses, "delete")
        joined = join_source(df, source, keys).withColumn(
            "__chosen", chosen_column(clauses)
        )
        # only CHOSEN rows checkpoint (bounded by the matched set,
        # not the table) — counts, delete keys, and the update
        # transform all reuse them without re-reading the MOR
        # merged view
        chosen = joined.where(
            F.col("__chosen") != KEEP
        ).localCheckpoint()
        agg = {
            int(r["__chosen"]): int(r["n"])
            for r in chosen.groupBy("__chosen")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_upd = sum(agg.get(i, 0) for i in upd_idx)
        n_del = sum(agg.get(i, 0) for i in del_idx)
        del_keys: list = []
        if n_del:
            if n_del > max_delete_keys:
                raise GlueSparkError(
                    f"MOR MERGE would delete {n_del} rows (cap "
                    f"{max_delete_keys}) — log-block deletes are a "
                    "micro-batch path; compact first or raise the "
                    "cap"
                )
            del_keys = [
                r[0]
                for r in chosen.where(
                    F.col("__chosen").isin(del_idx)
                )
                .select(key)
                .distinct()
                .collect()
            ]
        ups = None
        if n_upd:
            ups = target_outputs(
                chosen.where(F.col("__chosen").isin(upd_idx)),
                clauses,
                t_cols,
            )
        ins = insert_outputs(
            source,
            df.select(*keys).distinct(),
            keys,
            clauses,
            t_cols,
            df.schema,
        )
        n_ins = ins.count() if ins is not None else 0
        if n_ins:
            # partitioned MOR included: write_hudi_log routes each
            # NOT MATCHED row on its own partition-column values
            # (and strips them from the log payload)
            ups = (
                ins
                if ups is None
                else ups.unionByName(ins.select(*ups.columns))
            )
        if ups is None and not del_keys:
            return None, 0, 0, 0
        instant = write_hudi_log(
            spark,
            loc,
            key,
            upserts=ups,
            delete_keys=del_keys or None,
        )
        return instant, int(n_upd), int(n_ins), int(n_del)

    def _execute_show(self, stmt) -> DataFrame:
        """Introspection verbs, answered from the engine's own
        metadata paths (no Spark catalog involved):

        * ``SHOW TABLES IN glue[.db]`` — store enumeration
          (``list_tables``; stores without it refuse);
        * ``SHOW PARTITIONS glue.db.t`` — the registered catalog
          partitions when present, else the distinct partition
          tuples of the (cached, pruned-none) file listing — the
          same values pruning runs on;
        * ``DESCRIBE glue.db.t`` — the SCAN schema (the
          metadata-schema authority for lakehouse formats), with
          Spark's ``# Partition Information`` section for registered
          keys."""
        if stmt.verb == "databases":
            lt = getattr(self.store, "list_tables", None)
            if not callable(lt):
                raise GlueSparkError(
                    "SHOW DATABASES: the metadata store does not "
                    "support enumeration (no list_tables)"
                )
            dbs = sorted({t.database for t in lt(None)})
            return local_frame(
                self.spark,
                [(d,) for d in dbs], "namespace string"
            )
        if stmt.verb == "tables":
            lt = getattr(self.store, "list_tables", None)
            if not callable(lt):
                raise GlueSparkError(
                    "SHOW TABLES: the metadata store does not "
                    "support enumeration (no list_tables)"
                )
            rows = [
                (
                    t.database,
                    t.name,
                    t.table_type.name,
                    t.location,
                )
                for t in lt(stmt.database)
            ]
            return local_frame(
                self.spark,
                rows,
                "database string, tableName string, tableType string, "
                "location string",
            )
        ref = stmt.ref
        tbl = self.get_table_metadata_cached(ref.database, ref.table)
        if stmt.verb == "partitions":
            keys = [k.name for k in tbl.partition_keys]
            listing = self.store.get_partitions(
                ref.database, ref.table
            )
            tuples: set[tuple[str, ...]] = set()
            if listing.values:
                pkeys = list(listing.keys) or keys
                tuples = {tuple(e.values) for e in listing.values}
            elif keys:
                pkeys = keys
                tuples = {
                    tuple(f.partition_values.get(k, "") for k in keys)
                    for f in self.list_table_files_cached(tbl)
                }
            else:
                raise GlueSparkError(
                    f"SHOW PARTITIONS glue.{ref.database}."
                    f"{ref.table}: table is not partitioned"
                )
            rows = sorted(
                "/".join(f"{k}={v}" for k, v in zip(pkeys, t))
                for t in tuples
            )
            return local_frame(
                self.spark,
                [(r,) for r in rows], "partition string"
            )
        if stmt.verb in ("history", "tblproperties"):
            return self._show_lakehouse_metadata(stmt.verb, ref, tbl)
        if stmt.verb == "detail":
            return self._execute_describe_detail(ref, tbl)
        if stmt.verb == "create":
            return self._execute_show_create(ref, tbl)
        if stmt.verb == "columns":
            schema = self.table_dataframe(
                ref.database, ref.table
            ).schema
            return local_frame(
                self.spark,
                [(f.name,) for f in schema.fields],
                "col_name string",
            )
        # describe: the scan schema is the source of truth (what a
        # SELECT actually surfaces, evolved columns included)
        schema = self.table_dataframe(ref.database, ref.table).schema
        rows = [
            (f.name, f.dataType.simpleString(), None)
            for f in schema.fields
        ]
        if tbl.partition_keys:
            rows.append(("# Partition Information", "", None))
            rows.append(("# col_name", "data_type", None))
            for k in tbl.partition_keys:
                rows.append((k.name, k.type, None))
        return local_frame(
            self.spark,
            rows, "col_name string, data_type string, comment string"
        )

    def _execute_show_create(self, ref, tbl) -> DataFrame:
        """``SHOW CREATE TABLE glue.db.t`` — the registration DDL
        reconstructed from the engine's own authorities: the SCAN
        schema (logical, evolution applied), DESCRIBE DETAIL's
        partition columns and format, and the format's own
        properties.  One ``createtab_stmt`` row, the Spark dialect
        shape.  Iceberg HIDDEN partition columns render by their
        spec FIELD name (``o_orderdate_month``) — the transform
        expression form is the runtime's own dialect, and replaying
        this DDL through CTAS would re-register identity columns;
        DESCRIBE DETAIL carries the same names."""
        detail = self._execute_describe_detail(ref, tbl).first()
        schema = self.table_dataframe(
            ref.database, ref.table
        ).schema
        cols = ",\n".join(
            f"  {f.name} {f.dataType.simpleString().upper()}"
            for f in schema.fields
        )
        lines = [
            f"CREATE TABLE glue.{ref.database}.{ref.table} (",
            cols,
            ")",
            f"USING {str(detail['format'] or 'parquet').upper()}",
        ]
        if detail["partitionColumns"]:
            lines.append(
                "PARTITIONED BY ("
                + ", ".join(detail["partitionColumns"])
                + ")"
            )
        if tbl.location:
            lines.append(f"LOCATION '{tbl.location}'")
        props = dict(detail["properties"] or {})
        if props:
            kv = ",\n".join(
                f"  '{k}' = '{v}'"
                for k, v in sorted(props.items())
            )
            lines.append("TBLPROPERTIES (\n" + kv + "\n)")
        return local_frame(
            self.spark,
            [("\n".join(lines),)], "createtab_stmt string"
        )

    def _execute_describe_detail(self, ref, tbl) -> DataFrame:
        """``DESCRIBE DETAIL glue.db.t`` — one row of physical-layout
        facts from the table's OWN metadata (the Delta-dialect shape):
        format, table id, location, created time, partition columns,
        active file count + byte size, table properties.  The active
        set comes from the same format walk every scan uses (DV'd /
        position-deleted files still count — they are live storage);
        raw listings describe their cached listing.  Sizes are summed
        from the local filesystem and surface NULL for remote
        locations rather than guessing."""
        import os as _os

        loc = self._table_location(tbl)
        detail = for_format(
            "DESCRIBE DETAIL",
            tbl.table_type,
            f"glue.{ref.database}.{ref.table}",
        )
        if detail is None:
            fmt = tbl.data_format
            d = Detail(
                None, None, [], [
                    f.path for f in self.list_table_files_cached(tbl)
                ], {},
            )
        else:
            fmt = tbl.table_type.name.lower()
            d = detail(loc, fs=self._fs)
        size: int | None = 0
        for p in d.files:
            try:
                size += _os.stat(p).st_size
            except OSError:
                size = None
                break
        rows = [(
            fmt,
            d.table_id,
            tbl.location,
            int(d.created_ms) if d.created_ms is not None else None,
            d.partition_columns or [k.name for k in tbl.partition_keys],
            len(d.files),
            size,
            d.properties,
        )]
        return local_frame(
            self.spark,
            rows,
            "format string, id string, location string, "
            "createdAt long, partitionColumns array<string>, "
            "numFiles long, sizeInBytes long, "
            "properties map<string,string>",
        )

    def _show_lakehouse_metadata(self, verb, ref, tbl) -> DataFrame:
        """``DESCRIBE HISTORY`` / ``SHOW TBLPROPERTIES`` — answered
        from the table format's OWN transaction metadata, never the
        catalog: commit log / snapshot list / timeline for history
        (``version`` is the same identifier ``VERSION AS OF`` travel
        and ``RESTORE`` address per format), ``metaData``
        configuration / table ``properties`` / ``hoodie.properties``
        for tblproperties.  Raw-parquet tables have neither and
        refuse with the registration hint."""
        loc = self._table_location(tbl)
        qual = f"glue.{ref.database}.{ref.table}"
        if verb == "history":
            return for_format("DESCRIBE HISTORY", tbl.table_type, qual)(
                self.spark, loc, fs=self._fs
            )
        props = for_format("SHOW TBLPROPERTIES", tbl.table_type, qual)(
            loc, fs=self._fs
        )
        return local_frame(
            self.spark,
            sorted(props.items()), "key string, value string"
        )

    def _new_table_location(self, stmt, qual: str) -> str | None:
        """CREATE TABLE's target: the store must be writable and the
        table new (``None`` when it exists under IF NOT EXISTS); the
        location is the ``LOCATION`` clause or
        ``<warehouse_dir>/<db>/<table>``."""
        import os

        from glue_table_cache_spark.errors import TableNotFoundError

        ref = stmt.ref
        if not callable(getattr(self.store, "register_table", None)):
            raise GlueSparkError(
                f"CREATE TABLE {qual}: the metadata store is "
                "read-only (no register_table)"
            )
        try:
            self.store.get_table(ref.database, ref.table)
        except TableNotFoundError:
            pass
        else:
            if stmt.if_not_exists:
                return None
            raise GlueSparkError(
                f"CREATE TABLE {qual}: table already exists "
                "(use IF NOT EXISTS)"
            )
        loc = stmt.location
        if loc is None:
            if not self.config.warehouse_dir:
                raise GlueSparkError(
                    f"CREATE TABLE {qual}: no LOCATION clause and "
                    "no warehouse_dir configured"
                )
            loc = os.path.join(
                self.config.warehouse_dir, ref.database, ref.table
            )
        return _local_path(loc)

    def _execute_clone(self, stmt) -> DataFrame:
        """``CREATE TABLE ... SHALLOW CLONE glue.db.src`` — a
        zero-copy Delta clone (the source's active files referenced
        by absolute path in a fresh log), registered as a new
        catalog entry carrying the source's partition keys.  The
        source must be a registered DELTA table; the clone follows
        the CTAS location rules (explicit LOCATION or
        ``warehouse_dir``)."""
        ref = stmt.ref
        loc = self._new_table_location(
            stmt, f"glue.{ref.database}.{ref.table}"
        )
        if loc is None:
            return self._dml_metrics("CLONE")
        src_tbl = self.get_table_metadata_cached(
            stmt.source.database, stmt.source.table
        )
        src_loc = self._table_location(src_tbl)
        for_format(
            "SHALLOW CLONE",
            src_tbl.table_type,
            f"glue.{stmt.source.database}.{stmt.source.table}",
        )(src_loc, loc, version=stmt.version, deep=stmt.deep)
        self.store.register_table(
            CatalogTable(
                ref.database,
                ref.table,
                loc,
                partition_keys=list(src_tbl.partition_keys),
                parameters={"spark.sql.sources.provider": "delta"},
            )
        )
        return self._dml_metrics("CLONE", 0)

    def _execute_convert(self, stmt, tbl, loc, qual) -> DataFrame:
        """``CONVERT TO DELTA glue.db.t`` — metadata-only in-place
        migration: a version-0 Delta log over the existing parquet
        files (no data moved), then the catalog entry flips to the
        DELTA provider so every scan/DML/maintenance path from here
        on goes through the transaction log.  Partition keys come
        from the statement's ``PARTITIONED BY (col type, ...)`` or,
        omitted, the catalog's registered keys (Glue partition keys
        carry a type; untyped default is string)."""
        convert = for_format("CONVERT TO DELTA", tbl.table_type, qual)
        if tbl.data_format != "parquet":
            raise GlueSparkError(
                f"CONVERT TO DELTA {qual}: classification is "
                f"{tbl.data_format!r} — only parquet converts"
            )
        if not callable(getattr(self.store, "register_table", None)):
            raise GlueSparkError(
                f"CONVERT TO DELTA {qual}: the metadata store is "
                "read-only (no register_table)"
            )
        keys = list(stmt.partition_keys) or [
            (k.name, k.type or "string") for k in tbl.partition_keys
        ]
        convert(self.spark, loc, keys)
        params = dict(tbl.parameters)
        params["spark.sql.sources.provider"] = "delta"
        self.store.register_table(
            CatalogTable(
                tbl.database,
                tbl.name,
                tbl.location,
                partition_keys=list(tbl.partition_keys),
                parameters=params,
            )
        )
        self.invalidate_table(stmt.ref.database, stmt.ref.table)
        return self._dml_metrics("CONVERT", 0)

    def _execute_create(self, stmt) -> DataFrame:
        """CTAS: evaluate the source through the normal read path,
        write it via the chosen format's writer, register the new
        table in the metadata store.  The store must be writable
        (``register_table``) — read-only stores refuse.  Location is
        the explicit ``LOCATION`` clause or
        ``<warehouse_dir>/<db>/<table>``."""
        from glue_table_cache_spark.catalog import PartitionKey

        ref = stmt.ref
        qual = f"glue.{ref.database}.{ref.table}"
        loc = self._new_table_location(stmt, qual)
        if loc is None:
            return self._dml_metrics("CREATE TABLE")
        source = self.sql(f"SELECT * FROM ({stmt.source_text})")
        missing = [
            c for c in stmt.partition_by if c not in source.columns
        ]
        if missing:
            raise GlueSparkError(
                f"CREATE TABLE {qual}: PARTITIONED BY column(s) "
                f"{missing} not produced by the source "
                f"(columns: {source.columns})"
            )
        part = list(stmt.partition_by) or None
        n_ins = source.count()
        version: object = None
        keys: list[PartitionKey] = []
        if stmt.using == "PARQUET":  # plain hive-style directory
            writer = source.write.mode("errorifexists")
            if part:
                writer = writer.partitionBy(*part)
            writer.parquet(loc)
            # register the partition columns so the HIVE listing path
            # prunes them (values are directory strings — the typed
            # extractors coerce at predicate time)
            keys = [PartitionKey(c) for c in stmt.partition_by]
        else:
            version = for_format(
                "INSERT", ETableType[stmt.using], qual
            )(source, loc, partition_by=part)
        # the catalog parameters that classify each format
        params = {
            "DELTA": {"spark.sql.sources.provider": "delta"},
            "ICEBERG": {"table_type": "ICEBERG"},
            "HUDI": {"hoodie.table.name": ref.table},
        }.get(stmt.using, {})
        self.store.register_table(
            CatalogTable(
                database=ref.database,
                name=ref.table,
                location=loc,
                partition_keys=keys,
                parameters=params,
            )
        )
        self.invalidate_table(ref.database, ref.table)
        return self._dml_metrics("CREATE TABLE", version, 0, n_ins)

    def _execute_drop(self, stmt) -> DataFrame:
        """DROP TABLE: unregister the catalog entry and drop cached
        metadata.  Data files are NOT deleted — Glue tables are
        external; the catalog entry never owns the storage (use
        VACUUM / the format cleaners for file retirement)."""
        from glue_table_cache_spark.errors import TableNotFoundError

        ref = stmt.ref
        qual = f"glue.{ref.database}.{ref.table}"
        if not callable(getattr(self.store, "unregister_table", None)):
            raise GlueSparkError(
                f"DROP TABLE {qual}: the metadata store is "
                "read-only (no unregister_table)"
            )
        try:
            self.store.get_table(ref.database, ref.table)
        except TableNotFoundError:
            if stmt.if_exists:
                return self._dml_metrics("DROP TABLE")
            raise
        self.store.unregister_table(ref.database, ref.table)
        self.invalidate_table(ref.database, ref.table)
        return self._dml_metrics("DROP TABLE")

    def _execute_maintenance(
        self, stmt, tbl, loc: str, qual: str
    ) -> DataFrame:
        """``OPTIMIZE`` / ``VACUUM`` / ``REORG`` / ``FSCK`` on a glue
        reference: compaction (optionally Z-ordered, optionally
        partition-scoped on Delta), retention-gated
        unreferenced-file cleanup, deletion-vector purge and
        missing-file repair, dispatched per format.  VACUUM maps to
        each format's data-file cleanup half (Delta
        ``vacuum_delta``, Iceberg ``remove_iceberg_orphans``, Hudi
        ``clean_hudi``) — snapshot/log retention stays with the
        narrower Python APIs.  ``DRY RUN`` returns the path rows
        instead of deleting."""
        ttype = tbl.table_type
        op = stmt.verb.upper()
        version, removed = None, 0
        if stmt.verb == "reorg":
            # REORG TABLE ... APPLY (PURGE): rewrite ONLY the files
            # carrying deletion vectors — minimal write amplification
            # when the goal is shedding DVs, not layout
            version = for_format("REORG", ttype, qual)(
                self.spark, loc, purge_only=True
            )
        elif stmt.verb == "fsck":
            # FSCK REPAIR TABLE: drop log entries whose backing file
            # vanished out-of-band — until then every scan dies on
            # the missing file
            version, paths = for_format("FSCK", ttype, qual)(
                loc, dry_run=stmt.dry_run
            )
            removed = len(paths)
        elif stmt.verb == "optimize":
            kwargs = {"zorder_by": list(stmt.zorder_by) or None}
            if stmt.predicate:
                kwargs["partition_predicate"] = stmt.predicate
            version = for_format(
                "OPTIMIZE WHERE" if stmt.predicate else "OPTIMIZE",
                ttype, qual,
            )(self.spark, loc, **kwargs)
        else:
            if stmt.zorder_by:
                raise GlueSparkError("VACUUM takes no ZORDER clause")
            paths = sorted(
                for_format("VACUUM", ttype, qual)(
                    loc,
                    retention_hours=(
                        168.0
                        if stmt.retain_hours is None
                        else stmt.retain_hours
                    ),
                    dry_run=stmt.dry_run,
                )
            )
            removed = len(paths)
        if stmt.dry_run:
            # the deletable (or missing) set itself, nothing changed
            # — the look-before-you-leap half surfaced through SQL
            return local_frame(
                self.spark, [(str(p),) for p in paths], "path string"
            )
        if version is not None:
            self.invalidate_table(tbl.database, tbl.name)
        return local_frame(
            self.spark,
            [(op, None if version is None else str(version), removed)],
            "operation string, version string, files_removed long",
        )

    @contextmanager
    def _predicate_refs(self, text: str):
        """Glue refs inside a DML predicate — the subquery shapes,
        ``WHERE id IN (SELECT id FROM glue.db.contaminated)`` — get
        the same treatment as any query: per-call temp views plus a
        textual rewrite.  Yields the rewritten predicate and drops
        the views on exit (writers evaluate and commit synchronously,
        so the views' lifetime is the call).  No glue refs → the text
        passes through untouched (plain temp-view subqueries already
        resolve by name)."""
        refs = (
            get_query_glue_table_refs(text, strict=False)
            if "(" in text
            else []
        )
        if not refs:
            yield text
            return
        token = next(self._view_seq)
        names = {
            ref: f"{ref.view_name}__pred_q{token}_{i}"
            for i, ref in enumerate(refs)
        }
        # the wrapped shape gives the pruning extractor a valid
        # query context; unprovable predicates prune nothing (the
        # conservative default)
        self._register_views(
            refs, names, f"SELECT * FROM __dml WHERE {text}", None
        )
        try:
            yield rewrite_query(text, refs, names)
        finally:
            for n in names.values():
                self.spark.catalog.dropTempView(n)

    def _register_views(
        self,
        refs: list[TableReference],
        names: dict[TableReference, str],
        query: str,
        travel: dict | None = None,
    ) -> None:
        """Per-table work runs in a thread pool like the reference's
        ``Promise.all`` (/root/reference/src/glue-table-cache.ts:265)."""
        if not refs:
            return
        travel = travel or {}
        if len(refs) == 1:
            self._setup_view(
                refs[0], names[refs[0]], query, travel.get(refs[0])
            )
        else:
            with ThreadPoolExecutor(max_workers=min(8, len(refs))) as pool:
                list(
                    pool.map(
                        lambda r: self._setup_view(
                            r, names[r], query, travel.get(r)
                        ),
                        refs,
                    )
                )

    def set_credentials(self, credentials: Credentials) -> None:
        """Reference ``setCredentials``
        (/root/reference/src/glue-table-cache.ts:87-95): swap static
        AWS credentials at runtime.  Validation (empty secret →
        ``No secretAccessKey``) lives in :class:`Credentials` itself —
        construct one to trigger it, exactly like the reference throws
        before storing."""
        self._apply_credentials(credentials, self.config.region)

    def _apply_credentials(
        self, creds: Credentials | None, region: str | None
    ) -> None:
        """Map credentials onto ``fs.s3a.*`` Hadoop conf — the
        Spark-side equivalent of the reference's
        ``CREATE SECRET (TYPE S3, KEY_ID …, SECRET …, REGION …)``
        (/root/reference/src/glue-table-cache.ts:100-113).  With no
        credentials the s3a default provider chain applies, which is
        the reference's ``PROVIDER CREDENTIAL_CHAIN`` branch
        (glue-table-cache.ts:114-117)."""
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        if creds is not None:
            hconf.set("fs.s3a.access.key", creds.access_key_id)
            hconf.set("fs.s3a.secret.key", creds.secret_access_key)
            if creds.session_token:
                hconf.set("fs.s3a.session.token", creds.session_token)
                hconf.set(
                    "fs.s3a.aws.credentials.provider",
                    "org.apache.hadoop.fs.s3a."
                    "TemporaryAWSCredentialsProvider",
                )
            else:
                # rotating from temporary to static credentials must
                # clear the stale token and the pinned Temporary
                # provider, or s3a keeps signing with the expired token
                hconf.unset("fs.s3a.session.token")
                hconf.unset("fs.s3a.aws.credentials.provider")
            # Hadoop caches S3AFileSystem per (scheme, authority, UGI)
            # with the provider chain captured at FS creation — conf
            # edits alone never reach already-visited buckets.  Close
            # cached instances so the next read builds a fresh FS with
            # the new chain.  Scope the close to the current UGI
            # (closeAllForUGI) rather than FileSystem.closeAll(), which
            # would tear down every cached filesystem JVM-wide.
            # CONCURRENCY HAZARD: even UGI-scoped, closing yanks
            # filesystems out from under in-flight tasks and streaming
            # checkpoints of THIS user ("Filesystem closed" failures).
            # Rotate credentials at a quiet point, or pre-set
            # fs.s3a.impl.disable.cache=true for sessions that must
            # rotate under concurrent load (per-access FS construction
            # cost, but no shared instance to invalidate).
            try:
                jvm = self.spark.sparkContext._jvm
                if hconf.get("fs.s3a.impl.disable.cache") == "true":
                    pass  # nothing cached; new conf applies per access
                else:
                    ugi = (
                        jvm.org.apache.hadoop.security.UserGroupInformation
                        .getCurrentUser()
                    )
                    jvm.org.apache.hadoop.fs.FileSystem.closeAllForUGI(ugi)
            except Exception:  # pragma: no cover - py4j-less test stub
                pass
        if region:
            hconf.set("fs.s3a.endpoint.region", region)

    def get_table_partitions(
        self, database: str, table: str
    ) -> PartitionListing:
        """Partition metadata with the reference's degrade-gracefully
        posture (/root/reference/src/util/glue.ts:130-133): a failing
        partitions API warns and yields an empty listing instead of
        failing the query — the field is informational, pruning works
        from partition *keys* + path extraction."""
        try:
            return self.store.get_partitions(database, table)
        except Exception as exc:  # noqa: BLE001 - parity: warn-and-continue
            logging.getLogger(__name__).warning(
                "Failed to load partitions for %s_%s: %s",
                database, table, exc,
            )
            return PartitionListing()

    def get_table_metadata_cached(self, database: str, table: str) -> CatalogTable:
        return self._metadata_cache.get_or_load(
            table_cache_key(database, table),
            lambda: self.store.get_table(database, table),
        )

    def list_table_files_cached(self, table: CatalogTable) -> list[FileInfo]:
        if not table.location:
            raise NoStorageLocationError(table.database, table.name)
        keys = [k.name for k in table.partition_keys]
        return self._cached_listing(
            table,
            listing_cache_key(table.location, keys),
            lambda: self._list_files(table),
        )

    def _list_files_maybe_pruned(
        self, tbl: CatalogTable, query: str | None, predicate
    ) -> tuple[list[FileInfo], "ListingStats | None"]:
        """The r14 prefix-pruned listing behind the same
        predicate-fingerprint caching as the table-format walks
        (:meth:`_cached_listing`); a walk that pruned no prefix IS the
        full listing.  Returns ``(files, stats)`` — ``stats`` is
        ``None`` on the flat path (then an empty list means a truly
        empty table)."""
        if predicate is None or not tbl.location:
            return self.list_table_files_cached(tbl), None
        from glue_table_cache_spark.meta_prune import _fingerprint

        keys = [k.name for k in tbl.partition_keys]
        fp = _fingerprint(
            query, keys, {tbl.name, tbl.qualified_name}, False
        )
        if fp is None:
            return self.list_table_files_cached(tbl), None

        def loader():
            stats = ListingStats()
            return self._list_files(tbl, predicate, stats), stats

        value = self._cached_listing(
            tbl,
            listing_cache_key(tbl.location, keys),
            loader,
            fp,
            lambda v: None if v[1].prefixes_pruned else v[0],
        )
        # a live bare entry is the flat listing itself; a walk caches
        # its (files, stats) pair
        return value if isinstance(value, tuple) else (value, None)

    def invalidate_table(self, database: str, table: str) -> None:
        """Reference ``invalidateTable``
        (/root/reference/src/glue-table-cache.ts:206-215): drop the
        metadata entry and the table's file listing.

        The reference sweeps listing keys by the ``db_tbl`` substring,
        but listing keys are ``location:keys`` and rarely contain it —
        stale listings survive invalidation there.  We resolve the
        exact listing key via the ``_listing_keys`` side-map (recorded
        when the listing was cached, so it works even after the
        metadata entry was LRU-evicted or TTL-expired — peek() alone
        would miss and leave the stale listing serving), falling back
        to the cached metadata's location, plus the substring sweep for
        parity with any location that does embed the table name."""
        meta_key = table_cache_key(database, table)
        with self._keys_lock:
            tracked = list(self._listing_keys.pop(meta_key, {}))
        for lkey in tracked:
            self._listing_cache.invalidate(lkey)
        cached = self._metadata_cache.peek(meta_key)
        if cached is not None and cached.location:
            keys = [k.name for k in cached.partition_keys]
            self._listing_cache.invalidate(
                listing_cache_key(cached.location, keys)
            )
        self._metadata_cache.invalidate(meta_key)
        self._listing_cache.invalidate_matching(meta_key)
        self._footer_memos.invalidate(meta_key)

    def clear_cache(self) -> None:
        self._metadata_cache.clear()
        self._listing_cache.clear()
        self._listing_keys.clear()
        self._footer_memos.clear()

    # -- view construction ---------------------------------------------------

    def table_dataframe(
        self, database: str, table: str, query: str | None = None
    ) -> DataFrame:
        """DataFrame over one glue table, with pruning hints from
        ``query`` when given."""
        tbl = self.get_table_metadata_cached(database, table)
        return self._dataframe_for(tbl, query)

    def _setup_view(
        self,
        ref: TableReference,
        view_name: str,
        query: str,
        travel: tuple | None = None,
    ) -> None:
        tbl = self.get_table_metadata_cached(ref.database, ref.table)
        df = self._dataframe_for(tbl, query, travel)
        df.createOrReplaceTempView(view_name)

    def _cached_listing(
        self,
        tbl: CatalogTable,
        bare: str,
        load: Callable,
        fingerprint: str | None = None,
        full: Callable = lambda value: value,
    ):
        """A table's file listing or format metadata walk (Delta log
        replay, Iceberg manifest walk, Hudi timeline walk) through
        the LISTING cache — the same LRU+TTL+single-flight treatment
        the reference gives its S3 listings (its
        ``src/glue-table-cache.ts:349-466``), because
        these walks are the format's own file listing.
        ``s3_listing_ttl_ms`` bounds staleness; a new commit/snapshot
        is visible after TTL expiry or an explicit
        ``invalidate_table``.  Cached values are treated as immutable
        — every consumer rebuilds its own filtered lists.

        ``bare`` keys the FULL set, which answers every query.  A walk
        that can pre-prune by the query's WHERE clause (r13
        distributed decode, r14 prefix-pruned listing) passes the
        predicate's ``fingerprint``: a live bare entry is still
        preferred, else the walk runs INSIDE ``get_or_load`` on
        ``<bare>#w:<fingerprint>`` (per-key single-flight and
        retry/backoff), so no other query ever serves from a narrowed
        set.  ``full(value)`` is the full set to share under the bare
        key, or ``None`` when the walk did prune.  A bare entry that
        is freshly loaded or served retires every other ``#w:``
        entry: a narrower snapshot must never outlive a fresher full
        walk (if the bare entry later evicts or expires, the same
        query's view of the table would move BACKWARD within one TTL
        window).  Every key is recorded for ``invalidate_table``
        after its entry exists."""
        key = bare
        if fingerprint is not None:
            hit = self._listing_cache.peek(bare)
            if hit is not None:
                self._track_listing_key(tbl, bare)
                self._drop_pruned_keys(tbl, bare)
                return hit
            key = f"{bare}#w:{fingerprint}"
        loaded: list = []

        def loader():
            loaded.append(True)
            return load()

        value = self._listing_cache.get_or_load(key, loader)
        self._track_listing_key(tbl, key)
        shared = full(value) if loaded else None
        if shared is not None:
            if key != bare:
                self._listing_cache.get_or_load(bare, lambda: shared)
                self._track_listing_key(tbl, bare)
            self._drop_pruned_keys(tbl, bare, keep=key)
        return value

    #: bound on tracked cache keys per table: each distinct pushed
    #: predicate adds one fingerprint key, each distinct scan path list
    #: one schema key, and a long-lived engine serving ad-hoc WHEREs
    #: must not grow the side-map forever
    _MAX_TRACKED_KEYS = 64

    #: markers of the scoped keys the cap may evict: a pushed
    #: predicate's fingerprint, a scan path list's digest
    _SCOPED_KEY_MARKERS = ("#w:", "#schema:")

    def _track_listing_key(self, tbl: CatalogTable, key: str) -> None:
        """Record ``key`` for invalidate_table.  At the cap, the least
        recently recorded scoped key is evicted from the CACHE before
        being dropped from the map — the invariant that every live
        cache entry has an invalidation record survives."""
        with self._keys_lock:
            keys = self._listing_keys.setdefault(
                table_cache_key(tbl.database, tbl.name), {}
            )
            if key not in keys and len(keys) >= self._MAX_TRACKED_KEYS:
                victim = next(
                    (
                        k
                        for k in keys
                        if any(m in k for m in self._SCOPED_KEY_MARKERS)
                    ),
                    None,
                )
                if victim is not None:
                    self._listing_cache.invalidate(victim)
                    del keys[victim]
            keys.pop(key, None)
            keys[key] = None

    def _drop_pruned_keys(
        self, tbl: CatalogTable, bare: str, keep: str | None = None
    ) -> None:
        """Invalidate every tracked predicate-fingerprint entry under
        ``bare`` (except ``keep``): called whenever a full-set bare
        entry is freshly loaded or served, so a ``#w:`` entry can
        never outlive a newer full walk and time-travel a repeat
        query backward."""
        prefix = f"{bare}#w:"
        with self._keys_lock:
            keys = self._listing_keys.get(
                table_cache_key(tbl.database, tbl.name), {}
            )
            for k in [
                k for k in keys if k.startswith(prefix) and k != keep
            ]:
                self._listing_cache.invalidate(k)
                del keys[k]

    @staticmethod
    def _travel_timestamp_ms(literal: str) -> int:
        """Parse a ``TIMESTAMP AS OF`` literal to epoch ms (naive
        timestamps are UTC — the engine pins the session timezone)."""
        import datetime

        txt = str(literal).strip().replace(" ", "T", 1)
        if txt.endswith("Z"):
            txt = txt[:-1] + "+00:00"
        try:
            dt = datetime.datetime.fromisoformat(txt)
        except ValueError as exc:
            raise GlueSparkError(
                f"unparseable TIMESTAMP AS OF literal {literal!r}"
            ) from exc
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        return int(dt.timestamp() * 1000)

    def _delta_travel_kwargs(self, location: str, travel) -> dict:
        if travel is None:
            return {}
        kind, val = travel
        if kind == "timestamp":
            return {
                "as_of_timestamp_ms": self._travel_timestamp_ms(val)
            }
        from glue_table_cache_spark.streaming.delta_source import (
            _latest_version,
        )

        latest = _latest_version(location)
        if not isinstance(val, int) or val > latest:
            raise GlueSparkError(
                f"Delta version {val!r} does not exist at "
                f"{location!r} (latest {latest})"
            )
        return {"version_offset": latest - val}

    def _iceberg_travel_kwargs(self, location: str, travel) -> dict:
        if travel is None:
            return {}
        kind, val = travel
        if kind == "timestamp":
            return {
                "as_of_timestamp_ms": self._travel_timestamp_ms(val)
            }
        if isinstance(val, str):
            # VERSION AS OF '<name>': a named ref (tag/branch) from
            # the metadata's refs map — resolution and expired-target
            # refusal live in the scan walk
            return {"as_of_ref": val}
        from glue_table_cache_spark.sources.iceberg import (
            _list_metadata_jsons,
            _read_json,
        )

        seqs = sorted(
            _read_json(p).get("last-sequence-number", 0)
            for p in _list_metadata_jsons(location, fs=self._fs)
        )
        if val not in seqs:
            raise GlueSparkError(
                f"Iceberg sequence number {val!r} does not exist at "
                f"{location!r} (have {seqs})"
            )
        return {"version_offset": len(seqs) - 1 - seqs.index(val)}

    def _empty_scan(
        self,
        schema=None,
        sample_path: str | None = None,
        base_path: str | None = None,
    ) -> DataFrame:
        """Empty relation for a scan whose pruning dropped every file:
        it must carry the REAL schema (the format's metadata schema
        when known, else one sampled footer) so downstream column
        references still resolve — ``WHERE tag = 'x'`` over a
        fully-skipped table is an empty RESULT, not an analysis error.
        Only a table with no schema source at all (never held a file)
        degrades to the reference's ``SELECT NULL LIMIT 0`` shape
        (/root/reference/src/sql-transformer.ts:320-322)."""
        if schema is not None:
            return local_frame(self.spark, [], schema)
        if sample_path:
            reader = self.spark.read
            if base_path:
                reader = reader.option("basePath", base_path)
            return reader.parquet(*self._proxy([sample_path])).limit(0)
        return self.spark.range(0).select(F.lit(None).alias("null"))

    def _prune_and_skip(
        self,
        tbl: CatalogTable,
        query: str | None,
        files: list[FileInfo],
        keys: list[str],
        spec: list[dict] | None = None,
        stats: Callable[[list[FileInfo], frozenset[str]], list | None]
        | None = None,
    ) -> list[FileInfo]:
        """The one file-selection pass every read path runs over its
        metadata walk — the reference's single ``SELECT list(path)
        FROM listing WHERE …`` (its
        ``src/glue-table-cache.ts:323-333``).
        ``files`` carry each file's partition values as the format
        records them: path ``k=v`` segments, a Delta add's
        ``partitionValues``, an Iceberg manifest's partition tuple, a
        Hudi write stat's partition path.

        1. Identity pruning: the WHERE clause over ``keys``.
        2. Transform pruning: predicates on the SOURCE columns of
           ``spec`` (``[{"name", "transform", "source"}]`` — Iceberg
           hidden partitions, Delta generated partition columns)
           rewritten soundly into the transformed values the files
           record (monotone bounds / bucket equality; anything else
           stays Unknown).
        3. Zone-map skipping, when the WHERE clause constrains a
           column other than ``keys``: ``stats(kept, columns)`` gives
           one :class:`~glue_table_cache_spark.skipping.FileStats` (or
           ``None``) per surviving file, or ``None`` for no skipping;
           ``columns`` are the names the predicate reads, which a
           source may limit its zone maps to.
           It is not called otherwise, so a partition-only query
           decodes no zone map and reads no footer.  The stats are
           the walk's own (Delta ``add.stats``, Iceberg manifest
           bounds) or parquet footers (:meth:`_footer_stats`: Hive,
           unpartitioned and projection listings, Hudi
           COPY_ON_WRITE).  Hudi MERGE_ON_READ passes none: a log
           record can move a row into a range its base file's footer
           rules out.  A partition key's value is the one step 1
           applied; a file may still carry a same-named column with
           other values, so keys never skip here.

        Steps 1 and 2 AND into one predicate for one ``prune_files``
        call.  Every step is conservative three-valued logic: a file
        is dropped only when its metadata PROVES no row can match, so
        the full WHERE clause still runs over what is kept.  Returns
        the kept files in input order."""
        if not query or not files or not (keys or spec or stats):
            return files
        where = parse_where_clause(query)
        idents = {tbl.name.lower(), tbl.qualified_name.lower()}
        if keys or spec:
            preds = []
            if keys:
                preds.append(
                    build_predicate(where, {k.lower() for k in keys}, idents)
                )
            if spec:
                from glue_table_cache_spark.sources.iceberg_partitioning import (  # noqa: E501
                    transform_partition_predicate,
                )

                srcs = {f["source"].lower() for f in spec if f["source"]}
                preds.append(
                    transform_partition_predicate(
                        build_predicate(where, srcs, idents), spec
                    )
                )
            live = [p for p in preds if not isinstance(p, TruePredicate)]
            files = prune_files(
                files,
                And(tuple(live)) if len(live) > 1
                else live[0] if live else TruePredicate(),
            )
        if stats is None or not files:
            return files
        pred = build_predicate(where, AllColumnsExcept(keys), idents)
        if isinstance(pred, TruePredicate):
            return files
        per_file = stats(files, predicate_columns(pred))
        if per_file is None:
            return files
        from glue_table_cache_spark.skipping import skip_files

        keep = skip_files(
            [(f.path, st) for f, st in zip(files, per_file)], pred
        )
        return [f for f in files if f.path in keep]

    def _footer_stats(
        self, tbl: CatalogTable
    ) -> Callable[[list[FileInfo], frozenset[str]], list | None] | None:
        """:meth:`_prune_and_skip`'s ``stats`` for a plain-parquet file
        list, from each file's parquet footer, or ``None`` when
        skipping is off or the table is not parquet.

        The table's :class:`~glue_table_cache_spark.skipping.FooterMemo`
        lives in an engine cache of its own, keyed by the table and
        bounded like the listing cache (``max_entries`` tables, the
        listing TTL); ``invalidate_table`` and ``clear_cache`` drop
        it.  It keys each local file by path and a fresh stat, so a
        file rewritten in place is read again; ``s3://`` objects by
        key alone, so an object rewritten in place needs
        ``invalidate_table`` (see the memo).  A list over
        ``max_explicit_files`` is never read: the explicit path
        reroutes it to the directory scan."""
        if not (self.config.stats_skipping and tbl.data_format == "parquet"):
            return None

        def stats(
            kept: list[FileInfo], columns: frozenset[str] | None = None
        ) -> list | None:
            if len(kept) > self.config.max_explicit_files:
                return None
            memo = self._footer_memos.get_or_load(
                table_cache_key(tbl.database, tbl.name),
                lambda: self._new_footer_memo(tbl),
            )
            return memo.stats([f.path for f in kept], columns)

        return stats

    def _new_footer_memo(self, tbl: CatalogTable) -> FooterMemo:
        client = None
        if tbl.location.startswith("s3://"):
            # footers are read through the client the engine lists with
            client = getattr(
                self._fs or filesystem_for(tbl.location), "client", None
            )
        return FooterMemo(client)

    @staticmethod
    def _kept_entries(
        entries: list[tuple], files: list[FileInfo], kept: list[FileInfo]
    ) -> list[tuple]:
        """``entries`` (walk tuples, path first) whose file survived
        :meth:`_prune_and_skip` (``files`` in, ``kept`` out)."""
        if len(kept) == len(files):
            return entries
        paths = {f.path for f in kept}
        return [e for e in entries if e[0] in paths]

    def _format_walk(
        self,
        tbl: CatalogTable,
        travel: tuple | None,
        load: Callable,
        factory=None,
    ):
        """A format's metadata walk: through the listing cache for the
        current state, uncached for a time-travel state."""
        if travel is not None:
            return load()
        bare = f"format-scan:{tbl.location}"
        if factory is None:
            return self._cached_listing(tbl, bare, load)

        def fresh():
            factory.applied = False
            return load()

        # below the distribution gate pushdown never engages: the
        # walk is the full active set and is shared under the bare key
        return self._cached_listing(
            tbl,
            bare,
            fresh,
            factory.fingerprint,
            lambda v: None if factory.applied else v,
        )

    @staticmethod
    def _in_schema_order(df: DataFrame, schema) -> DataFrame:
        """Reorder ``df`` to the format metadata schema's column order.
        Spark appends hive-partition columns at the END of a file scan
        even under an explicit schema, and inference-path scans can
        surface columns out of declared order; the metadata order is
        authoritative (positional INSERT depends on it)."""
        if schema is not None:
            want = [f.name for f in schema.fields]
            if set(want) == set(df.columns) and want != df.columns:
                return df.select(*want)
        return df

    def _dataframe_for(
        self,
        tbl: CatalogTable,
        query: str | None,
        travel: tuple | None = None,
    ) -> DataFrame:
        if not tbl.location:
            raise NoStorageLocationError(tbl.database, tbl.name)
        ttype = tbl.table_type
        if ttype in (
            ETableType.HIVE,
            ETableType.UNPARTITIONED,
            ETableType.GLUE_PROJECTED,
        ) and self.config.misclassified_format_guard:
            self._refuse_misclassified_format(tbl)
        if travel is not None and ttype not in (
            ETableType.DELTA,
            ETableType.ICEBERG,
            ETableType.HUDI,
        ):
            raise GlueSparkError(
                f"VERSION/TIMESTAMP AS OF is supported for DELTA, "
                f"ICEBERG, and HUDI tables; "
                f"glue.{tbl.database}.{tbl.name} is {ttype.name}"
            )
        if travel is not None and ttype == ETableType.HUDI:
            if travel[0] == "timestamp":
                # TIMESTAMP AS OF resolves through the timeline's own
                # wall clocks (r12): 1.x names carry the completion
                # timestamp, legacy names the request stamp; instant
                # spellings that are not wall clocks refuse in the
                # resolver rather than guessing
                from glue_table_cache_spark.sources.hudi import (
                    hudi_instant_for_wallclock,
                )

                travel = (
                    "version",
                    hudi_instant_for_wallclock(
                        tbl.location,
                        self._travel_timestamp_ms(travel[1]),
                        fs=self._fs,
                    ),
                )
            if not isinstance(travel[1], int):
                raise GlueSparkError(
                    f"Hudi VERSION AS OF {travel[1]!r}: named refs "
                    "are an Iceberg feature; Hudi instants are "
                    "numeric"
                )
        if ttype == ETableType.HUDI:
            # beyond the reference (which enumerates HUDI but never
            # reads it): COPY_ON_WRITE timeline walk — latest file
            # slice per live file group; MERGE_ON_READ merges the
            # un-compacted log blocks over the base rows
            from glue_table_cache_spark.sources.hudi import (
                _table_type,
                _timeline_files,
                hudi_mor_scan_info,
                hudi_scan_info,
                hudi_table_schema,
            )

            kw = {
                "fs": self._fs,
                "as_of_instant": int(travel[1]) if travel else None,
            }

            def _walk_hudi():
                timeline = _timeline_files(tbl.location, fs=self._fs)
                if _table_type(timeline) == "MERGE_ON_READ":
                    return ("MOR",) + hudi_mor_scan_info(tbl.location, **kw)
                return (
                    "COW",
                    hudi_scan_info(tbl.location, **kw),
                    hudi_table_schema(tbl.location, **kw),
                )

            walk = self._format_walk(tbl, travel, _walk_hudi)
            if walk[0] == "MOR":
                from glue_table_cache_spark.sources.hudi_mor import (
                    DEFAULT_RECORD_KEY,
                    hudi_mor_read,
                )

                base_entries, log_entries = walk[1], walk[2]
                # TIMELINE-METADATA partition pruning, BOTH sides: a
                # Hudi file group and its log files live in exactly
                # one partition (the write stats record it), so
                # pruning bases and logs with the same predicate
                # cannot orphan log records
                files = [
                    FileInfo(p, pv) for p, pv, _t in base_entries
                ] + [FileInfo(p, pv) for p, _t, pv in log_entries]
                kept = self._prune_and_skip(
                    tbl, query, files, self._hudi_prune_keys(tbl, files)
                )
                base_entries = self._kept_entries(base_entries, files, kept)
                log_entries = self._kept_entries(log_entries, files, kept)
                base_paths = self._proxy([e[0] for e in base_entries])
                log_paths = self._proxy([e[0] for e in log_entries])
                return hudi_mor_read(
                    self.spark,
                    [
                        (pp, pv, ts)
                        for pp, (_p, pv, ts) in zip(base_paths, base_entries)
                    ],
                    [
                        (pp, t, pv)
                        for pp, (_p, t, pv) in zip(log_paths, log_entries)
                    ],
                    record_key_field=tbl.parameters.get(
                        "hoodie.table.recordkey.fields",
                        DEFAULT_RECORD_KEY,
                    ),
                    base_path=tbl.location,
                )
            # TIMELINE-METADATA partition pruning from the write stats'
            # partition paths (hive-style layouts only; others carry
            # no values)
            files = [FileInfo(p, pv) for p, pv in walk[1]]
            kept = self._prune_and_skip(
                tbl, query, files, self._hudi_prune_keys(tbl, files),
                stats=self._footer_stats(tbl),
            )
            paths = self._proxy([f.path for f in kept])
            schema = walk[2]
            if not paths:
                return self._empty_scan(
                    schema=schema,
                    sample_path=files[0].path if files else None,
                    base_path=tbl.location,
                )
            # same basePath treatment as DELTA: hudi partition paths
            # are usually hive-style <k>=<v> directories.  The newest
            # commit's extraMetadata.schema (when a writer recorded
            # one) is the authoritative scan schema for EVOLVED tables
            # — pre-evolution base files surface nulls for added
            # columns, independent of scan order; partition columns in
            # it resolve typed from the k=v directories.  Without one
            # the inferred schema is cached per path list
            return self._in_schema_order(
                self._read_paths(
                    paths, base_path=tbl.location, tbl=tbl, schema=schema
                ),
                schema,
            )
        if ttype == ETableType.DELTA:
            # beyond the reference (which never handles DELTA): resolve
            # the ACTIVE file set from the transaction log — a raw
            # directory scan would read removed/orphan files — and mask
            # DV-deleted rows via the row_index anti-join
            from glue_table_cache_spark.sources.delta import (
                apply_column_mapping,
                apply_deletion_vectors,
                delta_scan_info,
                read_parquet_files,
            )

            # r13: push the query's partition/stats predicates INTO
            # the distributed checkpoint decode — above the
            # distribution gate the driver collects only surviving
            # adds instead of the full active set.  The driver prunes
            # below still run (idempotent over survivors) so the
            # final kept set is identical with or without pushdown.
            from glue_table_cache_spark.meta_prune import (
                delta_prune_factory,
            )

            keys = [k.name for k in tbl.partition_keys]
            prune_factory = delta_prune_factory(
                query,
                keys,
                {tbl.name, tbl.qualified_name},
                self.config.stats_skipping,
            )
            travel_kwargs = self._delta_travel_kwargs(tbl.location, travel)
            entries, renames, log_schema, gen_fields = self._format_walk(
                tbl,
                travel,
                lambda: delta_scan_info(
                    tbl.location, fs=self._fs, with_schema=True,
                    with_stats=True, with_partition_fields=True,
                    allow_nested_mapping=True,
                    prune_factory=prune_factory, **travel_kwargs,
                ),
                prune_factory,
            )
            stats_by_path = {p: s for p, _pv, _dv, s in entries}
            # LOG-METADATA pruning and skipping: the transaction log
            # already records partitionValues and stats per file, so
            # partition and data-column predicates drop files BEFORE
            # the reader sees their paths — at large file counts the
            # difference between handing Spark 10k paths and 1M.  The
            # metaData's partitionColumns (gen_fields, LOGICAL names)
            # prune even when the catalog registered no partition
            # keys, and a partition column generated from another
            # column (CAST(ts AS DATE), YEAR(ts), DATE_FORMAT,
            # DATE_TRUNC) prunes from predicates on the SOURCE
            # column.  Column-mapped tables (r14) key partitionValues
            # and stats by PHYSICAL name — translated
            # physical→logical through `renames` (unknown physical
            # stats keys dropped) so logical-name predicates prune
            # and skip them too.
            files = [
                FileInfo(
                    p,
                    pv
                    if renames is None
                    else {renames.get(k, k): v for k, v in (pv or {}).items()},
                )
                for p, pv, _dv, _s in entries
            ]
            stats = None
            if self.config.stats_skipping:
                from glue_table_cache_spark.skipping import delta_file_stats

                def stats(kept, _columns):
                    return [
                        delta_file_stats(
                            stats_by_path.get(f.path), renames=renames
                        )
                        for f in kept
                    ]

            entries = self._kept_entries(
                [(p, pv, dv) for p, pv, dv, _s in entries],
                files,
                self._prune_and_skip(
                    tbl, query, files, keys, gen_fields, stats
                ),
            )
            paths = self._proxy([p for p, _pv, _dv in entries])
            if not paths:
                # pruned-to-zero keeps the REAL user-visible schema:
                # the log's logical schema covers mapped and unmapped
                # tables alike (r14 — previously a mapped table
                # footer-sampled a surviving path, which an
                # executor-pruned walk may not have collected)
                if log_schema is not None:
                    return self._empty_scan(schema=log_schema)
                first = next(iter(stats_by_path), None)
                df0 = self._empty_scan(
                    sample_path=first, base_path=tbl.location
                )
                return (
                    apply_column_mapping(
                        df0, renames, logical_schema=log_schema
                    )
                    if first is not None
                    else df0
                )
            # read_parquet_files surfaces hive-style k=v partition
            # dirs as partition columns (basePath = each file's
            # partition root) and handles the SHALLOW CLONE case
            # where the active set spans the source directory AND the
            # clone's own.  The log's schemaString is the
            # authoritative scan schema for EVOLVED tables
            # (pre-evolution files surface nulls for added columns,
            # independent of scan order); not applied for
            # column-mapped tables, whose files carry physical names
            # the rename projection handles
            unmapped_schema = log_schema if renames is None else None
            df = read_parquet_files(
                self.spark, tbl.location, paths, schema=unmapped_schema
            )
            # keyed on the PROXIED path — the one _metadata.file_path
            # will report for the scan Spark actually performed.
            # DVs first (they need _metadata), then the logical rename
            proxied = [
                (pp, pv, dv)
                for pp, (_p, pv, dv) in zip(paths, entries)
            ]
            df = apply_deletion_vectors(df, proxied, tbl.location)
            # read_parquet_files materializes _metadata across a
            # multi-root (shallow-clone) union; never user-visible
            df = apply_column_mapping(
                df, renames, logical_schema=log_schema
            ).drop("_metadata")
            return self._in_schema_order(df, unmapped_schema)
        if ttype == ETableType.ICEBERG:
            from glue_table_cache_spark.sources.iceberg import (
                apply_equality_deletes,
                apply_position_deletes,
                iceberg_scan_details,
            )

            # r13: same predicate pushdown as the Delta branch — the
            # distributed manifest decode drops data-manifest entries
            # the query's partition/stats predicates disprove before
            # they ever reach the driver
            from glue_table_cache_spark.meta_prune import (
                iceberg_prune_factory,
            )

            keys = [k.name for k in tbl.partition_keys]
            ice_prune = iceberg_prune_factory(
                query,
                keys,
                {tbl.name, tbl.qualified_name},
                self.config.stats_skipping,
            )
            travel_kwargs = self._iceberg_travel_kwargs(tbl.location, travel)
            entries, dels, eq_dels, ice_schema, ice_spec, (
                ice_renames, ice_dead
            ) = self._format_walk(
                tbl,
                travel,
                lambda: iceberg_scan_details(
                    tbl.location, fs=self._fs, with_stats=True,
                    with_schema=True, with_spec=True,
                    with_mapping=True, prune_factory=ice_prune,
                    **travel_kwargs,
                ),
                ice_prune,
            )
            iceberg_stats = {p: s for p, _pv, _seq, s in entries}
            # MANIFEST-METADATA pruning and skipping — same shape as
            # the DELTA branch: the manifests record each file's
            # partition tuple and lower/upper bounds.  The spec's
            # transform fields (day(ts), bucket(N, id), truncate(W,
            # s)) carry TRANSFORMED values keyed by the spec field's
            # name, and its identity fields prune even on catalogs
            # that never registered partition keys — the common shape
            # for Iceberg entries in Glue.  Safe with row-level
            # deletes: deletes only ever REMOVE rows from the
            # surviving files, so pruning first cannot change the
            # result.
            files = [FileInfo(p, pv) for p, pv, _seq, _s in entries]
            stats = None
            if self.config.stats_skipping:
                # zone maps decode here, for the partition survivors
                # only (the walk keeps them as raw manifest bytes)
                def stats(kept, _columns):
                    return [iceberg_stats[f.path].resolve() for f in kept]

            entries = self._kept_entries(
                [(p, pv, seq) for p, pv, seq, _s in entries],
                files,
                self._prune_and_skip(
                    tbl, query, files, keys, ice_spec, stats
                ),
            )
            raw_paths = [p for p, _pv, _seq in entries]
            paths = self._proxy(raw_paths)
            if not paths:
                return self._empty_scan(
                    schema=ice_schema,
                    sample_path=next(iter(iceberg_stats), None),
                )
            # SCAN SCHEMA AUTHORITY + partition-column recovery.  The
            # metadata's current schema (not a sampled footer) types
            # the scan, so evolved tables surface nulls for
            # later-added columns regardless of scan order.  Identity
            # partition columns need one extra step: writers that
            # partition hive-style (this repo's
            # ``write_iceberg_append`` among them) store the value in
            # the directory name, NOT the data file — a leaf-file read
            # would silently drop the column (or, worse, surface it
            # all-null if the schema were force-applied).  One footer
            # read (metadata-scale, what Spark's own inference does)
            # decides per partition key: present in the data files →
            # scan it like any column; absent → drop it from the scan
            # schema and re-attach from the path via the same typed
            # extractors the hive listing path uses.
            # identity-spec columns need the same recovery even when
            # the catalog registered no partition keys (the common
            # Glue shape for Iceberg): the spec field's tuple value
            # is the column value, so a hive-style layout that keeps
            # it out of the data files is recoverable
            from glue_table_cache_spark.sources.iceberg_partitioning import (
                parse_transform,
            )

            part_cols = keys + [
                f["name"]
                for f in ice_spec or []
                if parse_transform(f["transform"])[0] == "identity"
                and f["name"] == f["source"]
                and f["name"] not in keys
            ]
            missing_keys: list[str] = []
            scan_schema = None
            if ice_schema is not None:
                from glue_table_cache_spark.skipping import (
                    parquet_file_columns,
                )

                # one footer peek per (file, TTL) — repeat queries on
                # the same snapshot pay a cache hit, not IO.  None:
                # can't prove whether the files carry the partition
                # columns — forcing the schema could surface them
                # all-null, so this scan keeps inference
                file_cols = (
                    self._listing_cache.get_or_load(
                        f"footer-cols:{raw_paths[0]}",
                        lambda: parquet_file_columns(raw_paths[0]),
                    )
                    if part_cols
                    else set()
                )
                if file_cols is not None:
                    drop = {k for k in part_cols if k.lower() not in file_cols}
                    missing_keys = [
                        f.name for f in ice_schema.fields if f.name in drop
                    ]
                    kept = [
                        f for f in ice_schema.fields if f.name not in drop
                    ]
                    if kept:
                        from pyspark.sql.types import StructType

                        scan_schema = StructType(kept)
            # RENAMED tables read under the on-disk (physical)
            # spellings pinned by the name mapping; the logical
            # projection happens after the row-level deletes, which
            # operate on the raw scan's hidden _metadata column
            from glue_table_cache_spark.sources.iceberg import (
                iceberg_physical_schema,
                project_iceberg_logical,
            )

            read_schema = iceberg_physical_schema(
                scan_schema, ice_renames
            )
            df = self._read_paths(paths, base_path=None, schema=read_schema)
            if missing_keys:
                df = self._attach_iceberg_partition_values(
                    df,
                    list(zip(paths, (pv for _p, pv, _s in entries))),
                    missing_keys,
                    {f.name: f.dataType for f in ice_schema.fields},
                    tbl,
                )
            df = apply_position_deletes(df, self._proxy(dels))
            # keyed on the PROXIED path — what _metadata.file_path
            # reports for the scan Spark actually performed
            proxied_entries = [
                (pp, pv, seq)
                for pp, (_p, pv, seq) in zip(paths, entries)
            ]
            if eq_dels:
                # the scan still carries PHYSICAL spellings here —
                # translate the delete columns (resolved to logical
                # names by field id) back to what the files spell
                inv = {v: k for k, v in ice_renames.items()}
                eq_dels = [
                    {
                        **d,
                        "path": self._proxy([d["path"]])[0],
                        "columns": [
                            inv.get(c, c)
                            for c in (d.get("columns") or [])
                        ],
                    }
                    for d in eq_dels
                ]
            df = apply_equality_deletes(df, proxied_entries, eq_dels)
            df = project_iceberg_logical(df, ice_renames, ice_dead)
            return self._in_schema_order(df, ice_schema)
        return self._explicit_list_dataframe(tbl, query)

    def _explicit_list_dataframe(
        self, tbl: CatalogTable, query: str | None
    ) -> DataFrame:
        """Reference-style scan: pre-listed, pruned explicit file list —
        the only read path for HIVE, UNPARTITIONED and GLUE_PROJECTED
        tables, as in the reference (``glue-table-cache.ts:292-333``).

        r14: when the query carries a partition predicate, the LISTING
        itself is prefix-pruned and parallel
        (:func:`~glue_table_cache_spark.listing.list_table_files_pruned`)
        — a disproved ``year=2023/`` prefix is never paged at all,
        removing the reference's sequential whole-prefix wall
        (/root/reference/src/util/s3.ts:34-58) for huge hive tables."""
        keys = [k.name for k in tbl.partition_keys]
        predicate = None
        if query and keys:
            predicate = extract_partition_predicate(
                query, keys, {tbl.name, tbl.qualified_name}
            )
            if isinstance(predicate, TruePredicate):
                predicate = None
        files, lstats = self._list_files_maybe_pruned(
            tbl, query, predicate
        )
        if not files:
            if lstats is not None and lstats.prefixes_pruned:
                # pruned-to-zero, not an empty table: empty relation
                # with the REAL schema, sampled from a pruned prefix
                from glue_table_cache_spark.listing import (
                    first_file_under,
                )

                sample = first_file_under(
                    lstats.first_pruned, fs=self._fs
                )
                if sample is not None:
                    df = self._read_paths(
                        self._proxy([sample]), None, tbl
                    ).limit(0)
                    return self._attach_partition_columns(df, tbl)
            # view over an empty relation, as the reference emits
            # ``SELECT NULL LIMIT 0``
            # (/root/reference/src/sql-transformer.ts:320-322)
            return self.spark.range(0).select(F.lit(None).alias("null"))
        pruned = self._prune_and_skip(
            tbl, query, files, keys,
            stats=self._footer_stats(tbl),
        )
        if len(pruned) > self.config.max_explicit_files:
            if tbl.table_type in (ETableType.HIVE, ETableType.UNPARTITIONED):
                # too many paths for one reader call: the native
                # directory scan is equivalent for these layouts and
                # scales via InMemoryFileIndex
                reader = self.spark.read
                if tbl.table_type == ETableType.HIVE:
                    reader = reader.option("basePath", tbl.location)
                return self._format_read(reader, tbl, tbl.location)
            raise GlueSparkError(
                f"Pruned file list for {tbl.qualified_name} has "
                f"{len(pruned)} files, over max_explicit_files="
                f"{self.config.max_explicit_files}; repartition the "
                "table or raise the limit"
            )
        if not pruned:
            # pruned-to-zero: empty relation with the real schema
            df = self._read_paths(
                self._proxy([files[0].path]), None, tbl
            ).limit(0)
            return self._attach_partition_columns(df, tbl)
        paths = self._proxy([f.path for f in pruned])
        # basePath-driven partition discovery only works when EVERY file
        # sits under key=value dirs; a mixed layout (stray files missing
        # the key) makes Spark raise CONFLICTING_DIRECTORY_STRUCTURES.
        # Those tables fall back to regex attachment (missing → NULL),
        # matching the reference's extract-from-path posture.
        hive_layout = (
            tbl.table_type == ETableType.HIVE
            and not tbl.projection
            and all(
                all(k.name in f.partition_values for k in tbl.partition_keys)
                for f in pruned
            )
        )
        df = self._read_paths(
            paths, base_path=tbl.location if hive_layout else None, tbl=tbl
        )
        if not hive_layout:
            df = self._attach_partition_columns(df, tbl)
        return df

    def listing_dataframe(self, database: str, table: str) -> DataFrame:
        """The table's file listing as a DataFrame ``(path, <keys...>)``
        — the reference's ``<db>_<tbl>_s3_listing`` table
        (/root/reference/src/glue-table-cache.ts:292-306) as a
        first-class queryable frame."""
        tbl = self.get_table_metadata_cached(database, table)
        files = self.list_table_files_cached(tbl)
        keys = [k.name for k in tbl.partition_keys]
        schema = ", ".join(
            ["path string"] + [f"`{k}` string" for k in keys]
        )
        rows = [
            tuple([f.path] + [f.partition_values.get(k) for k in keys])
            for f in files
        ]
        return local_frame(self.spark, rows, schema)

    def read_batches(self, df: DataFrame, batch_size: int = 10):
        """Iterate a result in client-side batches of ``batch_size``
        rows — the reference's incremental ``streamAndRead``/``readUntil``
        consumption (/root/reference/example.ts:22-27, SURVEY §2.A17).
        Backed by ``toLocalIterator`` so only one partition is resident
        on the driver at a time."""
        batch: list = []
        for row in df.toLocalIterator():
            batch.append(row)
            if len(batch) >= batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    def _read_paths(
        self,
        paths: list[str],
        base_path: str | None,
        tbl: CatalogTable | None = None,
        schema=None,
    ) -> DataFrame:
        """Scan an explicit path list.  ``schema`` is the format's
        metadata-authoritative scan schema when it has one: it skips
        inference and types evolved columns.  Without it, a catalog
        table's inferred schema is cached in the listing cache under
        its location, ``basePath``, format and a digest of the exact
        path list, so a repeat scan of the same files passes the
        schema Spark inferred and starts no footer-inference job.  The
        key is tracked per table (TTL, LRU and ``invalidate_table``
        drop it with the listing)."""
        reader = self.spark.read
        if base_path:
            # explicit leaf files + basePath: Spark still derives hive
            # partition columns and prunes them at planning time
            reader = reader.option("basePath", base_path)
        if schema is not None:
            return self._format_read(reader.schema(schema), tbl, *paths)
        if tbl is None:
            return self._format_read(reader, tbl, *paths)
        key = self._schema_cache_key(tbl, base_path, paths)
        cached = self._listing_cache.peek(key)
        if cached is not None:
            df = self._format_read(reader.schema(cached), tbl, *paths)
        else:
            df = self._format_read(reader, tbl, *paths)
            self._listing_cache.get_or_load(key, lambda: df.schema)
        # recorded after the entry exists: a concurrent cap eviction
        # can then never leave a live entry without its record
        self._track_listing_key(tbl, key)
        return df

    @staticmethod
    def _schema_cache_key(
        tbl: CatalogTable, base_path: str | None, paths: list[str]
    ) -> str:
        import hashlib

        params = tbl.parameters
        digest = hashlib.sha1(
            "\n".join(
                [
                    tbl.data_format,
                    params.get("delimiter", ""),
                    params.get("skip.header.line.count", ""),
                    *paths,
                ]
            ).encode()
        ).hexdigest()
        return f"{tbl.location}|{base_path or ''}#schema:{digest}"

    def _format_read(self, reader, tbl: CatalogTable | None, *paths) -> DataFrame:
        """Dispatch the scan on the table's ``classification`` catalog
        parameter — parquet (default, the reference's only format),
        csv, or json (our extension past the reference's future-work
        list, /root/reference/README.md:22-23).  CSV honors the Glue
        crawler's ``delimiter`` / ``skip.header.line.count``
        parameters; its schema is inferred (an extra pass — at real
        scale convert to parquet or cache the inferred schema)."""
        fmt = tbl.data_format if tbl is not None else "parquet"
        if fmt == "csv":
            params = tbl.parameters
            try:
                skip = int(params.get("skip.header.line.count", "0"))
            except ValueError:
                skip = 0
            if skip > 1:
                # Spark's csv header option can only drop ONE line per
                # file; silently ingesting the extra header lines as
                # data would corrupt every downstream result
                raise GlueSparkError(
                    f"skip.header.line.count={skip} not supported "
                    "(only 0 or 1); preprocess the files or use a "
                    "different classification"
                )
            return (
                reader.option("header", "true" if skip >= 1 else "false")
                .option("sep", params.get("delimiter", ","))
                .option("inferSchema", "true")
                .csv(list(paths))
            )
        if fmt == "json":
            return reader.json(list(paths))
        if fmt == "orc":
            # orc(path, mergeSchema, ...): paths go in as ONE list
            return reader.orc(list(paths))
        if fmt != "parquet":
            # an unrecognized classification must not silently scan
            # the files as parquet — a typo'd or unsupported format
            # (avro, grok, ...) would die mid-query or, worse, return
            # garbage rows
            name = (
                tbl.qualified_name if tbl is not None else "<table>"
            )
            raise GlueSparkError(
                f"{name}: classification={fmt!r} is not supported "
                "(parquet, orc, csv, json); fix the catalog "
                "parameter or convert the data"
            )
        return reader.parquet(*paths)

    def _attach_partition_columns(
        self, df: DataFrame, tbl: CatalogTable
    ) -> DataFrame:
        """For non-hive layouts (partition projection) attach partition
        columns by regex over the file path below the table location —
        distributed, no driver loop (extractors ported from the
        reference's ``src/util/glue.ts:136-175``)."""
        path_col = relative_path_column(
            F.col("_metadata.file_path"), tbl.location
        )
        for ex in extractors_for(tbl.partition_keys, tbl.projection):
            if ex.column not in df.columns:
                df = df.withColumn(ex.column, ex.spark_column(path_col))
        return df

    @staticmethod
    def _hudi_prune_keys(
        tbl: CatalogTable, files: list[FileInfo]
    ) -> list[str]:
        """Partition keys for Hudi timeline-metadata pruning: the
        catalog's when registered, else the key names the write
        stats' partition paths themselves carry (``k=v`` segments) —
        so a Hudi entry registered without PartitionKeys (the common
        Glue shape) still prunes from the log, mirroring the
        Delta/Iceberg branches.  Identity semantics only: the path
        value IS the column value in hive-style layouts."""
        keys = [k.name for k in tbl.partition_keys]
        if keys:
            return keys
        seen: set[str] = set()
        for f in files:
            seen.update(f.partition_values)
        return sorted(seen)

    def _refuse_misclassified_format(self, tbl: CatalogTable) -> None:
        """Defense-in-depth for MISREGISTERED table-format locations: a
        Glue entry whose parameters lost the Delta/Hudi/Iceberg markers
        (a crawler that never set ``spark.sql.sources.provider``, a
        hand-registered table) would silently scan the directory as raw
        parquet — reading every historical file, so deleted rows
        resurrect and compacted rows DUPLICATE.  Three metadata-scale
        existence checks catch it and refuse with the registration fix;
        ``misclassified_format_guard=False`` opts out for an
        intentional raw scan.  Local filesystems only (object-store
        marker probes would need per-scheme clients; the format
        branches themselves never need this guard).  Cached with the
        listing TTL so repeat queries pay nothing."""
        loc = tbl.location
        if "://" in loc and not loc.startswith("file:"):
            return
        key = f"format-guard:{loc}"
        hit = self._listing_cache.get_or_load(
            key, lambda: self._format_markers(loc)
        )
        if hit:
            marker, fix = hit
            raise GlueSparkError(
                f"glue.{tbl.database}.{tbl.name} is registered as "
                f"{tbl.table_type.name} but {loc!r} contains "
                f"{marker} — scanning it as raw parquet would read "
                "every historical file (deleted rows resurrect, "
                f"rewritten rows duplicate).  Register it with {fix}, "
                "or set misclassified_format_guard=False to force a "
                "raw scan"
            )

    @staticmethod
    def _format_markers(loc: str):
        from pathlib import Path

        base = Path(_local_path(loc))
        if any((base / "_delta_log").glob("*.json")) or any(
            (base / "_delta_log").glob("*.checkpoint*.parquet")
        ):
            return (
                "a Delta transaction log (_delta_log/)",
                "classification=delta or "
                "spark.sql.sources.provider=delta",
            )
        if (base / ".hoodie").is_dir():
            return (
                "a Hudi timeline (.hoodie/)",
                "hoodie.table.name=<name> or classification=hudi",
            )
        if any((base / "metadata").glob("*.metadata.json")):
            return (
                "Iceberg metadata (metadata/*.metadata.json)",
                "table_type=ICEBERG",
            )
        return None

    def _attach_iceberg_partition_values(
        self,
        df: DataFrame,
        path_pvs: list[tuple[str, dict]],
        keys: list[str],
        ice_types: dict,
        tbl: CatalogTable,
    ) -> DataFrame:
        """Attach identity partition columns a leaf-file Iceberg scan
        lost.  The MANIFEST partition tuple is the authority (the spec
        stores one per data file; it survives OPTIMIZE moving files
        out of ``k=v`` directories), broadcast-joined on the
        scheme-normalized file path — metadata-scale build side, so
        the join never shuffles the scan.  A hive-style ``k=v`` path
        extraction backstops files whose manifests carried no
        partition tuple; values cast to the metadata schema's type."""
        from pyspark.sql.types import StringType, StructField, StructType

        from glue_table_cache_spark.sources.iceberg import _strip_scheme

        from glue_table_cache_spark.sources.delta import (
            hadoop_uri_encode,
        )

        pv_cols = [f"__pv_{i}" for i in range(len(keys))]
        rows = [
            # manifest paths are on-disk spellings; the scan-side key
            # is _metadata-derived (Hadoop-URI-encoded: % → %25)
            (hadoop_uri_encode(p),) + tuple(pv.get(k) for k in keys)
            for p, pv in path_pvs
        ]
        pv_schema = StructType(
            [StructField("__pv_path", StringType(), False)]
            + [StructField(c, StringType(), True) for c in pv_cols]
        )
        pvdf = (
            local_frame(self.spark, rows, pv_schema)
            .withColumn("__pv_path", _strip_scheme(F.col("__pv_path")))
        )
        extractors = {
            ex.column: ex
            for ex in extractors_for(tbl.partition_keys, tbl.projection)
        }
        df = df.withColumn(
            "__pv_key", _strip_scheme(F.col("_metadata.file_path"))
        ).join(
            F.broadcast(pvdf),
            F.col("__pv_key") == F.col("__pv_path"),
            "left",
        )
        rel_key = relative_path_column(F.col("__pv_key"), tbl.location)
        for k, c in zip(keys, pv_cols):
            value = F.col(c)
            if k in extractors:
                # ``k=v`` path segments below the location survive
                # scheme normalization, and ``__pv_key`` stays
                # resolvable after the join where the hidden
                # ``_metadata`` column may not
                value = F.coalesce(
                    value, extractors[k].spark_column(rel_key)
                )
            if k in ice_types:
                value = value.cast(ice_types[k])
            df = df.withColumn(k, value)
        return df.drop("__pv_key", "__pv_path", *pv_cols)

    def _proxy(self, paths: list[str]) -> list[str]:
        """``s3://`` → proxy-address rewrite
        (/root/reference/src/glue-table-cache.ts:235-238)."""
        proxy = self.config.proxy_address
        if not proxy:
            return paths
        return [p.replace("s3://", proxy, 1) for p in paths]

    def _list_files(
        self, tbl: CatalogTable, predicate=None, stats=None
    ) -> list[FileInfo]:
        extractors = extractors_for(tbl.partition_keys, tbl.projection)
        if predicate is None:
            fs = self._fs or filesystem_for(tbl.location)
            return list_table_files(tbl.location, extractors, fs)
        # pass the INJECTED fs only (None = default): the pruned walk
        # must know whether it may rebuild the filesystem on the
        # executors (default) or keep every stage on the caller's fs
        return list_table_files_pruned(
            tbl.location,
            extractors,
            predicate,
            self._fs,
            stats=stats,
            spark=self.spark,
        )
