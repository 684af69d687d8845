"""Engine configuration.

Mirrors the reference's ``GlueTableCacheConfig``
(/root/reference/src/types.ts:42-49): cache sizing/TTLs and the optional
S3-proxy address rewrite (/root/reference/src/glue-table-cache.ts:54-65),
plus Spark-specific knobs the reference delegates to DuckDB.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Credentials:
    """Static AWS credentials — the reference's ``setCredentials``
    payload (/root/reference/src/glue-table-cache.ts:87-95).  The
    reference validates only that the secret is non-empty and throws
    ``No secretAccessKey``; we keep the same single check and error
    text."""

    access_key_id: str
    secret_access_key: str
    session_token: str | None = None

    def __post_init__(self) -> None:
        if len(self.secret_access_key) <= 0:
            raise ValueError("No secretAccessKey")


@dataclass(frozen=True)
class EngineConfig:
    #: max entries per LRU cache (reference default 100,
    #: /root/reference/src/glue-table-cache.ts:26-32)
    max_entries: int = 100
    #: table-metadata TTL, ms (reference default 3600000)
    table_metadata_ttl_ms: int = 3_600_000
    #: file-listing TTL, ms (reference default 3600000; its README
    #: documents 5 min but code wins — SURVEY.md §6)
    s3_listing_ttl_ms: int = 3_600_000
    #: optional ``scheme://host:port/`` prefix replacing ``s3://`` in
    #: materialized file lists (local HTTP block cache,
    #: /root/reference/src/glue-table-cache.ts:54-65, 235-238)
    proxy_address: str | None = None
    #: zone-map file skipping: data-column predicates drop whole files
    #: whose min/max ranges provably cannot match.  The stats come from
    #: table-format metadata (Delta ``add.stats``, Iceberg manifest
    #: bounds), already in hand from the log/manifest walk, and from
    #: parquet FOOTERS for Hive, unpartitioned, projection and Hudi
    #: COPY_ON_WRITE file lists, read once per surviving file and
    #: memoized per table (``skipping.FooterMemo``: a local file is
    #: read again when rewritten in place; an ``s3://`` object is
    #: taken to be immutable by key until ``invalidate_table`` or the
    #: listing TTL).  An optimization, never a filter of record
    #: (conservative three-valued logic, see
    #: glue_table_cache_spark/skipping.py)
    stats_skipping: bool = True
    #: hard cap on how many explicit file paths may be handed to one
    #: ``spark.read.parquet(*paths)`` call.  HIVE/UNPARTITIONED/projection
    #: tables always scan the reference's way — the cached, pruned
    #: listing handed to the reader as explicit paths; beyond the cap
    #: HIVE/UNPARTITIONED tables reroute to Spark's native directory
    #: scan (``InMemoryFileIndex`` lists the table again and Catalyst's
    #: PruneFileSourcePartitions prunes it) and projection tables (which
    #: have no native equivalent) raise.  ``0`` sends every non-empty
    #: HIVE/UNPARTITIONED scan down the native path
    max_explicit_files: int = 100_000
    #: refuse HIVE/UNPARTITIONED/projection scans over a location that
    #: contains Delta/Hudi/Iceberg markers (``_delta_log/``,
    #: ``.hoodie/``, ``metadata/*.metadata.json``): a catalog entry
    #: that lost its format parameters would otherwise scan raw
    #: parquet — every historical file, deleted rows resurrected,
    #: rewritten rows duplicated.  Three metadata-scale existence
    #: checks (local filesystems only), cached with the listing TTL.
    #: False forces the raw scan
    misclassified_format_guard: bool = True
    #: static AWS credentials (reference ``config.credentials``,
    #: /root/reference/src/types.ts:46).  The engine maps them to
    #: ``fs.s3a.*`` Hadoop conf at session wiring; ``None`` = default
    #: provider chain (the reference's ``PROVIDER CREDENTIAL_CHAIN``
    #: secret, /root/reference/src/glue-table-cache.ts:114-117)
    credentials: Credentials | None = None
    #: AWS region for the S3 endpoint (reference ``config.region``)
    region: str | None = None
    #: retry attempts for metadata APIs (reference: async-retry 3×,
    #: /root/reference/src/glue-table-cache.ts:178-196)
    retry_attempts: int = 3
    #: backoff bounds in seconds (reference: 200–500 ms)
    retry_min_backoff_s: float = 0.2
    retry_max_backoff_s: float = 0.5
    #: base directory for tables created by ``CREATE TABLE ... AS``
    #: without an explicit ``LOCATION`` clause (the new table lands at
    #: ``<warehouse_dir>/<database>/<table>``); ``None`` makes
    #: location-less CTAS refuse
    warehouse_dir: str | None = None

    def __post_init__(self) -> None:
        if self.proxy_address is not None:
            addr = self.proxy_address
            if "://" not in addr:
                raise ValueError(f"Invalid proxyAddress: {addr!r}")
            if not addr.endswith("/"):
                # normalize trailing slash like the reference
                # (/root/reference/src/glue-table-cache.ts:58-61)
                object.__setattr__(self, "proxy_address", addr + "/")
