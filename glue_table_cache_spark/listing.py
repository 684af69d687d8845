"""File listing: enumerate a table's data files and attach
partition values extracted from paths.

Mirrors the role of /root/reference/src/util/s3.ts:34-58 (paginated
ListObjectsV2 that drops ``_$folder$`` markers and builds
``S3FileInfo {path, partitionValues}``), generalized behind a
filesystem interface so tests run on local directories and the same
code paths work against S3 via boto3 when available.

Flat listing is metadata-scale work and runs on the driver, exactly as
the reference runs it in its single Node process; the *data* scan that
the listing feeds is the distributed part (SURVEY.md §3).  The r14
:func:`list_table_files_pruned` walk removes the reference's scale
ceiling for huge hive tables: partition prefixes the query's predicate
disproves are never paged, and surviving prefixes list in parallel
(driver pool, or executors past the distribution gate).
"""

from __future__ import annotations

import os
import posixpath
from dataclasses import dataclass, field
from pathlib import Path
from typing import Protocol

from glue_table_cache_spark.projection import (
    PartitionExtractor,
    relative_path,
)

#: suffixes that are never data files (the reference drops
#: ``_$folder$`` markers, /root/reference/src/util/s3.ts:43-46; we also
#: skip checksum/success markers Spark itself writes)
_NON_DATA_MARKERS = ("_$folder$", "_SUCCESS", ".crc")


@dataclass(frozen=True)
class FileInfo:
    """One data object (= reference ``S3FileInfo``,
    /root/reference/src/types.ts:13-16)."""

    path: str
    partition_values: dict[str, str] = field(default_factory=dict)


class FileSystem(Protocol):
    def list_files(self, location: str) -> list[str]:
        """All file paths under ``location`` (recursive), sorted."""
        ...

    def list_dir(
        self, location: str
    ) -> tuple[list[str], list[str]]:
        """ONE level of ``location``: ``(subdirectory locations, data
        file paths)``, both sorted — the delimiter-based listing shape
        (S3 ``CommonPrefixes``) the prefix-pruned walk (r14) needs to
        evaluate partition predicates BEFORE descending."""
        ...


class LocalFileSystem:
    """Lists a local directory recursively. A single ``*.parquet`` file
    path is returned as-is (the driver testdata ships one file per
    table).  Hidden directories below the location
    (:func:`_is_hidden`) are never entered."""

    def list_files(self, location: str) -> list[str]:
        p = Path(location)
        if p.is_file():
            return [str(p)]
        out: list[str] = []
        for root, dirs, files in os.walk(p):
            dirs[:] = [d for d in dirs if not _is_hidden(d)]
            out.extend(
                path
                for path in (os.path.join(root, f) for f in files)
                if _is_data_file(path)
            )
        return sorted(out)

    def list_dir(self, location: str) -> tuple[list[str], list[str]]:
        p = Path(location)
        if p.is_file():
            return [], [str(p)] if _is_data_file(str(p)) else []
        if not p.is_dir():
            # parity with list_files: rglob over a missing location
            # yields [] (the engine emits its empty view), never a
            # FileNotFoundError
            return [], []
        dirs: list[str] = []
        files: list[str] = []
        for child in p.iterdir():
            if child.is_dir():
                if not _is_hidden(child.name):
                    dirs.append(str(child))
            elif child.is_file() and _is_data_file(str(child)):
                files.append(str(child))
        return sorted(dirs), sorted(files)


class S3FileSystem:
    """Paginated ListObjectsV2, mirroring
    /root/reference/src/util/s3.ts:34-58.  boto3 is imported lazily so
    local test environments never need AWS."""

    def __init__(self, client=None) -> None:
        if client is None:
            import boto3  # pragma: no cover - not exercised in tests

            client = boto3.client("s3")
        self._client = client

    @property
    def client(self):
        """The S3 client this filesystem lists with; footer reads for
        zone-map skipping go through it too."""
        return self._client

    def list_files(self, location: str) -> list[str]:
        bucket, prefix = parse_s3_path(location)
        paths: list[str] = []
        token: str | None = None
        while True:
            kwargs = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kwargs["ContinuationToken"] = token
            resp = self._client.list_objects_v2(**kwargs)
            for obj in resp.get("Contents", []):
                key = obj["Key"]
                below = key[len(prefix):].split("/")[:-1]
                if _is_data_file(key) and not any(
                    _is_hidden(d) for d in below
                ):
                    paths.append(f"s3://{bucket}/{key}")
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(paths)

    def list_dir(self, location: str) -> tuple[list[str], list[str]]:
        """Delimiter listing: ``CommonPrefixes`` are the partition
        subdirectories — one page per ~1000 entries instead of one
        page per ~1000 OBJECTS, which is what makes prefix pruning
        matter: a pruned ``year=2023/`` prefix's million objects are
        never paged at all."""
        bucket, prefix = parse_s3_path(location)
        dirs: list[str] = []
        files: list[str] = []
        token: str | None = None
        while True:
            kwargs = {
                "Bucket": bucket,
                "Prefix": prefix,
                "Delimiter": "/",
            }
            if token:
                kwargs["ContinuationToken"] = token
            resp = self._client.list_objects_v2(**kwargs)
            for cp in resp.get("CommonPrefixes", []):
                sub = cp["Prefix"].rstrip("/")
                if not _is_hidden(posixpath.basename(sub)):
                    dirs.append(f"s3://{bucket}/{sub}")
            for obj in resp.get("Contents", []):
                key = obj["Key"]
                if key != prefix and _is_data_file(key):
                    files.append(f"s3://{bucket}/{key}")
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(dirs), sorted(files)


def _is_data_file(path: str) -> bool:
    name = posixpath.basename(path)
    return not (
        name.startswith(("_", "."))
        or any(path.endswith(m) for m in _NON_DATA_MARKERS)
    )


def _is_hidden(name: str) -> bool:
    """Spark's hidden-path rule for a directory below a table location
    (``HadoopFSUtils.shouldFilterOutPathName``): ``.``-prefixed, or
    ``_``-prefixed and not a ``k=v`` partition directory.  So
    ``_delta_log/``, ``_temporary/`` and ``.hoodie/`` contents never
    enter an explicit file list, as they never enter a directory
    scan."""
    return name.startswith(".") or (
        name.startswith("_") and "=" not in name
    )


def parse_s3_path(s3path: str) -> tuple[str, str]:
    """``s3://bucket/prefix/`` → (bucket, prefix), as
    /root/reference/src/util/s3.ts:4-13."""
    if not s3path.startswith("s3://"):
        raise ValueError(f"Not an s3 path: {s3path!r}")
    rest = s3path[len("s3://") :]
    bucket, _, prefix = rest.partition("/")
    if not bucket:
        raise ValueError(f"Invalid s3 path: {s3path!r}")
    prefix = prefix.rstrip("/")
    return bucket, prefix + "/" if prefix else ""


def filesystem_for(location: str) -> FileSystem:
    if location.startswith("s3://"):
        return S3FileSystem()
    return LocalFileSystem()


def list_table_files(
    location: str,
    extractors: list[PartitionExtractor],
    fs: FileSystem | None = None,
) -> list[FileInfo]:
    """List data files under ``location`` and attach partition values via
    the given extractors (reference: ``listS3Objects`` +
    ``extractPartitionValues``)."""
    fs = fs or filesystem_for(location)
    return _attach_values(fs.list_files(location), extractors, location)


def _attach_values(
    paths: list[str], extractors: list[PartitionExtractor], location: str
) -> list[FileInfo]:
    """Partition values extracted from each path BELOW ``location``
    (:func:`~glue_table_cache_spark.projection.relative_path`)."""
    out: list[FileInfo] = []
    for path in paths:
        rel = relative_path(path, location)
        values: dict[str, str] = {}
        for ex in extractors:
            v = ex.extract(rel)
            if v is not None:
                values[ex.column] = v
        out.append(FileInfo(path=path, partition_values=values))
    return out


# --------------------------------------------------------------------------
# Prefix-pruned, parallel listing (r14)
# --------------------------------------------------------------------------

#: surviving partition prefixes at or past this count fan out to the
#: executors (same posture as the table formats' distributed metadata
#: walks): each task runs the identical sequential walk over its
#: prefix, so a 10k-partition table is 10k parallel delimiter walks
#: instead of one driver-serial page loop over every object
DISTRIBUTED_LISTING_MIN_PREFIXES = 256

#: driver-side listing concurrency: object-store delimiter pages are
#: latency-bound, so a modest thread pool hides round trips without
#: hammering the endpoint
LISTING_POOL_WORKERS = 16


@dataclass
class ListingStats:
    """Observability for the pruned walk — the bench label asserts
    ``files_listed`` so a pruning regression reads as a failure, not
    a slow run."""

    prefixes_listed: int = 0
    prefixes_pruned: int = 0
    files_listed: int = 0
    distributed: bool = False
    #: first pruned prefix — the pruned-to-zero empty scan samples one
    #: file under it for the real schema (refusal-semantics parity
    #: with the flat path, which always has ``files[0]`` in hand)
    first_pruned: str | None = None


def _prefix_values(
    prefix: str, extractors: list[PartitionExtractor], location: str
) -> dict[str, str]:
    """Partition values provable from a directory PREFIX alone.  Only
    ``prefix_stable`` extractors participate (see
    :class:`~glue_table_cache_spark.projection.PartitionExtractor`);
    the trailing ``/`` guarantees any completed match is bounded the
    same way it is in a full file path.  Missing keys evaluate
    Unknown in the predicate tree — the walk keeps descending.  Like
    :func:`_attach_values`, extraction sees only the part of the
    prefix below ``location``."""
    probe = relative_path(prefix.rstrip("/") + "/", location)
    values: dict[str, str] = {}
    for ex in extractors:
        if not ex.prefix_stable:
            continue
        v = ex.extract(probe)
        if v is not None:
            values[ex.column] = v
    return values


def _walk_prefix(
    prefix: str,
    location: str,
    extractors: list[PartitionExtractor],
    predicate,
    fs: FileSystem | None = None,
) -> tuple[list[str], int, int, str | None]:
    """Sequential pruned walk of one prefix: ``(file paths, prefixes
    listed, prefixes pruned, first pruned prefix)``.  Runs on the
    driver pool (with the caller's ``fs``) AND as the executor task
    body (``fs=None`` — rebuilt per task, since an injected
    filesystem need not pickle; everything else it closes over —
    frozen predicate trees, extractor dataclasses — pickles)."""
    fs = fs or filesystem_for(prefix)
    out: list[str] = []
    listed = pruned = 0
    first_pruned: str | None = None
    stack = [prefix]
    while stack:
        d = stack.pop()
        dirs, files = fs.list_dir(d)
        listed += 1
        out.extend(files)
        for sub in dirs:
            if (
                predicate is not None
                and predicate.evaluate(
                    _prefix_values(sub, extractors, location)
                )
                is False
            ):
                pruned += 1
                first_pruned = first_pruned or sub
                continue
            stack.append(sub)
    return out, listed, pruned, first_pruned


def list_table_files_pruned(
    location: str,
    extractors: list[PartitionExtractor],
    predicate,
    fs: FileSystem | None = None,
    stats: ListingStats | None = None,
    spark=None,
) -> list[FileInfo]:
    """Like :func:`list_table_files`, but partition-prefix-pruned and
    parallel (r14, VERDICT r13 #1): the reference lists the WHOLE
    table prefix sequentially on its single Node process
    (/root/reference/src/util/s3.ts:34-58), which is the scale wall
    for a 10M-object hive table.  Here each directory level is listed
    with a delimiter, the query's three-valued partition predicate
    runs on every subdirectory's prefix-provable values, and a prefix
    that evaluates to a definite ``False`` is never descended — its
    objects are never paged at all.  Surviving prefixes fan out over
    a driver thread pool, or over the EXECUTORS past
    ``DISTRIBUTED_LISTING_MIN_PREFIXES`` (the table formats'
    distributed-walk posture).

    Soundness: only ``prefix_stable`` extractors contribute prefix
    values (their value for a prefix provably holds for every file
    below it), and Unknown keeps descending — so the pruned result is
    exactly the flat listing minus files the engine's own
    driver-side prune would drop anyway.  The caller's prune still
    runs over the survivors (idempotent).

    A custom ``fs`` without ``list_dir`` falls back to the flat
    listing; an INJECTED fs keeps every stage on the driver pool
    (its IO identity must not be swapped for a default filesystem on
    the executors)."""
    injected = fs is not None
    fs = fs or filesystem_for(location)
    if predicate is None or not hasattr(fs, "list_dir"):
        return list_table_files(location, extractors, fs)
    stats = stats if stats is not None else ListingStats()

    from concurrent.futures import ThreadPoolExecutor

    files: list[str] = []
    frontier = [location.rstrip("/")]
    # breadth-first expansion (driver): prune each level's prefixes
    # until the frontier is wide enough to fan out whole-subtree walks
    while frontier and len(frontier) < LISTING_POOL_WORKERS:
        if len(frontier) == 1:
            results = [fs.list_dir(frontier[0])]
        else:
            with ThreadPoolExecutor(len(frontier)) as pool:
                results = list(pool.map(fs.list_dir, frontier))
        stats.prefixes_listed += len(frontier)
        next_frontier: list[str] = []
        for dirs, leaf_files in results:
            files.extend(leaf_files)
            for sub in dirs:
                if (
                    predicate.evaluate(
                        _prefix_values(sub, extractors, location)
                    )
                    is False
                ):
                    stats.prefixes_pruned += 1
                    stats.first_pruned = stats.first_pruned or sub
                    continue
                next_frontier.append(sub)
        frontier = next_frontier
    if frontier:
        if (
            spark is not None
            and not injected
            and len(frontier) >= DISTRIBUTED_LISTING_MIN_PREFIXES
        ):
            stats.distributed = True
            sc = spark.sparkContext
            results = (
                sc.parallelize(frontier, len(frontier))
                .map(
                    lambda d: _walk_prefix(
                        d, location, extractors, predicate
                    )
                )
                .collect()
            )
        else:
            with ThreadPoolExecutor(
                min(LISTING_POOL_WORKERS, len(frontier))
            ) as pool:
                results = list(
                    pool.map(
                        lambda d: _walk_prefix(
                            d, location, extractors, predicate, fs
                        ),
                        frontier,
                    )
                )
        for sub_files, listed, pruned, first_pruned in results:
            files.extend(sub_files)
            stats.prefixes_listed += listed
            stats.prefixes_pruned += pruned
            if first_pruned:
                stats.first_pruned = stats.first_pruned or first_pruned
    stats.files_listed = len(files)
    return _attach_values(sorted(files), extractors, location)


def first_file_under(prefix: str, fs=None) -> str | None:
    """One data file below ``prefix`` (breadth-first), or ``None`` —
    the pruned-to-zero empty scan's schema sample."""
    fs = fs or filesystem_for(prefix)
    queue = [prefix]
    while queue:
        dirs, files = fs.list_dir(queue.pop(0))
        if files:
            return files[0]
        queue.extend(dirs)
    return None
