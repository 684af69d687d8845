"""Partition-value extractors: Hive ``key=value`` paths and AWS-Glue
partition *projection* (date / integer / enum; ``injected`` unsupported).

Ports the extractor semantics of /root/reference/src/util/glue.ts:136-193
(regex per partition key; SimpleDateFormat→regex conversion table) and
the path parsing of /root/reference/src/util/s3.ts:15-25.

Each extractor yields both a driver-side Python extraction (listing is
metadata-scale) and the equivalent Spark ``Column`` over a path column,
so listings too large for the driver can be processed distributed.
"""

from __future__ import annotations

import functools
import posixpath
import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from glue_table_cache_spark.catalog import PartitionKey, ProjectionPattern
from glue_table_cache_spark.errors import UnsupportedProjectionError

#: SimpleDateFormat token → regex, as in
#: /root/reference/src/util/glue.ts:177-193.
_DATE_FORMAT_TOKENS = [
    ("yyyy", r"\d{4}"),
    ("MM", r"\d{2}"),
    ("dd", r"\d{2}"),
    ("HH", r"\d{2}"),
    ("mm", r"\d{2}"),
    ("ss", r"\d{2}"),
]


def date_format_to_regex(fmt: str) -> str:
    """Convert a Java SimpleDateFormat pattern to a capture regex."""
    pattern = re.escape(fmt)
    for token, sub in _DATE_FORMAT_TOKENS:
        pattern = pattern.replace(re.escape(token), sub)
    return pattern


@dataclass(frozen=True)
class PartitionExtractor:
    """How to pull one partition column's value out of a file path."""

    column: str
    #: regex with exactly one capture group, applied to the full path
    pattern: str
    #: spark cast target for the extracted string ("int" or None)
    cast: str | None = None
    #: a value extracted from a DIRECTORY PREFIX (ending in ``/``) is
    #: guaranteed identical for every file below it, so prefix-level
    #: pruning may trust it (r14).  True for the hive/date/integer
    #: patterns: they are fixed-length or ``/``-bounded, and a regex
    #: match completed inside a ``/``-terminated prefix stays the
    #: leftmost match under right-extension (an earlier spanning match
    #: would have to both start before and end after it — impossible
    #: when the earlier position already fit inside the prefix).
    #: False for end-anchored patterns (projection ``enum``: the LAST
    #: path component changes as the walk descends).
    prefix_stable: bool = True

    def extract(self, path: str) -> str | None:
        m = re.search(self.pattern, path)
        return m.group(1) if m else None

    def spark_column(self, path_col: Column) -> Column:
        col = F.regexp_extract(path_col, self.pattern, 1)
        # regexp_extract yields '' on no match; partition semantics want
        # NULL for a file that lacks the key (mixed layouts)
        col = F.when(col != "", col)
        return col.cast(self.cast) if self.cast else col


@functools.lru_cache(maxsize=256)
def _location_marker(location: str) -> str:
    """The table location's path part as a ``/``-bounded substring —
    what every path below the location contains, whatever scheme or
    proxy spelling precedes it (``s3://b/t`` → ``/b/t/``, a proxied
    ``http://host:port/b/t/...`` still contains it)."""
    loc = location.rstrip("/")
    if "://" in loc:
        loc = loc.split("://", 1)[1]
    else:
        if loc.startswith("file:"):
            loc = loc[len("file:"):]
        loc = posixpath.normpath(loc)
    return "/" + loc.lstrip("/") + "/"


def relative_path(path: str, location: str) -> str:
    """``path`` below ``location``, with a leading ``/``
    (``/p=1/f.parquet``): extractors run on this, so a ``p=`` or
    all-digit component of the location itself (a table under
    ``/data/2024/``) never reads as a partition value.  A path that
    does not contain the location is returned whole."""
    marker = _location_marker(location)
    probe = path if path.startswith("/") else "/" + path
    i = probe.find(marker)
    return probe[i + len(marker) - 1:] if i >= 0 else path


def relative_path_column(path_col: Column, location: str) -> Column:
    """:func:`relative_path` over a ``_metadata.file_path``-style
    column: the location is matched in its Hadoop-URI spelling
    (``%`` → ``%25``, space → ``%20``), the first occurrence and
    everything before it replaced by ``/``."""
    marker = _location_marker(location)
    marker = marker.replace("%", "%25").replace(" ", "%20")
    return F.regexp_replace(path_col, "^.*?" + re.escape(marker), "/")


def hive_extractor(key: str) -> PartitionExtractor:
    """Hive-style ``key=value`` component
    (/root/reference/src/util/s3.ts:15-25; SQL form emitted at
    /root/reference/src/glue-table-cache.ts:298-306).

    Anchored to a path-component boundary: the reference's unanchored
    ``key=([^/]+)`` matches *inside* a longer sibling key (extracting
    ``year`` from ``.../fiscalyear=5/...`` yields ``5``), and a wrong
    exact value feeds prune predicates that drop valid files."""
    return PartitionExtractor(
        column=key, pattern=rf"(?:^|/){re.escape(key)}=([^/]+)"
    )


def projection_extractor(pattern: ProjectionPattern) -> PartitionExtractor:
    """Projection-specific extractor
    (/root/reference/src/util/glue.ts:136-175):

    * ``date``    — format-derived regex (``yyyy/MM/dd`` → ``(\\d{4}/\\d{2}/\\d{2})``)
    * ``integer`` — ``/(\\d+)/`` path component, cast to INT
    * ``enum``    — last path component before the file name
    * ``injected``— unsupported, raises (as the reference does,
      /root/reference/src/util/glue.ts:163-166)
    """
    if pattern.type == "date":
        fmt = pattern.format or "yyyy-MM-dd"
        return PartitionExtractor(
            column=pattern.column, pattern=f"({date_format_to_regex(fmt)})"
        )
    if pattern.type == "integer":
        return PartitionExtractor(
            column=pattern.column, pattern=r"/(\d+)/", cast="int"
        )
    if pattern.type == "enum":
        return PartitionExtractor(
            column=pattern.column, pattern=r"/([^/]+)/[^/]*$",
            prefix_stable=False,
        )
    raise UnsupportedProjectionError(
        f"Projection type {pattern.type!r} for column "
        f"{pattern.column!r} is not supported"
    )


def extractors_for(
    partition_keys: list[PartitionKey],
    projection: dict[str, ProjectionPattern],
) -> list[PartitionExtractor]:
    """One extractor per partition key: projection pattern if configured,
    else Hive ``key=``."""
    out = []
    for key in partition_keys:
        if key.name in projection:
            out.append(projection_extractor(projection[key.name]))
        else:
            out.append(hive_extractor(key.name))
    return out
