"""Synthetic local Hudi COPY_ON_WRITE table builder (test support).

Builds a minimal-but-layout-shaped Hudi table from DataFrames:

* ``<partition>/<fileId>_<token>_<instant>.parquet`` base files (an
  updated file group gets a NEW file at a later instant — the stale
  slice stays on disk, as before cleaning);
* ``.hoodie/<instant>.commit`` JSON with ``partitionToWriteStats``;
  ``.hoodie/<instant>.replacecommit`` with
  ``partitionToReplaceFileIds`` + its own write stats;
* optionally an ``.inflight`` instant whose files must stay invisible,
  and an ``orphan.parquet`` no commit references;
* ``.hoodie/hoodie.properties`` with the table type.

Field names match what :mod:`glue_table_cache_spark.sources.hudi`
consumes (``partitionToWriteStats[].{fileId,path}``,
``partitionToReplaceFileIds``).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame


def _write_data_file(base: Path, df: DataFrame, rel: str) -> Path:
    # single pyarrow write — see fixture_io (the coalesce(1)
    # Spark-write shape cost ~6 s per tiny fixture file)
    from glue_table_cache_spark.sources.fixture_io import (
        write_single_parquet,
    )

    out = base / rel
    write_single_parquet(df, out)
    return out


def build_hudi_table(
    base: str | Path,
    commits: list[dict],
    orphan: DataFrame | None = None,
    table_type: str = "COPY_ON_WRITE",
    hudi_1x_names: bool = False,
) -> Path:
    """Write a Hudi table whose i-th COMPLETED instant applies
    ``commits[i]``:

    ``{"write": {fileId: df, ...}, "partition": "p", "replace":
    [fileId, ...], "inflight": bool, "log": {fileId: bytes}}`` —
    ``write`` maps file groups to their (re)written content at this
    instant; ``replace`` retires file groups (emitted as a
    replacecommit); ``inflight`` leaves the instant uncommitted (its
    files must never be scanned); ``log`` emits a MERGE_ON_READ
    deltacommit whose write stats reference ``.{fileId}_{instant}.log
    .1_0-0-0`` files with the given (opaque) content — the
    un-compacted update/delete stream a base-file read must either
    refuse on or explicitly accept as staleness."""
    base = Path(base)
    hoodie = base / ".hoodie"
    hoodie.mkdir(parents=True, exist_ok=True)
    (hoodie / "hoodie.properties").write_text(
        f"hoodie.table.name=fixture\nhoodie.table.type={table_type}\n"
    )
    for i, commit in enumerate(commits):
        instant = 20240101000000 + i
        partition = commit.get("partition", "p0")
        stats = []
        for file_id, df in commit.get("write", {}).items():
            rel = f"{partition}/{file_id}_0-0-0_{instant}.parquet"
            _write_data_file(base, df, rel)
            stats.append({"fileId": file_id, "path": rel})
        kind = "commit"
        for file_id, content in commit.get("log", {}).items():
            kind = "deltacommit"
            rel = f"{partition}/.{file_id}_{instant}.log.1_0-0-0"
            out = base / rel
            out.parent.mkdir(parents=True, exist_ok=True)
            out.write_bytes(content)
            stats.append({"fileId": file_id, "path": rel})
        payload: dict = {"partitionToWriteStats": {partition: stats}}
        if commit.get("replace"):
            kind = "replacecommit"
            payload["partitionToReplaceFileIds"] = {
                partition: list(commit["replace"])
            }
        suffix = f"{kind}.inflight" if commit.get("inflight") else kind
        # Hudi 1.x names completed instants <requestTs>_<completionTs>
        stem = (
            f"{instant}_{instant + 500}"
            if hudi_1x_names and not commit.get("inflight")
            else str(instant)
        )
        (hoodie / f"{stem}.{suffix}").write_text(json.dumps(payload))
    if orphan is not None:
        _write_data_file(base, orphan, "p0/orphan.parquet")
    return base


# -- archived timeline (r14) ------------------------------------------------

#: HoodieArchivedMetaEntry (subset of the public Avro model — the
#: reader is schema-driven off each block header, so a real archive's
#: fuller schema decodes the same way; only these fields are consumed)
_WRITE_STAT_SCHEMA = {
    "type": "record",
    "name": "HoodieWriteStat",
    "fields": [
        {"name": "fileId", "type": ["null", "string"]},
        {"name": "path", "type": ["null", "string"]},
        {"name": "partitionPath", "type": ["null", "string"]},
    ],
}


def _md_schema(name: str, with_replace: bool) -> dict:
    fields = [
        {
            "name": "partitionToWriteStats",
            "type": [
                "null",
                {
                    "type": "map",
                    "values": {
                        "type": "array",
                        "items": dict(
                            _WRITE_STAT_SCHEMA,
                            name=f"{name}WriteStat",
                        ),
                    },
                },
            ],
        }
    ]
    if with_replace:
        fields.append(
            {
                "name": "partitionToReplaceFileIds",
                "type": [
                    "null",
                    {
                        "type": "map",
                        "values": {"type": "array", "items": "string"},
                    },
                ],
            }
        )
    return {"type": "record", "name": name, "fields": fields}


ARCHIVED_META_ENTRY_SCHEMA = {
    "type": "record",
    "name": "HoodieArchivedMetaEntry",
    "fields": [
        {"name": "commitTime", "type": ["null", "string"]},
        {"name": "actionState", "type": ["null", "string"]},
        {"name": "actionType", "type": ["null", "string"]},
        {
            "name": "hoodieCommitMetadata",
            "type": ["null", _md_schema("HoodieCommitMetadata", False)],
        },
        {
            "name": "hoodieReplaceCommitMetadata",
            "type": [
                "null",
                _md_schema("HoodieReplaceCommitMetadata", True),
            ],
        },
    ],
}


def archive_hudi_commits(base: str | Path, keep_last: int = 1) -> Path:
    """Move all but the newest ``keep_last`` completed instants into a
    ``.hoodie/archived/.commits_.archive.1_1-0-1`` HoodieLogFormat
    segment — the real archival shape: the active JSON disappears,
    the data files stay on disk, and only the archive remembers the
    old instants' write stats."""
    import re

    from glue_table_cache_spark.sources.hudi_log import (
        data_block,
        write_log_file,
    )

    base = Path(base)
    hoodie = base / ".hoodie"
    completed: list[tuple[int, str, Path]] = []
    pat = re.compile(
        r"^(\d+)(?:_\d+)?\.(commit|deltacommit|replacecommit)$"
    )
    for p in sorted(hoodie.iterdir()):
        m = pat.match(p.name)
        if m:
            completed.append((int(m.group(1)), m.group(2), p))
    completed.sort()
    to_arch = completed[: len(completed) - keep_last]
    records = []
    for ts, kind, p in to_arch:
        payload = json.loads(p.read_text())
        stats_md = {
            part: [
                {
                    "fileId": st.get("fileId"),
                    "path": st.get("path"),
                    "partitionPath": st.get("partitionPath"),
                }
                for st in sts
            ]
            for part, sts in (
                payload.get("partitionToWriteStats") or {}
            ).items()
        }
        rec = {
            "commitTime": str(ts),
            "actionState": "COMPLETED",
            "actionType": kind,
            "hoodieCommitMetadata": None,
            "hoodieReplaceCommitMetadata": None,
        }
        if kind == "replacecommit":
            rec["hoodieReplaceCommitMetadata"] = {
                "partitionToWriteStats": stats_md,
                "partitionToReplaceFileIds": payload.get(
                    "partitionToReplaceFileIds"
                )
                or {},
            }
        else:
            rec["hoodieCommitMetadata"] = {
                "partitionToWriteStats": stats_md
            }
        records.append(rec)
        p.unlink()
    arch = hoodie / "archived"
    arch.mkdir(exist_ok=True)
    write_log_file(
        arch / ".commits_.archive.1_1-0-1",
        [data_block("0", ARCHIVED_META_ENTRY_SCHEMA, records)],
    )
    return arch
