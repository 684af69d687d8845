"""Iceberg current-snapshot data-file resolution (manifest walk).

Implements the reference's 4-step pipeline
(/root/reference/src/util/iceberg.ts:11-36, executed at
glue-table-cache.ts:369-387; verified against
test/integration-test.ts:185-211 and the golden SQL strings in
test/util.iceberg.test.ts:4-15):

1. read every ``<location>/metadata/*.metadata.json`` (the reference's
   ``read_json_auto`` glob) and pick the newest by
   ``last-sequence-number``; ``version_offset`` steps back N versions
   for time travel (``iceberg.ts:23``, ``ORDER BY ... DESC OFFSET k``);
2. take the **last** snapshot's ``manifest-list`` (the reference's
   1-based ``snapshots[len(snapshots)]``, ``iceberg.ts:26``);
3. read the manifest-list Avro → ``manifest_path`` per row
   (``iceberg.ts:29``);
4. read each manifest Avro → ``data_file.file_path``
   (``iceberg.ts:31-33``).

Only files the current snapshot's manifests name are scanned — orphan
files sitting in the data directory are invisible, the hygiene property
the reference's integration test asserts.

All four steps are metadata-scale and run on the driver — except the
per-manifest Avro decode of very large snapshots: when the manifests
a snapshot references add up to at least
:data:`DISTRIBUTED_MANIFEST_MIN_BYTES` (the manifest list's
``manifest_length`` sum, so the gate reads nothing extra), they decode
executor-side via one ``mapInPandas`` over the manifest paths
(:func:`_decode_manifests_distributed`); the manifest-LIST read and
all validation stay driver-side.  The returned path list feeds the
distributed parquet scan.  Avro decoding uses
:mod:`glue_table_cache_spark.sources.avro_lite` (neither fastavro nor
the spark-avro module ship in this environment).

Both decode legs read manifests through the same projection
(:func:`_entry_fields`).  The reference reads one field per entry,
``data_file['file_path']`` (``iceberg.ts:31-33``); the scan walk reads
the few it validates and prunes on, and skips every other field —
Java writers' ``column_sizes``, ``value_counts``, ``nan_value_counts``,
``split_offsets`` and the like — at the byte level.  The zone-map
fields stay raw bytes inside a
:class:`~glue_table_cache_spark.skipping.LazyFileStats` and are decoded
only for the files that survive partition pruning.
"""

from __future__ import annotations

import json
import posixpath
from pathlib import Path

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame
from glue_table_cache_spark.sources.avro_lite import read_avro_bytes


def _read_bytes(path: str, s3_client=None) -> bytes:
    """Read a metadata object (JSON or Avro) from local disk or S3.
    ``s3_client`` is injectable for tests, like the reference's
    aws-sdk-client-mock posture (test/util.s3.test.ts)."""
    if path.startswith("s3://"):
        from glue_table_cache_spark.listing import parse_s3_path

        if s3_client is None:  # pragma: no cover - no AWS in harness
            import boto3

            s3_client = boto3.client("s3")
        bucket, key = parse_s3_path(path)
        body = s3_client.get_object(Bucket=bucket, Key=key.rstrip("/"))
        return body["Body"].read()
    return Path(path).read_bytes()


def _read_json(path: str, s3_client=None) -> dict:
    return json.loads(_read_bytes(path, s3_client))


#: Distributed-decode gate, in manifest bytes: a snapshot whose
#: manifests add up to at least this many bytes (the manifest list's
#: ``manifest_length`` sum) decodes them EXECUTOR-side (one
#: ``mapInPandas`` over the manifest paths, the pure-Python Avro codec
#: running in parallel on the workers) instead of serially on the
#: driver — the driver keeps only the manifest-LIST read and the
#: per-entry validation, so the walk's driver critical path stops
#: growing with manifest bytes.  Below the gate the driver decodes
#: and no Spark job starts.  Same unit as the Delta checkpoint gate
#: (``sources.delta.DISTRIBUTED_CHECKPOINT_MIN_BYTES``).  Requires an
#: active SparkSession and no injected ``s3_client`` (a boto3 client
#: cannot ship to executors).
#:
#: Crossover, median wall ms of a warm walk as the engine calls it
#: (``with_stats`` plus schema/spec/mapping), driver / distributed,
#: over lake-shaped manifests with column stats (the 64-manifest
#: benchmark lake's manifests copied k times; 4-core host,
#: ``local[3]``).  The driver leg decodes through the walk's
#: projection (:func:`_entry_fields`) and resolves no zone map; the
#: distributed leg's pushed filter is a point query (partition plus
#: id range):
#:
#: ============== ===================== =============
#: manifest bytes with a pushed filter   without one
#: ============== ===================== =============
#: 0.41 MB        64 / 705              71 / 690
#: 0.83 MB        129 / 654             128 / 734
#: 1.65 MB        258 / 641             336 / 749
#: 2.48 MB        372 / 797
#: 3.31 MB        570-673 / 649-718     672 / 1,063
#: 4.14 MB        714 / 667
#: 6.62 MB        1,325 / 923           1,327 / 1,681
#: 13.23 MB       2,467 / 1,266         2,464 / 2,704
#: ============== ===================== =============
#:
#: Without a pushed filter the driver leg wins at every size measured.
#: With one it wins up to about 3.7 MB; before the walk decoded
#: through a projection that crossover sat near 1.6 MB (1.65 MB:
#: 685 / 649, the gate was 2 MiB).  3 MiB keeps the driver leg where
#: it won in every run.
DISTRIBUTED_MANIFEST_MIN_BYTES = 3 * 1024 * 1024


def _entry_fields(zone_maps: bool) -> dict:
    """The manifest-entry projection the scan walk decodes (see
    :mod:`glue_table_cache_spark.sources.avro_lite`): validation,
    sequence inheritance and partition pruning read these fields;
    ``zone_maps`` keeps the three stats maps as raw bytes for
    :class:`~glue_table_cache_spark.skipping.LazyFileStats` (they are
    skipped otherwise)."""
    data_file = dict.fromkeys(
        ("content", "file_path", "partition", "record_count", "equality_ids"),
        True,
    )
    if zone_maps:
        data_file.update(
            dict.fromkeys(
                ("lower_bounds", "upper_bounds", "null_value_counts"), "raw"
            )
        )
    return {"status": True, "sequence_number": True, "data_file": data_file}


def _decode_manifests_distributed(
    spark,
    paths: list[str],
    keep_fn=None,
    data_paths: set[str] | None = None,
    fields: dict | None = None,
) -> dict[str, list[dict]]:
    """Decode manifest Avro files executor-side: each worker runs
    :func:`~glue_table_cache_spark.sources.avro_lite.read_avro_bytes`
    on its share of the paths, with the driver leg's ``fields``
    projection, and returns one pickled entry-list blob per manifest
    (a projected entry's raw fields pickle as bytes); the driver
    unpickles into exactly the per-entry dicts the driver-side codec
    yields, so downstream validation, sequence inheritance, and path
    resolution are byte-identical.

    ``keep_fn`` (r13, from
    :class:`glue_table_cache_spark.meta_prune._IcebergPruneFactory`)
    filters entries of DATA manifests (``data_paths`` membership)
    EXECUTOR-side before pickling, so the driver collects only files
    the query's partition/stats predicates cannot disprove.  Delete
    manifests always ship whole — their validation, sequence scoping,
    and refusal semantics stay exactly where the driver path has
    them."""
    import pickle

    def _decode(iterator):
        import pandas as pd

        from glue_table_cache_spark.sources.avro_lite import (
            read_avro_bytes as _rab,
        )
        from glue_table_cache_spark.sources.iceberg import (
            _read_bytes as _rb,
        )

        for pdf in iterator:
            out_p, out_b = [], []
            for p in pdf["path"]:
                entries = _rab(_rb(p), name=p, fields=fields)
                if (
                    keep_fn is not None
                    and data_paths is not None
                    and p in data_paths
                ):
                    entries = [e for e in entries if keep_fn(e)]
                out_p.append(p)
                out_b.append(pickle.dumps(entries, protocol=4))
            yield pd.DataFrame({"path": out_p, "blob": out_b})

    uniq = sorted(set(paths))
    # a local relation's scan already slices across
    # defaultParallelism — no repartition (that would add a shuffle
    # just to re-spread a metadata-scale path list)
    rows = (
        local_frame(spark, [(p,) for p in uniq], "path string")
        .mapInPandas(_decode, schema="path string, blob binary")
        .collect()
    )
    # LAZY per-manifest unpickle: both scan loops read each manifest
    # exactly once, so holding 10^5-10^6 decoded entry dicts alive at
    # once buys nothing and costs a lot — `bytes` blobs carry no
    # cyclic-GC header, while a bulk-decoded dict-of-dict-lists makes
    # every later gen-2 GC pass (triggered thousands of times by the
    # decode itself) scan the whole heap; in a long driver session
    # that multiplied this label's driver CPU several-fold.  Decoding
    # 400 entries per access keeps peak tracked objects ~500× smaller
    # and lets each manifest's dicts die young (guide §5: the driver
    # should hold metadata, not churn it).
    return _LazyManifests(
        {r["path"]: bytes(r["blob"]) for r in rows}
    )


class _LazyManifests:
    """Mapping-shaped view over pickled per-manifest entry blobs:
    ``[path]`` unpickles that ONE manifest's entries on access (each
    scan loop touches a manifest once — see
    :func:`_decode_manifests_distributed`)."""

    __slots__ = ("_blobs",)

    def __init__(self, blobs: dict[str, bytes]):
        self._blobs = blobs

    def __getitem__(self, path: str) -> list[dict]:
        import pickle

        return pickle.loads(self._blobs[path])

    def __len__(self) -> int:
        return len(self._blobs)

    def __contains__(self, path: str) -> bool:
        return path in self._blobs


def _manifest_reader(
    list_rows: list[dict],
    resolve,
    s3_client=None,
    keep_fn=None,
    data_paths: set[str] | None = None,
    applied: list | None = None,
    fields: dict | None = None,
):
    """``callable(resolved_path) -> entries`` for a snapshot's
    manifest-list rows (paths mapped through ``resolve``):
    executor-side bulk decode when their ``manifest_length`` sum
    reaches :data:`DISTRIBUTED_MANIFEST_MIN_BYTES` (active session,
    no injected client), else the driver codec per call.
    ``keep_fn`` / ``data_paths`` push query predicates into the
    distributed decode (see :func:`_decode_manifests_distributed`);
    the driver fallback ignores them — the engine's driver-side prune
    still runs over whatever this returns, so both paths converge on
    the same kept set.  Both legs decode with the same ``fields``
    projection (``None``: every field)."""
    lengths = {
        resolve(r["manifest_path"]): int(r.get("manifest_length") or 0)
        for r in list_rows
    }
    if (
        s3_client is None
        and lengths
        and sum(lengths.values()) >= DISTRIBUTED_MANIFEST_MIN_BYTES
    ):
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            if keep_fn is not None and applied is not None:
                applied.append(True)
            decoded = _decode_manifests_distributed(
                spark,
                list(lengths),
                keep_fn=keep_fn,
                data_paths=data_paths,
                fields=fields,
            )
            return decoded.__getitem__
    return lambda p: read_avro_bytes(
        _read_bytes(p, s3_client), name=p, fields=fields
    )


def _list_metadata_jsons(location: str, fs=None) -> list[str]:
    from glue_table_cache_spark.listing import filesystem_for

    meta_dir = posixpath.join(location.rstrip("/"), "metadata")
    fs = fs or filesystem_for(meta_dir)
    return [p for p in fs.list_files(meta_dir) if p.endswith(".json")]


def _resolve_path(location: str, path: str) -> str:
    """Manifest paths may be absolute URIs or table-relative."""
    if "://" in path or path.startswith("/"):
        return path
    return posixpath.join(location.rstrip("/"), path)


def _path_resolver(location: str):
    """:func:`_resolve_path` with the base join hoisted out of the
    per-path call — the resolver runs once per data file, and at
    10^5-10^6 metadata entries the ``posixpath.join`` + ``rstrip``
    per call is measured driver time (guide §1)."""
    base = location.rstrip("/") + "/"

    def resolve(path: str) -> str:
        if "://" in path or path.startswith("/"):
            return path
        return base + path

    return resolve


def iceberg_data_files(
    location: str,
    version_offset: int = 0,
    s3_client=None,
    fs=None,
    with_deletes: bool = False,
) -> list[str] | tuple[list[str], list[str]]:
    """Data-file paths of the (``version_offset``-stepped-back) current
    snapshot of the Iceberg table at ``location``.

    Format-v2 row-level deletes: POSITION delete files (delete-manifest
    entries whose ``data_file.content == 1``) are supported — pass
    ``with_deletes=True`` to get ``(data_files, position_delete_files)``
    and run the scan through :func:`apply_position_deletes`; the
    default mode refuses when any are present, so no caller silently
    resurrects deleted rows.  EQUALITY delete files (``content == 2``)
    refuse in BOTH modes here — their sequence-number scoping needs
    the per-entry seq this return shape drops; use
    :func:`iceberg_scan_details` + :func:`apply_equality_deletes`.

    A position delete row names its target ``(file_path, pos)``
    exactly, so applying every delete file in the current snapshot to
    the whole scan is exact without sequence-number scoping — a delete
    aimed at a compacted-away file matches nothing (Iceberg data files
    are write-once under unique names).

    ``s3_client`` / ``fs`` are injectable so the S3 metadata path is
    testable without AWS (stub client + stub lister)."""
    entries, delete_files = iceberg_scan_info(
        location, version_offset, s3_client, fs
    )
    files = [p for p, _pv in entries]
    if with_deletes:
        return files, delete_files
    if delete_files:
        raise GlueSparkError(
            f"Iceberg table {location!r} carries {len(delete_files)} "
            "position delete file(s); call with with_deletes=True and "
            "apply_position_deletes(), or compact/rewrite — a raw "
            "path scan would resurrect deleted rows"
        )
    return files


def _current_schema(meta: dict) -> dict | None:
    """The metadata's current schema struct: the ``schemas`` entry
    whose ``schema-id`` matches ``current-schema-id`` (last entry as
    fallback), or the legacy v1 singular ``schema`` field."""
    schemas = meta.get("schemas")
    if schemas:
        current = meta.get("current-schema-id")
        for s in schemas:
            if s.get("schema-id") == current:
                return s
        return schemas[-1]
    return meta.get("schema")


def _spark_type_for(iceberg_type: str):
    """Spark type for an Iceberg PRIMITIVE type string
    (spec §Schemas/Primitive Types), or ``None`` for types with no
    faithful Spark mapping — the caller falls back to parquet schema
    inference rather than coercing."""
    from pyspark.sql import types as T

    simple = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        # spec: 'timestamp' is zoneless — NTZ keeps batch scans,
        # the iceberg_lite stream, and non-UTC sessions agreeing on
        # the stored value; only 'timestamptz' is instant-typed
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        "string": T.StringType(),
        "uuid": T.StringType(),
        "binary": T.BinaryType(),
    }
    if iceberg_type in simple:
        return simple[iceberg_type]
    if iceberg_type.startswith("decimal("):
        try:
            p, s = iceberg_type[len("decimal(") : -1].split(",")
            return T.DecimalType(int(p), int(s))
        except ValueError:
            return None
    if iceberg_type.startswith("fixed["):
        return T.BinaryType()
    return None


def iceberg_spark_schema(meta: dict):
    """The current schema as a Spark :class:`StructType` — the
    AUTHORITATIVE scan schema for evolved tables (pre-evolution data
    files surface nulls for later-added columns, independent of which
    file Spark happens to infer from), the Iceberg sibling of the
    Delta branch's ``schemaString`` posture.  Returns ``None`` when
    any field's type has no faithful Spark mapping (nested types,
    ``time``): forcing a lossy schema would corrupt the scan, so the
    caller keeps parquet inference instead."""
    from pyspark.sql import types as T

    schema = _current_schema(meta)
    if not schema:
        return None
    fields = []
    for f in schema.get("fields", []):
        t = f.get("type")
        spark_t = _spark_type_for(t) if isinstance(t, str) else None
        if spark_t is None:
            return None
        fields.append(
            T.StructField(f["name"], spark_t, not f.get("required"))
        )
    return T.StructType(fields)


#: The spec's table property for resolving columns of data files that
#: carry no parquet field ids (Iceberg spec §Name Mapping
#: Serialization): a JSON list of ``{"field-id": N, "names": [...]}``.
#: This engine stages parquet through Spark's writer (no embedded
#: field ids), so the mapping doubles as the PHYSICAL-name registry
#: after ALTER RENAME/DROP COLUMN: entry ``names[0]`` is the on-disk
#: spelling pinned for field N; entries whose id left the current
#: schema mark DEAD on-disk columns a scan must never surface.
NAME_MAPPING_PROP = "schema.name-mapping.default"


def iceberg_column_mapping(
    meta: dict,
) -> tuple[dict[str, str], set[str]]:
    """``(renames, dead)`` from the name-mapping property: ``renames``
    maps physical (on-disk) column name → current logical name for
    live fields whose spellings diverged (ALTER RENAME), ``dead`` is
    the set of on-disk names whose field id is no longer in the
    current schema (ALTER DROP) — a scan that surfaced them would
    resurrect dropped values.  Both empty for never-altered tables
    (the fast path reads with zero overhead)."""
    prop = (meta.get("properties") or {}).get(NAME_MAPPING_PROP)
    if not prop:
        return {}, set()
    try:
        mapping = json.loads(prop)
    except (TypeError, ValueError) as e:
        raise GlueSparkError(
            f"Iceberg property {NAME_MAPPING_PROP} is not valid "
            f"JSON ({e}) — refusing to scan with an unreadable "
            "column mapping"
        ) from None
    live = _field_names_by_id(meta)
    renames: dict[str, str] = {}
    dead: set[str] = set()
    for e in mapping:
        if not isinstance(e, dict):
            continue
        names = e.get("names") or []
        fid = e.get("field-id")
        if not names:
            continue
        phys = names[0]
        if fid in live:
            if phys != live[fid]:
                renames[phys] = live[fid]
        else:
            dead.add(phys)
    return renames, dead


def project_iceberg_logical(df, renames: dict[str, str], dead):
    """Project a physical-name scan to the logical schema: rename
    diverged columns, drop dead ones; any other column (partition
    re-attach, file/pos tags) passes through untouched.  A pure
    SELECT — no shuffle, fused into the scan stage by codegen."""
    from pyspark.sql import functions as F

    if not renames and not dead:
        return df
    cols = []
    for c in df.columns:
        if c in dead and c not in renames:
            continue
        cols.append(
            F.col(c).alias(renames[c]) if c in renames else F.col(c)
        )
    return df.select(*cols)


def iceberg_physical_schema(logical_schema, renames: dict[str, str]):
    """The READ schema for data files of a renamed table: the logical
    StructType with diverged fields spelled physically (types and
    nullability unchanged — this engine refuses type evolution)."""
    from pyspark.sql import types as T

    if logical_schema is None or not renames:
        return logical_schema
    inv = {v: k for k, v in renames.items()}
    return T.StructType(
        [
            T.StructField(
                inv.get(f.name, f.name), f.dataType, f.nullable
            )
            for f in logical_schema.fields
        ]
    )


def _field_names_by_id(meta: dict) -> dict[int, str]:
    """Field-id → column-name map from the metadata's current schema.
    Equality delete files name their columns by FIELD ID
    (``equality_ids``); resolving them against the current schema is
    what makes the delete survive column renames — exactly why the
    spec keys on ids, not names."""
    schema = _current_schema(meta)
    if not schema:
        return {}
    return {
        f["id"]: f["name"]
        for f in schema.get("fields", [])
        if "id" in f and "name" in f
    }


def current_snapshot(meta: dict) -> dict | None:
    """The snapshot ``current-snapshot-id`` names — the spec's
    definition of the table's current state, which is NOT always the
    newest list entry: a ROLLBACK points current at an older
    snapshot, and appends after it branch from there (the stale
    branch stays in the list until expiration).  Falls back to the
    newest entry when the key is absent (pre-v2 metadata);
    ``-1``/null means no current snapshot (empty table state); a
    recorded id missing from the list refuses — the current snapshot
    was expired, and guessing would scan the wrong state."""
    snaps = meta.get("snapshots") or []
    if not snaps:
        return None
    cid = meta.get("current-snapshot-id")
    if cid is None:
        return snaps[-1]
    if cid == -1:
        return None
    for s in snaps:
        if s.get("snapshot-id") == cid:
            return s
    raise GlueSparkError(
        f"Iceberg metadata names current-snapshot-id {cid!r} but the "
        "snapshot list does not contain it — the current snapshot "
        "was expired or the metadata is corrupt; refusing to guess"
    )


def iceberg_scan_info(
    location: str,
    version_offset: int = 0,
    s3_client=None,
    fs=None,
) -> tuple[list[tuple[str, dict]], list[str]]:
    """``(entries, position_delete_files)`` where entries are
    ``(path, partition_values)`` — the manifest records each data
    file's partition tuple, so partition predicates can prune files
    BEFORE the reader sees their paths (the engine feeds these into
    the same three-valued predicate tree as the hive listing path).
    Values are stringified: the pruning layer compares against the
    string forms partition predicates carry.

    This shape cannot convey EQUALITY delete files (``content == 2``)
    — their sequence-number scoping needs the per-entry seq this
    return drops — so it refuses when any are present; use
    :func:`iceberg_scan_details` + :func:`apply_equality_deletes`
    for those tables.  Unknown delete contents always refuse:
    ignoring them would resurrect deleted rows."""
    entries, pos_deletes, eq_deletes = iceberg_scan_details(
        location, version_offset, s3_client, fs
    )
    if eq_deletes:
        raise GlueSparkError(
            f"Iceberg table {location!r} carries "
            f"{len(eq_deletes)} EQUALITY delete file(s) (format v2), "
            "which need sequence-number scoping — use "
            "iceberg_scan_details() + apply_equality_deletes()"
        )
    return [(p, pv) for p, pv, _seq in entries], pos_deletes


def _field_types_by_id(meta: dict) -> dict[int, tuple[str, str]]:
    """Field-id → ``(name, primitive_type)`` from the current schema —
    what decoding ``lower_bounds``/``upper_bounds`` needs (the maps key
    on field ids; values are the spec's binary single-value
    serialization, typed by the schema).  Nested (non-string ``type``)
    fields are omitted: their bounds are not addressable by our flat
    predicates."""
    schema = _current_schema(meta)
    if not schema:
        return {}
    return {
        f["id"]: (f["name"].lower(), f["type"])
        for f in schema.get("fields", [])
        if "id" in f and "name" in f and isinstance(f.get("type"), str)
    }


def iceberg_scan_details(
    location: str,
    version_offset: int = 0,
    s3_client=None,
    fs=None,
    as_of_timestamp_ms: int | None = None,
    with_stats: bool = False,
    with_schema: bool = False,
    with_spec: bool = False,
    as_of_ref: str | None = None,
    with_mapping: bool = False,
    prune_factory=None,
) -> tuple[list, list[str], list[dict]]:
    """Full current-snapshot scan state:
    ``(entries, position_delete_files, equality_deletes)`` where

    * ``entries`` are ``(path, partition_values, data_sequence_number)``
      — the v2 sequence number per data file, from the explicit
      manifest-entry field when present, else inherited from the
      manifest-list row (the spec's inheritance rule for ADDED
      entries), else the snapshot's own sequence number;
    * ``position_delete_files`` are parquet paths for
      :func:`apply_position_deletes` (no seq scoping needed — a
      position delete names its target ``(file_path, pos)`` exactly
      and data files are write-once under unique names);
    * ``equality_deletes`` are ``{"path", "seq", "columns"}`` dicts
      for :func:`apply_equality_deletes` — ``columns`` resolved from
      ``equality_ids`` against the current schema's field ids; a
      content=2 entry with no resolvable equality ids refuses
      (malformed — applying it is impossible, skipping it would
      resurrect rows).

    ``with_stats=True`` widens data entries to 4-tuples whose last
    element is a :class:`glue_table_cache_spark.skipping.LazyFileStats`
    over the manifest's ``lower_bounds``/``upper_bounds``/
    ``null_value_counts``/``record_count`` — the zone-map input for
    file skipping.  The walk does not decode them: ``.resolve()``
    does, on first call, and returns the
    :class:`~glue_table_cache_spark.skipping.FileStats` (``None`` when
    the writer recorded none).  Callers resolve only the files they
    still need after partition pruning.

    ``with_schema=True`` widens the RETURN to a 4-tuple whose last
    element is the resolved metadata version's current schema as a
    Spark ``StructType`` via :func:`iceberg_spark_schema` (``None``
    when it has no faithful Spark mapping) — the scan-schema
    authority for evolved tables, the Iceberg sibling of the Delta
    log's ``schemaString``.

    ``with_spec=True`` appends (after the schema element when both are
    requested) the DEFAULT partition spec's fields as
    ``[{"name", "transform", "source"}]`` via
    :func:`glue_table_cache_spark.sources.iceberg_partitioning.iceberg_partition_fields`
    — the input for HIDDEN-partitioning (transform-aware) pruning."""
    jsons = _list_metadata_jsons(location, fs=fs)
    if not jsons:
        raise GlueSparkError(
            f"No Iceberg metadata JSON found under {location!r}"
        )
    metas = sorted(
        (_read_json(p, s3_client) for p in jsons),
        key=lambda m: m.get("last-sequence-number", 0),
    )
    idx = len(metas) - 1 - version_offset
    if idx < 0:
        raise GlueSparkError(
            f"version_offset={version_offset} exceeds available versions "
            f"({len(metas)}) for {location!r}"
        )
    meta = metas[idx]
    snapshots = meta.get("snapshots") or []
    if as_of_timestamp_ms is not None:
        # timestamp travel: the newest snapshot at or before the
        # instant, from the snapshot log the metadata already carries
        # (``timestamp-ms`` per snapshot) — no extra IO
        snapshots = [
            s
            for s in snapshots
            if s.get("timestamp-ms", 0) <= as_of_timestamp_ms
        ]
        if not snapshots:
            raise GlueSparkError(
                f"No Iceberg snapshot of {location!r} exists at or "
                f"before timestamp {as_of_timestamp_ms}"
            )
    def _widen(base: tuple) -> tuple:
        if with_schema:
            base = base + (iceberg_spark_schema(meta),)
        if with_spec:
            from glue_table_cache_spark.sources.iceberg_partitioning import (
                iceberg_partition_fields,
            )

            base = base + (iceberg_partition_fields(meta),)
        if with_mapping:
            base = base + (iceberg_column_mapping(meta),)
        return base

    if not snapshots:
        return _widen(([], [], []))
    if with_stats:
        from glue_table_cache_spark.skipping import LazyFileStats
    names_by_id = _field_names_by_id(meta)
    types_by_id = _field_types_by_id(meta) if with_stats else {}

    if as_of_ref is not None:
        # named-ref travel (spec `refs` map): the tag/branch's
        # recorded snapshot-id, resolved against THIS metadata's
        # snapshot list — an expired target refuses, never guesses
        refs = meta.get("refs") or {}
        r = refs.get(as_of_ref)
        if r is None:
            raise GlueSparkError(
                f"Iceberg ref {as_of_ref!r} does not exist at "
                f"{location!r} (have {sorted(refs)})"
            )
        sid = r.get("snapshot-id")
        snap = next(
            (s for s in snapshots if s.get("snapshot-id") == sid),
            None,
        )
        if snap is None:
            raise GlueSparkError(
                f"Iceberg ref {as_of_ref!r} names snapshot {sid} "
                f"which was expired from {location!r}; its "
                "manifests may be gone"
            )
    elif as_of_timestamp_ms is not None:
        # timestamp travel addresses history explicitly: the newest
        # snapshot at or before the instant (rolled-back branches
        # included — we keep no snapshot-log lineage)
        snap = snapshots[-1]
    else:
        snap = current_snapshot(meta)
        if snap is None:
            return _widen(([], [], []))
    snap_seq = snap.get("sequence-number", 0)
    manifest_list = _resolve_path(location, snap["manifest-list"])
    entries: list = []
    pos_deletes: list[str] = []
    eq_deletes: list[dict] = []
    list_rows = read_avro_bytes(
        _read_bytes(manifest_list, s3_client),
        name=manifest_list,
        fields=dict.fromkeys(
            ("manifest_path", "manifest_length", "content", "sequence_number"),
            True,
        ),
    )
    # r13 predicate pushdown: data-manifest entries the query's
    # partition/stats predicates disprove are dropped EXECUTOR-side
    # inside the distributed decode (delete manifests always ship
    # whole).  The engine's driver prune still runs over the
    # survivors, so final kept sets match the unpruned path; callers
    # needing the full set (CDC, DML) pass no factory.
    keep_fn = (
        prune_factory(meta) if prune_factory is not None else None
    )
    _res = _path_resolver(location)
    data_manifest_paths = {
        _res(r["manifest_path"])
        for r in list_rows
        if r.get("content", 0) == 0
    }
    pushdown_applied: list = []
    read_manifest = _manifest_reader(
        list_rows,
        _res,
        s3_client,
        keep_fn=keep_fn,
        data_paths=data_manifest_paths,
        applied=pushdown_applied,
        # the pushed keep_fn reads the zone maps too
        fields=_entry_fields(with_stats or keep_fn is not None),
    )
    if pushdown_applied and prune_factory is not None:
        # the caching layer keys this walk's result by predicate
        prune_factory.applied = True
    for r in list_rows:
        # content=1 marks a DELETE manifest: its entries are delete
        # FILES, not data files
        is_delete = r.get("content", 0) == 1
        manifest_seq = r.get("sequence_number", snap_seq)
        m = _res(r["manifest_path"])
        for entry in read_manifest(m):
            # status=2 is a DELETED entry: the file left the table in
            # this snapshot and must not be scanned (the reference's
            # walk reads data_file paths unconditionally — a bug its
            # own fixtures never trip; /root/reference/src/util/
            # iceberg.ts:31-33)
            if entry.get("status") == 2:
                continue
            # v2 inheritance: a null sequence_number on an ADDED entry
            # means "this manifest's sequence number"
            seq = entry.get("sequence_number")
            if seq is None:
                seq = manifest_seq
            df_rec = entry["data_file"]
            path = _res(df_rec["file_path"])
            if not is_delete:
                pv = df_rec.get("partition") or {}
                row = (
                    path,
                    {
                        # None stays None — a NULL partition value
                        # must not become the string 'None' (pruning
                        # treats missing/None as Unknown → keep)
                        k: None if v is None else str(v)
                        for k, v in pv.items()
                    },
                    seq,
                )
                if with_stats:
                    row = row + (LazyFileStats(df_rec, types_by_id),)
                entries.append(row)
                continue
            content = df_rec.get("content", 0)
            if content == 1:
                pos_deletes.append(path)
            elif content == 2:
                ids = df_rec.get("equality_ids") or []
                cols = [names_by_id[i] for i in ids if i in names_by_id]
                if not ids or len(cols) != len(ids):
                    raise GlueSparkError(
                        f"Iceberg EQUALITY delete file {path!r} names "
                        f"equality_ids {ids!r} not resolvable against "
                        "the current schema — malformed manifest; "
                        "refusing (applying it is impossible, "
                        "skipping it would resurrect deleted rows)"
                    )
                eq_deletes.append(
                    {"path": path, "seq": seq, "columns": cols}
                )
            else:
                raise GlueSparkError(
                    f"Iceberg delete manifest {m!r} entry {path!r} has "
                    f"unknown delete content {content!r}; refusing — "
                    "ignoring it could resurrect deleted rows"
                )
    return _widen((entries, pos_deletes, eq_deletes))


def _strip_scheme(col):
    """Scheme-insensitive path form for matching delete-file
    ``file_path`` values against ``_metadata.file_path`` (writers may
    record ``s3://`` where the scan reports ``s3a://``, or a bare
    absolute path where the scan reports ``file:/``)."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, "^[a-zA-Z0-9+.-]+:/+", "/")


def apply_position_deletes(df, delete_paths: list[str]):
    """Mask position-deleted rows out of a raw parquet scan: the
    delete files are THEMSELVES parquet read distributed (no
    driver-side materialization, unlike the Delta DV blobs which are
    opaque bitmaps), then anti-joined on scheme-normalized
    ``(_metadata.file_path, _metadata.row_index)``.  Delete sets are
    usually tiny next to the data, so the anti-join's build side
    broadcasts under AQE; at pathological delete volumes it degrades
    to a shuffle join, still scale-safe."""
    from pyspark.sql import functions as F

    if not delete_paths:
        return df
    spark = df.sparkSession
    deletes = (
        spark.read.parquet(*delete_paths)
        .select(
            _strip_scheme(F.col("file_path")).alias("__del_file"),
            F.col("pos").cast("long").alias("__del_pos"),
        )
    )
    return (
        df.withColumn(
            "__del_file", _strip_scheme(F.col("_metadata.file_path"))
        )
        .withColumn("__del_pos", F.col("_metadata.row_index"))
        .join(deletes, ["__del_file", "__del_pos"], "left_anti")
        .drop("__del_file", "__del_pos")
    )


def apply_equality_deletes(df, entries, eq_deletes):
    """Mask equality-deleted rows out of a raw parquet scan.

    Per the Iceberg v2 spec, an equality delete file removes every row
    whose delete-column values ALL match one of its rows (null equals
    null), but only from data files whose data sequence number is
    STRICTLY LESS than the delete file's — rows written at or after
    the delete are untouched, which is what makes delete-then-reinsert
    round-trips correct.

    Plan shape: the per-file sequence numbers (metadata-scale) are
    broadcast and attached to the scan via ``_metadata.file_path``;
    the delete files themselves are parquet read DISTRIBUTED and
    anti-joined per distinct column set — the null-safe equality
    (``<=>``) keys hash-join, the seq comparison rides along as a
    join condition, and delete sets are usually tiny next to the data
    so the build side broadcasts under AQE.

    ``entries`` is the :func:`iceberg_scan_details` entry list
    (``(path, partition_values, seq)``), ``eq_deletes`` its third
    result."""
    from pyspark.sql import functions as F

    if not eq_deletes:
        return df
    spark = df.sparkSession
    seq_rows = [
        (_strip_path(path), int(seq)) for path, _pv, seq in entries
    ]
    seq_df = local_frame(
        spark,
        seq_rows, "__eq_file string, __data_seq long"
    )
    out = (
        df.withColumn(
            "__eq_file", _strip_scheme(F.col("_metadata.file_path"))
        )
        .join(F.broadcast(seq_df), "__eq_file", "left")
        .drop("__eq_file")
    )
    by_cols: dict[tuple[str, ...], list[dict]] = {}
    for d in eq_deletes:
        by_cols.setdefault(tuple(d["columns"]), []).append(d)
    for cols, dels in by_cols.items():
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise GlueSparkError(
                f"Iceberg equality delete columns {missing} are not "
                "in the scan schema — cannot apply the delete"
            )
        parts = []
        for d in dels:
            parts.append(
                spark.read.parquet(d["path"])
                .select(*[F.col(c).alias(f"__del_{c}") for c in cols])
                .withColumn("__del_seq", F.lit(int(d["seq"])))
            )
        deletes = parts[0]
        for p in parts[1:]:
            deletes = deletes.unionByName(p)
        cond = F.col("__data_seq") < F.col("__del_seq")
        for c in cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__del_{c}"))
        out = out.join(deletes, cond, "left_anti")
    return out.drop("__data_seq")


def _strip_path(path: str) -> str:
    """Driver-side twin of :func:`_strip_scheme` for plain strings."""
    import re as _re

    return _re.sub(r"^[a-zA-Z0-9+.-]+:/+", "/", path)


def iceberg_changes(
    location: str,
    versions_back: int = 1,
    s3_client=None,
    fs=None,
) -> tuple[list[str], list[str]]:
    """File-level incremental feed: ``(added, removed)`` data files
    between the snapshot ``versions_back`` versions ago and the current
    one — the "process only new data" primitive for incremental
    training-data ingestion, computed as a set difference of two
    manifest walks (both metadata-scale).

    Delete files (position AND equality) participate like data files:
    a NEW delete file shows up in ``added`` (the rows it masks changed
    — consumers must re-apply deletes), a compacted-away one in
    ``removed``."""

    def files_at(offset: int) -> set[str]:
        entries, pos, eq = iceberg_scan_details(
            location, offset, s3_client, fs
        )
        return (
            {p for p, _pv, _seq in entries}
            | set(pos)
            | {d["path"] for d in eq}
        )

    cur = files_at(0)
    prev = files_at(versions_back)
    return sorted(cur - prev), sorted(prev - cur)


def iceberg_snapshots(spark, location: str, s3_client=None, fs=None):
    """The table's snapshot log as a small DataFrame — the
    ``table$snapshots`` / ``DESCRIBE HISTORY`` introspection surface
    (snapshot id, sequence number, commit timestamp, manifest list).
    Driver reads one metadata JSON; the result is metadata-scale."""
    jsons = _list_metadata_jsons(location, fs=fs)
    if not jsons:
        raise GlueSparkError(
            f"No Iceberg metadata JSON found under {location!r}"
        )
    meta = max(
        (_read_json(p, s3_client) for p in jsons),
        key=lambda m: m.get("last-sequence-number", 0),
    )
    rows = [
        (
            int(s.get("snapshot-id", 0)),
            int(s.get("sequence-number", 0)),
            int(s.get("timestamp-ms", 0)),
            str(s.get("manifest-list", "")),
        )
        for s in meta.get("snapshots") or []
    ]
    return local_frame(
        spark,
        rows,
        "snapshot_id long, sequence_number long, timestamp_ms long, "
        "manifest_list string",
    )


def iceberg_metadata_table(
    spark,
    location: str,
    kind: str,
    s3_client=None,
    fs=None,
    sequence_number: int | None = None,
):
    """The Iceberg SQL inspection tables (public spec "Metadata
    tables" — ``db.table.snapshots`` / ``.history`` / ``.manifests``
    / ``.files``) as small DataFrames built from the same driver-side
    metadata walk every scan uses.  Shapes follow the spec columns:

    * ``snapshots``: committed_at, snapshot_id, parent_id, operation,
      manifest_list, summary;
    * ``history``: made_current_at, snapshot_id, parent_id,
      is_current_ancestor (parent chain when recorded, else the
      linear sequence-number order this repo's writers produce);
    * ``manifests``: content, path, length, partition_spec_id,
      added_snapshot_id, sequence_number — the CURRENT snapshot's
      manifest list;
    * ``files``: content, file_path, file_format, record_count,
      file_size_in_bytes, partition — the current snapshot's live
      entries (data and delete files; ``content`` distinguishes);
    * ``refs``: name, type, snapshot_id, max_reference_age_in_ms —
      the named branches/tags of the latest metadata;
    * ``partitions``: partition, spec_id, record_count, file_count,
      total_data_file_size_in_bytes — the current snapshot's live
      DATA entries aggregated by partition tuple.

    ``sequence_number`` pins the walk to the metadata state at that
    sequence number (``glue.db.t.files VERSION AS OF n`` — the same
    identifier data-scan travel uses); None reads the latest.

    Metadata-scale: one JSON + (for manifests/files/partitions) the
    current snapshot's Avro walk; no data file is ever opened."""
    import datetime as _dt

    from glue_table_cache_spark.sources.avro_lite import (
        read_avro_bytes,
    )

    jsons = _list_metadata_jsons(location, fs=fs)
    if not jsons:
        raise GlueSparkError(
            f"No Iceberg metadata JSON found under {location!r}"
        )
    metas = [_read_json(p, s3_client) for p in jsons]
    if sequence_number is None:
        meta = max(
            metas, key=lambda m: m.get("last-sequence-number", 0)
        )
    else:
        want = [
            m
            for m in metas
            if m.get("last-sequence-number", 0) == sequence_number
        ]
        if not want:
            have = sorted(
                m.get("last-sequence-number", 0) for m in metas
            )
            raise GlueSparkError(
                f"{kind} VERSION AS OF {sequence_number}: no Iceberg "
                f"metadata at that sequence number under "
                f"{location!r} (have {have})"
            )
        meta = want[0]
    snapshots = list(meta.get("snapshots") or [])

    def ts(ms) -> _dt.datetime:
        return _dt.datetime.fromtimestamp(
            int(ms or 0) / 1000.0, tz=_dt.timezone.utc
        ).replace(tzinfo=None)

    if kind == "snapshots":
        rows = [
            (
                ts(s.get("timestamp-ms")),
                int(s.get("snapshot-id", 0)),
                s.get("parent-snapshot-id"),
                (s.get("summary") or {}).get("operation"),
                str(s.get("manifest-list", "")),
                {
                    k: str(v)
                    for k, v in (s.get("summary") or {}).items()
                    if k != "operation"
                },
            )
            for s in snapshots
        ]
        return local_frame(
            spark,
            rows,
            "committed_at timestamp, snapshot_id long, "
            "parent_id long, operation string, "
            "manifest_list string, summary map<string,string>",
        )
    cur = current_snapshot(meta)
    if kind == "history":
        cur_id = None if cur is None else cur.get("snapshot-id")
        by_id = {s.get("snapshot-id"): s for s in snapshots}
        ancestors: set = set()
        if cur is not None and cur.get("parent-snapshot-id"):
            sid = cur_id
            while sid in by_id:
                ancestors.add(sid)
                sid = by_id[sid].get("parent-snapshot-id")
        elif cur is not None:
            # no parent lineage recorded (this repo's writers commit
            # linearly): everything at or before current's sequence
            cur_seq = cur.get("sequence-number", 0)
            ancestors = {
                s.get("snapshot-id")
                for s in snapshots
                if s.get("sequence-number", 0) <= cur_seq
            }
        rows = [
            (
                ts(s.get("timestamp-ms")),
                int(s.get("snapshot-id", 0)),
                s.get("parent-snapshot-id"),
                s.get("snapshot-id") in ancestors,
            )
            for s in snapshots
        ]
        return local_frame(
            spark,
            rows,
            "made_current_at timestamp, snapshot_id long, "
            "parent_id long, is_current_ancestor boolean",
        )
    if kind == "refs":
        rows = [
            (
                str(name),
                str(r.get("type", "branch")).upper(),
                int(r.get("snapshot-id", 0)),
                r.get("max-reference-age-ms"),
            )
            for name, r in sorted(
                (meta.get("refs") or {}).items()
            )
        ]
        return local_frame(
            spark,
            rows,
            "name string, type string, snapshot_id long, "
            "max_reference_age_in_ms long",
        )
    schemas = {
        "manifests": (
            "content int, path string, length long, "
            "partition_spec_id int, added_snapshot_id long, "
            "sequence_number long"
        ),
        "files": (
            "content int, file_path string, file_format string, "
            "record_count long, file_size_in_bytes long, "
            "partition map<string,string>"
        ),
        "partitions": (
            "partition map<string,string>, spec_id int, "
            "record_count long, file_count long, "
            "total_data_file_size_in_bytes long"
        ),
    }
    if kind not in schemas:
        raise GlueSparkError(
            f"unknown Iceberg metadata table kind {kind!r} — "
            "expected snapshots, files, manifests, history, refs, "
            "or partitions"
        )
    if cur is None:
        return local_frame(spark, [], schemas[kind])
    snap_seq = cur.get("sequence-number", 0)
    list_rows = read_avro_bytes(
        _read_bytes(
            _resolve_path(location, cur["manifest-list"]), s3_client
        ),
        name=cur["manifest-list"],
    )
    if kind == "manifests":
        rows = [
            (
                int(r.get("content", 0)),
                str(r.get("manifest_path", "")),
                int(r.get("manifest_length", 0)),
                int(r.get("partition_spec_id", 0)),
                r.get("added_snapshot_id"),
                int(r.get("sequence_number", snap_seq)),
            )
            for r in list_rows
        ]
        return local_frame(
            spark,
            rows,
            "content int, path string, length long, "
            "partition_spec_id int, added_snapshot_id long, "
            "sequence_number long",
        )
    rows = []
    agg: dict = {}  # partitions: (tuple(pv), spec_id) -> [rc, fc, sz]
    read_manifest = _manifest_reader(
        list_rows, _path_resolver(location), s3_client
    )
    for r in list_rows:
        m = _resolve_path(location, r["manifest_path"])
        spec_id = int(r.get("partition_spec_id", 0))
        for entry in read_manifest(m):
            if entry.get("status") == 2:  # DELETED entry
                continue
            df_rec = entry.get("data_file") or {}
            pv = {
                k: (None if v is None else str(v))
                for k, v in (df_rec.get("partition") or {}).items()
            }
            if kind == "partitions":
                if int(df_rec.get("content", 0)) != 0:
                    continue  # data files only, per the spec shape
                key = (tuple(sorted(pv.items())), spec_id)
                acc = agg.setdefault(key, [0, 0, 0])
                acc[0] += int(df_rec.get("record_count", 0))
                acc[1] += 1
                acc[2] += int(df_rec.get("file_size_in_bytes", 0))
            else:
                rows.append(
                    (
                        int(df_rec.get("content", 0)),
                        str(df_rec.get("file_path", "")),
                        str(df_rec.get("file_format", "PARQUET")),
                        int(df_rec.get("record_count", 0)),
                        int(df_rec.get("file_size_in_bytes", 0)),
                        pv,
                    )
                )
    if kind == "partitions":
        rows = [
            (dict(pv), spec_id, rc, fc, sz)
            for (pv, spec_id), (rc, fc, sz) in sorted(
                agg.items(), key=lambda kv: repr(kv[0])
            )  # repr: NULL partition values don't order vs str
        ]
    return local_frame(spark, rows, schemas[kind])


def iceberg_history(spark, location: str, s3_client=None, fs=None):
    """The commit timeline as a small DataFrame in the engine's
    unified ``DESCRIBE HISTORY`` shape (``version, timestamp,
    operation`` — matching :func:`..delta.delta_history`): one row
    per snapshot of the LATEST metadata, version = the snapshot's
    sequence number (the read/write travel identifier), operation
    from the snapshot ``summary``.  Rolled-back-over branch snapshots
    stay listed until expiration — history shows them; the row whose
    snapshot is current carries ``is_current=true``."""
    jsons = _list_metadata_jsons(location, fs=fs)
    if not jsons:
        raise GlueSparkError(
            f"No Iceberg metadata JSON found under {location!r}"
        )
    meta = max(
        (_read_json(p, s3_client) for p in jsons),
        key=lambda m: m.get("last-sequence-number", 0),
    )
    cur = current_snapshot(meta)
    cur_id = None if cur is None else cur.get("snapshot-id")
    rows = [
        (
            int(s.get("sequence-number", 0)),
            int(s.get("timestamp-ms", 0)),
            (s.get("summary") or {}).get("operation"),
            s.get("snapshot-id") == cur_id,
        )
        for s in meta.get("snapshots") or []
    ]
    return local_frame(
        spark,
        sorted(rows),
        "version long, timestamp long, operation string, "
        "is_current boolean",
    )


def iceberg_cdf(
    spark,
    location: str,
    versions_back: int = 1,
    s3_client=None,
    fs=None,
):
    """Row-level changelog between the snapshot ``versions_back``
    versions ago and the current one: the table's data columns plus
    ``_change_type`` (insert / delete) — Iceberg's ``changelog``
    semantics at append/rewrite granularity.

    Data files ADDED in the window contribute their rows as inserts,
    data files REMOVED contribute theirs as deletes (write-once files
    are still on disk until expired; an expired file fails loudly at
    read).  Position-delete windows SYNTHESIZE their per-row delta
    (r11 — delegated to :func:`iceberg_table_changes`, which owns the
    window walk); equality-delete changes and un-compacted
    position-delete removal still refuse.

    Driver walks manifests only; row reads are distributed scans."""
    if versions_back < 1:
        raise GlueSparkError(
            f"iceberg_cdf needs versions_back >= 1, got "
            f"{versions_back}"
        )
    jsons = _list_metadata_jsons(location, fs=fs)
    if not jsons:
        raise GlueSparkError(
            f"No Iceberg metadata JSON found under {location!r}"
        )
    seqs = sorted(
        _read_json(p, s3_client).get("last-sequence-number", 0)
        for p in jsons
    )
    idx_prev = len(seqs) - 1 - versions_back
    start = seqs[idx_prev] + 1 if idx_prev >= 0 else 0
    return iceberg_table_changes(
        spark, location, start, s3_client=s3_client, fs=fs
    ).drop("_commit_version")


def _pos_pairs(spark, pos_paths: list[str]):
    """The ``(file_path, pos)`` targets of position-delete files as a
    two-column DataFrame (``__df`` scheme-stripped, ``__dp`` long) —
    the join key both the delete-row synthesis and the row masking
    below share."""
    from pyspark.sql import functions as F

    return spark.read.parquet(*pos_paths).select(
        _strip_scheme(F.col("file_path")).alias("__df"),
        F.col("pos").cast("long").alias("__dp"),
    )


def _mask_position_pairs(df, pairs):
    """Drop the rows of ``df`` that position-delete ``pairs`` target
    (anti-join on ``(_metadata.file_path, _metadata.row_index)``) —
    one distributed anti-join, no driver rows."""
    from pyspark.sql import functions as F

    return (
        df.withColumn(
            "__df", _strip_scheme(F.col("_metadata.file_path"))
        )
        .withColumn("__dp", F.col("_metadata.row_index"))
        .join(pairs, ["__df", "__dp"], "left_anti")
        .drop("__df", "__dp")
    )


def _position_deleted_rows(
    spark, location: str, prev_paths: list[str],
    new_pos: list[str], prior_pos: list[str],
):
    """The rows a snapshot's NEW position-delete files removed, read
    back from the PRIOR state's data files — the per-row delta a
    DELETE/UPDATE/MERGE window needs.  The new delete files name
    their targets exactly as ``(file_path, pos)``; pairs an OLDER
    delete file already masked are subtracted (a row dies once).

    Plan shape: the target-path restriction is a metadata-scale
    distinct+collect (one row per referenced data file, same order as
    the manifest walk itself); the row extraction is ONE distributed
    scan of just those files semi-joined on the pair — no driver
    rows.  Returns ``None`` when nothing matched."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.delta import (
        hadoop_uri_encode,
    )

    dels = _pos_pairs(spark, new_pos)
    if prior_pos:
        dels = dels.join(
            _pos_pairs(spark, prior_pos), ["__df", "__dp"], "left_anti"
        )
    targets = {
        r["__df"] for r in dels.select("__df").distinct().collect()
    }
    paths = [
        p
        for p in prev_paths
        if _strip_path(hadoop_uri_encode(p)) in targets
    ]
    if not paths:
        return None
    df = spark.read.option("basePath", location).parquet(*paths)
    return (
        df.withColumn(
            "__df", _strip_scheme(F.col("_metadata.file_path"))
        )
        .withColumn("__dp", F.col("_metadata.row_index"))
        .join(dels, ["__df", "__dp"], "semi")
        .drop("__df", "__dp")
    )


def _tagged_prior_scan(spark, location: str, entries: list):
    """Prior-state data rows tagged ONCE with their scan identity:
    ``__rf`` (scheme-stripped, URI-encoded file path), ``__rp`` (row
    index) and ``__data_seq`` (the entry's v2 sequence number).
    ``_metadata`` resolves only on the raw scan relation — a second
    reference after any join fails analysis — so every downstream
    mask and kill joins on these MATERIALIZED columns instead."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.delta import (
        hadoop_uri_encode,
    )

    df = spark.read.option("basePath", location).parquet(
        *[p for p, _pv, _s in entries]
    )
    seq_df = local_frame(
        spark,
        [
            (_strip_path(hadoop_uri_encode(p)), int(s))
            for p, _pv, s in entries
        ],
        "__rf string, __data_seq long",
    )
    return (
        df.withColumn(
            "__rf", _strip_scheme(F.col("_metadata.file_path"))
        )
        .withColumn("__rp", F.col("_metadata.row_index"))
        .join(F.broadcast(seq_df), "__rf", "left")
    )


def _mask_pairs_tagged(df, pairs):
    """Drop the rows of a TAGGED frame that position-delete ``pairs``
    target — anti-join on the materialized ``(__rf, __rp)``
    identity, safe any number of joins deep."""
    return df.join(
        pairs.withColumnRenamed("__df", "__rf").withColumnRenamed(
            "__dp", "__rp"
        ),
        ["__rf", "__rp"],
        "left_anti",
    )


def _eq_kill_tagged(spark, live, eq_deletes: list[dict]):
    """``(kills, remaining)`` of a TAGGED frame against equality
    delete files: rows whose values null-safe match any delete row
    under the spec's strictly-less sequence scoping
    (``__data_seq < delete seq``).  Files grouped by (column tuple,
    seq) kill iteratively, so a row matching several groups lands in
    ``kills`` exactly once.  ``kills`` is ``None`` when the delete
    list is empty."""
    from functools import reduce

    from pyspark.sql import functions as F

    by_group: dict[tuple, list[dict]] = {}
    for d in eq_deletes:
        by_group.setdefault(
            (tuple(d["columns"]), int(d["seq"])), []
        ).append(d)
    remaining = live
    kills = None
    for (cols, dseq), dels in sorted(by_group.items()):
        missing = [c for c in cols if c not in live.columns]
        if missing:
            raise GlueSparkError(
                f"Iceberg equality delete columns {missing} are not "
                "in the scan schema — cannot synthesize the "
                "changelog window"
            )
        vals = None
        for d in dels:
            v = spark.read.parquet(d["path"]).select(*cols)
            vals = v if vals is None else vals.unionByName(v)
        vals = vals.dropDuplicates(list(cols)).select(
            *[F.col(c).alias(f"__ek_{c}") for c in cols]
        )
        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(c).eqNullSafe(F.col(f"__ek_{c}"))
                for c in cols
            ],
        ) & (F.col("__data_seq") < F.lit(dseq))
        k = remaining.join(vals, cond, "left_semi")
        kills = k if kills is None else kills.unionByName(k)
        remaining = remaining.join(vals, cond, "left_anti")
    return kills, remaining


_TAG_COLS = ("__rf", "__rp", "__data_seq")


def _equality_deleted_rows(
    spark,
    location: str,
    prev_e: list,
    prev_pos: list[str],
    prev_eq: list[dict],
    new_eq: list[dict],
    new_pos: list[str] | None = None,
):
    """The rows a snapshot's NEW equality-delete files removed: the
    PRIOR state's LIVE rows (its own position and equality deletes
    applied first — a row dies once) matching any new delete file's
    values null-safely on its equality columns with the spec's
    strictly-less sequence scoping (which also exempts the SAME
    snapshot's adds — the caller never feeds those in).  Files
    grouped by (column tuple, seq) kill iteratively (a row matching
    two groups emits once).  Rows the SAME snapshot's new
    position-delete files target (``new_pos`` — the Flink
    upsert-sink pattern commits both kinds at once) are masked out
    first: those rows already surface once through
    :func:`_position_deleted_rows`, so re-emitting them here would
    double-delete.  Returns ``None`` when the prior state is
    empty."""
    if not prev_e:
        return None
    live = _tagged_prior_scan(spark, location, prev_e)
    if new_pos:
        live = _mask_pairs_tagged(
            live, _pos_pairs(spark, list(new_pos))
        )
    if prev_pos:
        live = _mask_pairs_tagged(
            live, _pos_pairs(spark, list(prev_pos))
        )
    if prev_eq:
        _k, live = _eq_kill_tagged(spark, live, prev_eq)
    kills, _rem = _eq_kill_tagged(spark, live, new_eq)
    if kills is None:
        return None
    return kills.drop(*_TAG_COLS)


def _resurrected_position_rows(
    spark,
    location: str,
    kept_e: list,
    removed_pos: list[str],
    cur_pos: list[str],
    cur_eq: list[dict],
):
    """Position-delete-file REMOVAL while equality deletes remain
    active (r13): the resurrected set is the removed files' targeted
    rows of the KEPT data files, minus pairs the CURRENT position
    deletes still target, minus rows the surviving equality deletes
    still kill under their sequence scoping — the tagged-scan twin of
    :func:`_position_deleted_rows` reversed, needed because the
    value-based survivors require ``__data_seq``."""
    if not kept_e or not removed_pos:
        return None
    live = _tagged_prior_scan(spark, location, kept_e)
    pairs = _pos_pairs(spark, list(removed_pos))
    if cur_pos:
        pairs = pairs.join(
            _pos_pairs(spark, list(cur_pos)),
            ["__df", "__dp"],
            "left_anti",
        )
    cand = live.join(
        pairs.withColumnRenamed("__df", "__rf").withColumnRenamed(
            "__dp", "__rp"
        ),
        ["__rf", "__rp"],
        "semi",
    )
    if cur_eq:
        _k, cand = _eq_kill_tagged(spark, cand, cur_eq)
    return cand.drop(*_TAG_COLS)


def _resurrected_equality_rows(
    spark,
    location: str,
    kept_e: list,
    cur_pos: list[str],
    removed_eq: list[dict],
    removed_pos: list[str] | None = None,
    cur_eq: list[dict] | None = None,
):
    """The rows an equality-delete file's REMOVAL (outside a replace
    snapshot — external maintenance) made visible again: rows of the
    KEPT data files matching the removed file's values null-safely
    with the spec's sequence scoping (data seq strictly less than the
    delete's), minus rows the CURRENT position deletes still mask
    AND minus rows the snapshot's REMOVED position-delete files
    targeted (``removed_pos`` — those resurrect once through
    :func:`_position_deleted_rows` reversed; re-emitting them here
    would double-insert a dual-kind-masked row).  Files grouped by
    (column tuple, seq) resurrect iteratively — a row matching two
    removed files emits once.  A dangling removed delete (no
    surviving targets) yields nothing.  Equality deletes that REMAIN
    active (``cur_eq``, r13 — previously refused) subtract their
    seq-scoped kills from the candidates: a row the surviving files
    still mask never became visible and must not emit.  Returns
    ``None`` when nothing can match."""
    if not kept_e or not removed_eq:
        return None
    live = _tagged_prior_scan(spark, location, kept_e)
    if removed_pos:
        live = _mask_pairs_tagged(
            live, _pos_pairs(spark, list(removed_pos))
        )
    if cur_pos:
        live = _mask_pairs_tagged(
            live, _pos_pairs(spark, list(cur_pos))
        )
    kills, _rem = _eq_kill_tagged(spark, live, removed_eq)
    if kills is None:
        return None
    if cur_eq:
        _k2, kills = _eq_kill_tagged(spark, kills, cur_eq)
    return kills.drop(*_TAG_COLS)


def iceberg_seq_for_timestamp(
    location: str,
    ts_ms: int,
    mode: str,
    s3_client=None,
    fs=None,
) -> int:
    """Resolve a timestamp to a sequence number from the snapshot
    log's ``timestamp-ms`` entries: ``mode='start'`` → the OLDEST
    snapshot at or after ``ts_ms`` (CDF startingTimestamp rule),
    ``mode='end'`` → the NEWEST at or before (endingTimestamp /
    travel rule).  No snapshot qualifies → refuse."""
    jsons = _list_metadata_jsons(location, fs=fs)
    if not jsons:
        raise GlueSparkError(
            f"No Iceberg metadata JSON found under {location!r}"
        )
    meta = max(
        (_read_json(p, s3_client) for p in jsons),
        key=lambda m: m.get("last-sequence-number", 0),
    )
    snaps = sorted(
        (
            int(s.get("timestamp-ms", 0)),
            int(s.get("sequence-number", 0)),
        )
        for s in meta.get("snapshots") or []
    )
    if mode == "start":
        for ts, seq in snaps:
            if ts >= ts_ms:
                return seq
        raise GlueSparkError(
            f"No Iceberg snapshot of {location!r} at or after "
            f"timestamp {ts_ms} (newest snapshot predates it)"
        )
    target = None
    for ts, seq in snaps:
        if ts <= ts_ms:
            target = seq
    if target is None:
        raise GlueSparkError(
            f"No Iceberg snapshot of {location!r} at or before "
            f"timestamp {ts_ms}"
        )
    return target


def iceberg_table_changes(
    spark,
    location: str,
    start_seq: int,
    end_seq: int | None = None,
    s3_client=None,
    fs=None,
):
    """Row-level changelog for the INCLUSIVE sequence-number window
    ``[start_seq, end_seq]`` (end defaults to the latest): the
    table's data columns plus ``_change_type`` (insert / delete) and
    ``_commit_version`` (the sequence number that delivered the
    change) — the batch ``table_changes()`` TVF shape, per-commit
    attribution like Delta's CDF.

    Walks each consecutive snapshot pair inside the window and diffs
    their data-file sets (:func:`iceberg_cdf`'s semantics, windowed).
    A pair that ADDS position-delete files synthesizes the per-row
    delta: the new ``(file_path, pos)`` targets identify exactly the
    rows deleted, read back from the PRIOR state's data files via
    ``_metadata.row_index`` (one distributed scan semi-joined on the
    pair — :func:`_position_deleted_rows`), so DELETE/UPDATE/MERGE
    commits staged as position deletes surface as real ``delete``
    rows instead of refusing.  A pair that ADDS equality-delete
    files synthesizes too (:func:`_equality_deleted_rows`): the
    prior state's LIVE rows matching the new files' values
    null-safely on their equality columns — the spec's
    strictly-less sequence scoping holds by construction (every
    prior file predates the delete; same-snapshot adds are exempt
    and never fed in).  Delete-file REMOVAL outside a ``replace``
    (external maintenance — dangling-delete cleanup, partial
    rewrites) synthesizes the RESURRECTED rows as inserts (r12):
    previously-masked rows of the kept data files minus what the
    remaining deletes still mask (:func:`_position_deleted_rows`
    reversed; :func:`_resurrected_equality_rows` with seq scoping);
    a dangling removed delete emits nothing.  What still refuses:
    removal while OTHER equality deletes stay active — their
    value-based kills make the resurrected set not
    file-diff-expressible here.
    Snapshots whose ``summary.operation`` is ``replace`` (compaction
    / OPTIMIZE — content-preserving by the spec's definition) advance
    the state WITHOUT emitting: rewritten files are storage
    bookkeeping, not row changes.  Rows of REMOVED data files that an
    already-active position delete had masked are excluded from the
    emitted deletes (they died in an earlier commit); rows of ADDED
    data files masked by a SAME-snapshot position delete never
    surface at all.  Identity partition columns stored hive-style in
    the directory names re-attach via ``basePath``.

    Driver walks manifests only (O(window) metadata reads); row reads
    are distributed scans."""
    from pyspark.sql import functions as F

    jsons = _list_metadata_jsons(location, fs=fs)
    if not jsons:
        raise GlueSparkError(
            f"No Iceberg metadata JSON found under {location!r}"
        )
    metas = sorted(
        (_read_json(p, s3_client) for p in jsons),
        key=lambda m: m.get("last-sequence-number", 0),
    )
    seqs = [m.get("last-sequence-number", 0) for m in metas]
    if end_seq is None:
        end_seq = seqs[-1]
    if start_seq > end_seq:
        raise GlueSparkError(
            f"table_changes window is inverted: start {start_seq} > "
            f"end {end_seq}"
        )
    if start_seq > seqs[-1]:
        raise GlueSparkError(
            f"table_changes start bound {start_seq} is past the "
            f"newest Iceberg sequence number {seqs[-1]} of "
            f"{location!r}"
        )
    # range semantics (the sequence axis is sparse for tables other
    # writers touched): the window covers snapshots whose sequence
    # number falls in [start, end]
    i_start = next(
        i for i, s in enumerate(seqs) if s >= start_seq
    )
    i_end = max(
        (i for i, s in enumerate(seqs) if s <= end_seq),
        default=i_start - 1,
    )
    last = len(metas) - 1
    # seq → summary.operation of the snapshot that produced it, from
    # the NEWEST metadata's snapshot log (the spec requires one)
    ops = {
        int(s.get("sequence-number", 0)): (
            (s.get("summary") or {}).get("operation") or ""
        ).lower()
        for s in metas[-1].get("snapshots") or []
    }

    def _state(idx: int):
        return iceberg_scan_details(
            location, last - idx, s3_client, fs
        )

    if i_start > 0:
        prev_e, prev_pos, prev_eq = _state(i_start - 1)
    else:
        prev_e, prev_pos, prev_eq = [], [], []
    by_seq: dict[int, dict] = {}
    for idx in range(i_start, i_end + 1):
        cur_e, cur_pos, cur_eq = _state(idx)
        if ops.get(seqs[idx]) == "replace":
            # compaction is content-preserving: rewritten files are
            # storage bookkeeping, never row changes — advance only
            prev_e, prev_pos, prev_eq = cur_e, cur_pos, cur_eq
            continue
        prev_eq_paths = {d["path"] for d in prev_eq}
        # delete-file REMOVAL outside a replace snapshot (external
        # maintenance — "remove dangling deletes", partial rewrites):
        # the rows the removed file had killed become VISIBLE again,
        # reconstructible as inserts — prior-state masked rows (of
        # data files KEPT across the pair) minus rows the remaining
        # deletes still mask.  A dangling removed delete (targets
        # all gone) synthesizes an empty set and emits nothing.
        # SURVIVING equality deletes (r13; previously refused) apply
        # their value-based kills to the resurrection candidates via
        # the same seq-scoped _eq_kill_tagged the delete direction
        # uses, so only rows NOTHING still masks come back.
        removed_pos = sorted(set(prev_pos) - set(cur_pos))
        removed_eq = [
            d for d in prev_eq
            if d["path"] not in {x["path"] for x in cur_eq}
        ]
        new_pos = sorted(set(cur_pos) - set(prev_pos))
        new_eq = [
            d for d in cur_eq if d["path"] not in prev_eq_paths
        ]
        cur = {p for p, _pv, _s in cur_e}
        prev = {p for p, _pv, _s in prev_e}
        added = sorted(cur - prev)
        removed = sorted(prev - cur)
        if (
            added or removed or new_pos or new_eq
            or removed_pos or removed_eq
        ):
            by_seq[seqs[idx]] = {
                "added": added,
                "removed": removed,
                "new_pos": new_pos,
                "new_eq": new_eq,
                "removed_pos": removed_pos,
                "removed_eq": removed_eq,
                "kept_e": [
                    e for e in prev_e if e[0] in cur
                ],
                "cur_pos": list(cur_pos),
                "cur_eq": list(cur_eq),
                "prior_pos": list(prev_pos),
                "prior_eq": list(prev_eq),
            }
        prev_e, prev_pos, prev_eq = cur_e, cur_pos, cur_eq

    reader = spark.read.option("basePath", location)
    # RENAMED/DROPPED columns (name mapping): files spell physically
    # — project every piece to the CURRENT logical schema, exactly
    # like the batch scan, so the changelog composes with
    # apply_changes against logically-named targets
    tvf_renames, tvf_dead = iceberg_column_mapping(metas[-1])
    pieces = []
    for seq in sorted(by_seq):
        u = by_seq[seq]

        def _tag(df, ct, seq=seq):
            df = project_iceberg_logical(df, tvf_renames, tvf_dead)
            return df.withColumn(
                "_change_type", F.lit(ct)
            ).withColumn("_commit_version", F.lit(seq).cast("long"))

        if u["added"]:
            ins = reader.parquet(*u["added"])
            if u["new_pos"]:
                # a position delete committed in the SAME snapshot
                # can target a file that snapshot added (an UPDATE's
                # carry-over rewrite) — those rows were never visible
                ins = _mask_position_pairs(
                    ins, _pos_pairs(spark, u["new_pos"])
                )
            pieces.append(_tag(ins, "insert"))
        if u["removed"]:
            dels = reader.parquet(*u["removed"])
            if u["prior_pos"]:
                # rows an ALREADY-ACTIVE position delete had masked
                # died in an earlier commit, not this one
                dels = _mask_position_pairs(
                    dels, _pos_pairs(spark, u["prior_pos"])
                )
            pieces.append(_tag(dels, "delete"))
        if u["new_pos"]:
            # KEPT files only: rows of a data file REMOVED in the
            # same snapshot die via the file-removal branch above —
            # synthesizing them here too would emit a duplicate
            # delete (the dual-channel hazard)
            rows = _position_deleted_rows(
                spark,
                location,
                [p for p, _pv, _s in u["kept_e"]],
                u["new_pos"],
                u["prior_pos"],
            )
            if rows is not None:
                pieces.append(_tag(rows, "delete"))
        if u["new_eq"]:
            rows = _equality_deleted_rows(
                spark,
                location,
                u["kept_e"],
                u["prior_pos"],
                u["prior_eq"],
                u["new_eq"],
                new_pos=u["new_pos"],
            )
            if rows is not None:
                pieces.append(_tag(rows, "delete"))
        if u["removed_pos"]:
            # delete-file removal outside replace: previously-masked
            # rows of the KEPT data files, minus pairs the remaining
            # position deletes still target, come back as inserts —
            # the same pair-diff synthesis as the delete direction.
            # With equality deletes still active (r13), the tagged
            # variant additionally subtracts their seq-scoped kills.
            if u["cur_eq"]:
                rows = _resurrected_position_rows(
                    spark,
                    location,
                    u["kept_e"],
                    u["removed_pos"],
                    u["cur_pos"],
                    u["cur_eq"],
                )
            else:
                rows = _position_deleted_rows(
                    spark,
                    location,
                    [p for p, _pv, _s in u["kept_e"]],
                    u["removed_pos"],
                    u["cur_pos"],
                )
            if rows is not None:
                pieces.append(_tag(rows, "insert"))
        if u["removed_eq"]:
            rows = _resurrected_equality_rows(
                spark,
                location,
                u["kept_e"],
                u["cur_pos"],
                u["removed_eq"],
                removed_pos=u["removed_pos"],
                cur_eq=u["cur_eq"],
            )
            if rows is not None:
                pieces.append(_tag(rows, "insert"))
    if not pieces:
        _e, _p, _q, schema = iceberg_scan_details(
            location, 0, s3_client, fs, with_schema=True
        )
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        fields = list(schema.fields) if schema is not None else []
        return local_frame(
            spark,
            [],
            StructType(
                fields
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            ),
        )
    out = pieces[0]
    for p in pieces[1:]:
        # allowMissingColumns: a window spanning a schema evolution
        # mixes pre- and post-evolution files — absent columns read
        # null, the CDF latest-schema convention
        out = out.unionByName(p, allowMissingColumns=True)
    return out
