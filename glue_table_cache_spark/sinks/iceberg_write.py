"""Append-only Iceberg writer: publish pipeline output atomically.

Beyond-reference extension, the Iceberg sibling of
:mod:`glue_table_cache_spark.sinks.delta_write`: data files are staged
invisibly, a new Avro manifest + manifest list name them, and ONE
``O_EXCL`` create of the next ``metadata/v<N>.metadata.json`` flips
readers to the new snapshot atomically (two concurrent writers
serialize on the create; the loser re-reads and retries with the next
version — its staged files are uniquely named, so the retry re-commits
the same adds).

Dialect honesty: manifests are real Avro object-container files with
v2 sequence-number inheritance and **binary single-value bounds**
(``lower_bounds``/``upper_bounds``/``null_value_counts``/
``record_count``, derived from the written files' parquet FOOTERS —
metadata-scale, the data is never re-read), but the ``partition``
field uses this repo's simplified string-map encoding rather than the
spec's r102 struct typed by the partition spec.  That makes the output
a faithful subset the in-repo manifest walk (and its zone-map
skipping) consumes end-to-end; cross-engine readers that require the
full r102 encoding are out of scope and this is documented, not
hidden.

Schema posture (mirrors :mod:`..sinks.delta_write`): a batch whose
columns are a SUBSET of the table schema appends fine — the engine
scans with the metadata schema as authority, so the absent columns
surface as nulls; a batch with NEW columns refuses unless
``merge_schema=True``, which evolves the table by recording a widened
current schema whose new fields get FRESH field ids past every id the
table has ever used (the spec's rule — id reuse would silently rebind
old equality deletes and bounds to the new column); a column whose
type changed always refuses.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.sinks.hive_paths import (
    partition_values_from_dir_parts,
)
from glue_table_cache_spark.sources.avro_lite import read_avro, write_avro
from glue_table_cache_spark.sources.iceberg_fixture import (
    MANIFEST_ENTRY_SCHEMA,
    MANIFEST_LIST_SCHEMA,
    _iceberg_type,
)


def _latest_metadata(meta_dir: Path) -> dict | None:
    metas = []
    for p in meta_dir.glob("*.json"):
        try:
            metas.append(json.loads(p.read_text()))
        except ValueError:
            continue
    if not metas:
        return None
    return max(metas, key=lambda m: m.get("last-sequence-number", 0))


def _footer_bounds(
    path: Path, ids: dict[str, int], types: dict[str, str]
) -> dict:
    """Manifest stats for one written file, from its parquet footer:
    field-id keyed binary bounds + null counts + record count."""
    from glue_table_cache_spark.skipping import (
        encode_iceberg_bound,
        parquet_footer_stats,
    )

    st = parquet_footer_stats(str(path))
    lower: dict[str, bytes] = {}
    upper: dict[str, bytes] = {}
    nulls: dict[str, int] = {}
    if st is not None:
        for col, fid in ids.items():
            key = col.lower()
            nc = st.null_counts.get(key)
            if nc is not None:
                nulls[str(fid)] = int(nc)
            lo, hi = st.min_values.get(key), st.max_values.get(key)
            if lo is None or hi is None:
                continue
            lo_b = encode_iceberg_bound(types[col], lo)
            hi_b = encode_iceberg_bound(types[col], hi)
            if lo_b is not None and hi_b is not None:
                lower[str(fid)] = lo_b
                upper[str(fid)] = hi_b
    return {
        "record_count": st.num_records if st else 0,
        "lower_bounds": lower or None,
        "upper_bounds": upper or None,
        "null_value_counts": nulls or None,
    }


def _transform_column(df: DataFrame, source: str, transform: str):
    """Spark Column computing the Iceberg partition transform of
    ``source`` — native expressions for the monotone transforms (stay
    in codegen), an Arrow-batched pandas UDF wrapping the spec's
    murmur3 for ``bucket[N]`` (no JVM builtin matches Iceberg's hash:
    Spark's ``hash()`` seeds with 42 and encodes ints as 4 bytes where
    the spec wants seed 0 over 8-byte little-endian longs)."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.iceberg_partitioning import (
        parse_transform,
    )

    kind, param = parse_transform(transform)
    col = F.col(source)
    if kind == "identity":
        return col
    if kind == "year":
        return F.year(col) - F.lit(1970)
    if kind == "month":
        return (F.year(col) - F.lit(1970)) * F.lit(12) + F.month(
            col
        ) - F.lit(1)
    if kind == "day":
        return F.datediff(col.cast("date"), F.lit("1970-01-01"))
    if kind == "hour":
        # floor division keeps pre-epoch instants correct
        return F.floor(col.cast("double") / F.lit(3600.0)).cast("int")
    if kind == "truncate":
        w = param or 0
        if w <= 0:
            raise GlueSparkError(f"bad transform {transform!r}")
        dt = dict(df.dtypes).get(source, "")
        if dt == "string":
            return F.substring(col, 1, w)
        return col - (((col % F.lit(w)) + F.lit(w)) % F.lit(w))
    if kind == "bucket":
        n = param or 0
        if n <= 0:
            raise GlueSparkError(f"bad transform {transform!r}")
        from pyspark.sql.functions import pandas_udf

        from glue_table_cache_spark.sources.iceberg_partitioning import (
            bucket_value,
        )

        @pandas_udf("int")
        def _bucket(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: None
                if v is None
                else bucket_value(
                    int(v) if not isinstance(v, str) else v, n
                )
            )

        return _bucket(col)
    raise GlueSparkError(
        f"unsupported partition transform {transform!r}"
    )


def _resolve_schema(
    prev: dict | None,
    df_types: dict[str, str],
    df_columns: list[str],
    merge_schema: bool,
    location: str,
) -> tuple[dict[str, int], dict[str, str], list[dict]]:
    """``(ids, types, schema_fields)`` this append commits: the
    table's recorded field ids reused, drift refused, new columns
    minted FRESH ids past every historical id (``merge_schema``
    gate).  Called once up front for early validation AND once per
    commit attempt against freshly-read metadata — Iceberg metadata
    is full-replacement, so committing a schema resolved before a
    concurrent writer's evolution would silently roll that evolution
    back."""
    if prev is None:
        ids = {c: i + 1 for i, c in enumerate(df_columns)}
        fields = [
            {
                "id": ids[c],
                "name": c,
                "required": False,
                "type": df_types[c],
            }
            for c in df_columns
        ]
        return ids, dict(df_types), fields
    schemas = prev.get("schemas") or []
    current = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == prev.get("current-schema-id")
        ),
        schemas[-1] if schemas else None,
    )
    if current is None:
        raise GlueSparkError(
            f"Iceberg table at {location!r} has metadata but no "
            "schema — refusing to guess field ids"
        )
    ids = {f["name"]: f["id"] for f in current.get("fields", [])}
    types = {
        f["name"]: f["type"]
        for f in current.get("fields", [])
        if isinstance(f.get("type"), str)
    }
    drift = sorted(
        c
        for c in df_columns
        if c in types and types[c] != df_types[c]
    )
    if drift:
        raise GlueSparkError(
            f"append changes the type of column(s) {drift} — "
            "type evolution is not supported; cast the batch to "
            "the table schema"
        )
    new_cols = [c for c in df_columns if c not in ids]
    schema_fields = list(current.get("fields", []))
    if new_cols:
        if not merge_schema:
            raise GlueSparkError(
                f"append carries new column(s) {new_cols} the "
                "table schema lacks — without schema evolution "
                "they would be silently invisible to readers; "
                "pass merge_schema=True to evolve, or drop them"
            )
        # fresh ids past EVERY id any historical schema used —
        # reuse would rebind old equality deletes/bounds.  The
        # spec's last-column-id high-water mark covers ids whose
        # fields left the schema (ALTER DROP COLUMN): without it a
        # dropped id could be reborn and inherit the dead column's
        # name mapping
        used = [f["id"] for f in schema_fields]
        used.append(int(prev.get("last-column-id") or 0))
        for s in prev.get("schemas") or []:
            used.extend(f["id"] for f in s.get("fields", []))
        next_id = max(used, default=0) + 1
        for c in new_cols:
            ids[c] = next_id
            types[c] = df_types[c]
            schema_fields.append(
                {
                    "id": next_id,
                    "name": c,
                    "required": False,
                    "type": df_types[c],
                }
            )
            next_id += 1
    return ids, types, schema_fields


def _resolve_spec(
    prev: dict | None,
    ids: dict[str, int],
    df_columns: list[str],
    partition_by: list[str] | None,
    partition_transforms: dict[str, str] | None,
) -> list[dict]:
    """This append's partition-spec fields, validated against the
    table's recorded spec (drift refuses; a batch naming no
    partitioning inherits the recorded spec)."""
    from glue_table_cache_spark.sources.iceberg_partitioning import (
        parse_transform,
    )

    suffix = {
        "year": "_year",
        "month": "_month",
        "day": "_day",
        "hour": "_hour",
        "bucket": "_bucket",
        "truncate": "_trunc",
    }
    spec_fields: list[dict] = []
    if partition_by:
        for i, c in enumerate(partition_by):
            if c not in ids:
                raise GlueSparkError(
                    f"partition column {c!r} is not in the schema"
                )
            spec_fields.append(
                {
                    "name": c,
                    "transform": "identity",
                    "source-id": ids[c],
                    "field-id": 1000 + i,
                }
            )
    elif partition_transforms:
        for i, (src, tr) in enumerate(partition_transforms.items()):
            kind, _param = parse_transform(tr)
            if kind is None or kind == "void":
                raise GlueSparkError(
                    f"unsupported partition transform {tr!r}"
                )
            if src not in ids or src not in df_columns:
                raise GlueSparkError(
                    f"transform source column {src!r} is not in the "
                    "batch"
                )
            name = src if kind == "identity" else src + suffix[kind]
            spec_fields.append(
                {
                    "name": name,
                    "transform": tr,
                    "source-id": ids[src],
                    "field-id": 1000 + i,
                }
            )
    prev_specs = (prev or {}).get("partition-specs") or []
    if prev_specs:
        prev_fields = [
            {k: f.get(k) for k in ("name", "transform", "source-id")}
            for f in (prev_specs[0].get("fields") or [])
        ]
        if spec_fields:
            new_fields = [
                {
                    k: f.get(k)
                    for k in ("name", "transform", "source-id")
                }
                for f in spec_fields
            ]
            if new_fields != prev_fields:
                raise GlueSparkError(
                    "append partitioning differs from the table's "
                    f"recorded spec ({prev_fields} vs {new_fields}) "
                    "— partition-spec evolution is out of scope"
                )
        else:
            # a batch naming no partitioning appends under the
            # recorded spec
            spec_fields = list(prev_specs[0].get("fields") or [])
    return spec_fields


def _last_txn_version(meta: dict | None, app_id: str) -> int | None:
    """Highest ``txn-version`` recorded for ``app_id`` across the
    retained snapshots' summaries — the Iceberg sibling of Delta's
    SetTransaction high-water mark.  ``None`` when no snapshot carries
    the marker (or they were all expired; keep snapshot retention
    longer than the longest possible stream outage)."""
    best: int | None = None
    for snap in (meta or {}).get("snapshots") or []:
        s = snap.get("summary") or {}
        if s.get("txn-app-id") == app_id and "txn-version" in s:
            v = int(s["txn-version"])
            if best is None or v > best:
                best = v
    return best


def iceberg_last_txn_version(
    location: str, app_id: str
) -> int | None:
    """Public read half of the exactly-once marker: the newest
    committed ``txn-version`` for ``app_id`` at ``location``, from the
    current metadata's snapshot summaries."""
    meta = _latest_metadata(Path(location) / "metadata")
    return _last_txn_version(meta, app_id)


def alter_iceberg_add_columns(
    location: str,
    columns,
    max_commit_retries: int = 10,
) -> int:
    """``ALTER TABLE ... ADD COLUMNS`` as a SCHEMA-ONLY metadata
    commit: the next ``v<N>.metadata.json`` carries the widened
    schema (fresh field ids past every historical id, the spec's
    reuse rule) with the snapshot list, current snapshot, and
    partition specs untouched — no data files, no new snapshot.
    Readers surface nulls for the new columns on pre-alter files via
    the metadata-schema authority.

    ``columns`` is a ``StructType`` or list of ``StructField``; added
    columns must be nullable; duplicate names refuse."""
    from pyspark.sql.types import StructType

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
    if "://" in location:
        raise GlueSparkError(
            "alter_iceberg_add_columns commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    base = Path(location)
    meta_dir = base / "metadata"
    df_types = {f.name: _iceberg_type(f.dataType) for f in fields}
    for _ in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if prev is None:
            raise GlueSparkError(
                f"no Iceberg metadata at {location!r} — ALTER needs "
                "an existing table"
            )
        schemas = prev.get("schemas") or []
        current = next(
            (
                s
                for s in schemas
                if s.get("schema-id") == prev.get("current-schema-id")
            ),
            schemas[-1] if schemas else None,
        )
        existing = {
            f["name"] for f in (current or {}).get("fields", [])
        }
        dupes = [f.name for f in fields if f.name in existing]
        if dupes:
            raise GlueSparkError(
                f"ADD COLUMNS: column(s) {dupes} already exist"
            )
        _ids, _types, schema_fields = _resolve_schema(
            prev,
            df_types,
            [f.name for f in fields],
            merge_schema=True,
            location=location,
        )
        meta = dict(prev)
        meta["schemas"] = [
            {"schema-id": 0, "type": "struct", "fields": schema_fields}
        ]
        meta["current-schema-id"] = 0
        meta["last-column-id"] = max(
            [int(prev.get("last-column-id") or 0)]
            + [f["id"] for f in schema_fields]
        )
        # re-adding a name some mapping entry already spells (a
        # DROPPED column, or a renamed field's physical name) gets a
        # FRESH physical spelling — staging it by name would read old
        # files' bytes back through the uniform projection
        mapping = _load_name_mapping(prev)
        taken = {
            n for e in mapping for n in (e.get("names") or [])
        }
        remapped = False
        for f in fields:
            if f.name in taken:
                fid = _ids[f.name]
                mapping.append(
                    {"field-id": fid, "names": [f"{f.name}_{fid}"]}
                )
                remapped = True
        if remapped:
            from glue_table_cache_spark.sources.iceberg import (
                NAME_MAPPING_PROP,
            )

            props = dict(prev.get("properties") or {})
            props[NAME_MAPPING_PROP] = json.dumps(mapping)
            meta["properties"] = props
        seq = prev.get("last-sequence-number", 0) + 1
        meta["last-sequence-number"] = seq
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the race: re-read the metadata, retry
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def _refuse_dead_name_reuse(
    df_columns, prev: dict | None, renames: dict, dead: set
) -> None:
    """A NEW batch column whose name matches a DROPPED field's
    on-disk spelling (or a renamed live field's physical name) cannot
    stage under that name — the uniform physical→logical projection
    would read the old files' bytes back into the new column.  ALTER
    ADD COLUMNS handles the re-add by pinning a fresh physical
    spelling; merge-schema appends refuse toward it."""
    if prev is None or (not renames and not dead):
        return
    from glue_table_cache_spark.sources.iceberg import (
        _current_schema,
    )

    live = {
        f["name"] for f in (_current_schema(prev) or {}).get(
            "fields", []
        )
    }
    bad = sorted(
        c
        for c in df_columns
        if c not in live and (c in dead or c in renames)
    )
    if bad:
        raise GlueSparkError(
            f"column(s) {bad} reuse the on-disk spelling of a "
            "dropped or renamed column — staging them by name would "
            "resurrect old file bytes; add them via ALTER TABLE "
            "... ADD COLUMNS (which pins a fresh physical name)"
        )


def _load_name_mapping(prev: dict) -> list[dict]:
    from glue_table_cache_spark.sources.iceberg import (
        NAME_MAPPING_PROP,
    )

    prop = (prev.get("properties") or {}).get(NAME_MAPPING_PROP)
    if not prop:
        return []
    try:
        out = json.loads(prop)
    except (TypeError, ValueError) as e:
        raise GlueSparkError(
            f"Iceberg property {NAME_MAPPING_PROP} is not valid "
            f"JSON ({e})"
        ) from None
    return [e for e in out if isinstance(e, dict)]


def _refuse_iceberg_partition_column(
    prev: dict, name: str, fid: int, verb: str
) -> None:
    """Mirrors the Delta refusal matrix: a column the default
    partition spec names (identity) or sources (hidden transform)
    cannot rename or drop — directory layouts, manifest partition
    tuples, and transform pruning all key on its spelling/value."""
    for spec in prev.get("partition-specs") or []:
        for f in spec.get("fields") or []:
            if f.get("source-id") == fid or (
                f.get("transform") == "identity"
                and f.get("name") == name
            ):
                raise GlueSparkError(
                    f"{verb} {name!r}: it is a partition column "
                    f"(spec field {f.get('name')!r}, transform "
                    f"{f.get('transform')!r}) — partition spec "
                    "evolution is out of scope; rewrite via CREATE "
                    "TABLE AS"
                )


def _commit_iceberg_schema_change(
    meta_dir: Path,
    prev: dict,
    new_fields: list[dict],
    mapping: list[dict],
) -> int | None:
    """One metadata-only commit carrying the mutated current schema
    and the (possibly extended) name mapping; no snapshot, no data
    files — the spec's shape for schema evolution.  Returns the new
    sequence number, or ``None`` when the put-if-absent lost a race
    (caller re-reads and retries)."""
    from glue_table_cache_spark.sources.iceberg import (
        NAME_MAPPING_PROP,
    )

    meta = dict(prev)
    meta["schemas"] = [
        {"schema-id": 0, "type": "struct", "fields": new_fields}
    ]
    meta["current-schema-id"] = 0
    # the high-water mark must also cover ids this change DROPS from
    # the collapsed schema list — on metadata lacking last-column-id
    # (spec-invalid but seen in the wild), max over the surviving
    # fields alone would re-mint a dropped id on the next evolution
    # and resurrect the dead column through its name-mapping entry
    meta["last-column-id"] = max(
        [int(prev.get("last-column-id") or 0)]
        + [f["id"] for f in new_fields]
        + [
            int(f.get("id", 0))
            for s in (prev.get("schemas") or [])
            for f in s.get("fields", [])
        ]
    )
    props = dict(prev.get("properties") or {})
    props[NAME_MAPPING_PROP] = json.dumps(mapping)
    meta["properties"] = props
    seq = prev.get("last-sequence-number", 0) + 1
    meta["last-sequence-number"] = seq
    commit = meta_dir / f"v{seq}.metadata.json"
    try:
        fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return None
    with os.fdopen(fd, "w") as f:
        f.write(json.dumps(meta))
    return seq


def alter_iceberg_rename_column(
    location: str,
    name: str,
    new_name: str,
    max_commit_retries: int = 10,
) -> int:
    """``ALTER TABLE ... RENAME COLUMN`` on Iceberg — the spec's home
    turf: readers resolve columns by FIELD ID, so a rename is ONE
    metadata commit rewriting the current schema's ``name`` while
    keeping the id.  Because this engine's parquet files carry no
    embedded field ids, the commit also pins the field's on-disk
    spelling in ``schema.name-mapping.default`` (the spec's mapping
    for exactly such files); every reader and writer then projects
    physical→logical uniformly.  Equality deletes and manifest bounds
    need no touch-up — they key on the id."""
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "alter_iceberg_rename_column commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    meta_dir = base / "metadata"
    for _ in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if prev is None:
            raise GlueSparkError(
                f"no Iceberg metadata at {location!r} — ALTER needs "
                "an existing table"
            )
        from glue_table_cache_spark.sources.iceberg import (
            _current_schema,
        )

        fields = list((_current_schema(prev) or {}).get("fields", []))
        field = next((f for f in fields if f["name"] == name), None)
        if field is None:
            raise GlueSparkError(
                f"RENAME COLUMN: no such column {name!r}; table "
                f"columns are {[f['name'] for f in fields]}"
            )
        if any(f["name"] == new_name for f in fields):
            raise GlueSparkError(
                f"RENAME COLUMN: column {new_name!r} already exists"
            )
        _refuse_iceberg_partition_column(
            prev, name, field["id"], "RENAME COLUMN"
        )
        mapping = _load_name_mapping(prev)
        if not any(
            e.get("field-id") == field["id"] for e in mapping
        ):
            # first rename of this field: files so far carry the
            # current spelling — pin it as the physical name
            mapping.append({"field-id": field["id"], "names": [name]})
        new_fields = [
            dict(f, name=new_name) if f["name"] == name else f
            for f in fields
        ]
        seq = _commit_iceberg_schema_change(
            meta_dir, prev, new_fields, mapping
        )
        if seq is not None:
            return seq
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def alter_iceberg_drop_column(
    location: str,
    name: str,
    max_commit_retries: int = 10,
) -> int:
    """``ALTER TABLE ... DROP COLUMN`` on Iceberg: the field leaves
    the current schema in one metadata commit; old files' bytes stay
    but become invisible — their on-disk spelling is recorded in the
    name mapping under the DEAD field id, and every scan's uniform
    projection excludes unmapped-by-a-live-id columns.  A later
    re-add of the same name mints a fresh id AND a fresh physical
    spelling (ALTER ADD COLUMNS), so old values never resurrect."""
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "alter_iceberg_drop_column commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    meta_dir = base / "metadata"
    # an equality-delete file referencing the field could no longer
    # be applied (its columns resolve by id against the current
    # schema) — dropping the column would strand it
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_scan_details,
    )

    _, _, eq_dels = iceberg_scan_details(location)
    stranded = [
        d["path"] for d in eq_dels if name in (d.get("columns") or [])
    ]
    if stranded:
        raise GlueSparkError(
            f"DROP COLUMN {name!r}: {len(stranded)} equality-delete "
            "file(s) reference it — run optimize_iceberg() to purge "
            "them first"
        )
    for _ in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if prev is None:
            raise GlueSparkError(
                f"no Iceberg metadata at {location!r} — ALTER needs "
                "an existing table"
            )
        from glue_table_cache_spark.sources.iceberg import (
            _current_schema,
        )

        fields = list((_current_schema(prev) or {}).get("fields", []))
        field = next((f for f in fields if f["name"] == name), None)
        if field is None:
            raise GlueSparkError(
                f"DROP COLUMN: no such column {name!r}; table "
                f"columns are {[f['name'] for f in fields]}"
            )
        if len(fields) == 1:
            raise GlueSparkError(
                "DROP COLUMN: cannot drop the only column"
            )
        _refuse_iceberg_partition_column(
            prev, name, field["id"], "DROP COLUMN"
        )
        mapping = _load_name_mapping(prev)
        ent = next(
            (e for e in mapping if e.get("field-id") == field["id"]),
            None,
        )
        if ent is None:
            # remember the on-disk spelling under the dead id so
            # scans exclude it and re-adds collision-check against it
            mapping.append({"field-id": field["id"], "names": [name]})
        new_fields = [f for f in fields if f["name"] != name]
        seq = _commit_iceberg_schema_change(
            meta_dir, prev, new_fields, mapping
        )
        if seq is not None:
            return seq
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def rollback_iceberg(
    location: str,
    sequence_number: int,
    max_commit_retries: int = 10,
) -> int:
    """``RESTORE ... TO VERSION AS OF`` for Iceberg: a metadata-only
    commit pointing ``current-snapshot-id`` at the snapshot that was
    current at ``sequence_number`` (the same version identifier the
    read-side ``VERSION AS OF`` travel uses).  The snapshot list is
    untouched — the rolled-back-over snapshots stay reachable for
    travel until ``expire_iceberg_snapshots`` retires them, and new
    commits branch from the restored state (writers resolve their
    base via ``current_snapshot``).

    Refuses when the target metadata version no longer exists or its
    current snapshot was expired — restoring to it would scan
    manifests that may be gone.  Note: incremental/streaming readers
    keyed on sequence numbers will still see the stale branch's
    snapshots; expire them if exactly-once mirrors follow."""
    if "://" in location:
        raise GlueSparkError(
            "rollback_iceberg commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    from glue_table_cache_spark.sources.iceberg import (
        _list_metadata_jsons,
        _read_json,
        current_snapshot,
    )

    base = Path(location)
    meta_dir = base / "metadata"
    for _ in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if prev is None:
            raise GlueSparkError(
                f"no Iceberg metadata at {location!r} — RESTORE "
                "needs an existing table"
            )
        target_meta = None
        for p in _list_metadata_jsons(str(base)):
            m = _read_json(p, None)
            if m.get("last-sequence-number", 0) == sequence_number:
                target_meta = m
                break
        if target_meta is None:
            raise GlueSparkError(
                f"Iceberg sequence number {sequence_number!r} does "
                f"not exist at {location!r} — cannot restore"
            )
        target_snap = current_snapshot(target_meta)
        new_current = (
            -1 if target_snap is None else target_snap["snapshot-id"]
        )
        if new_current != -1 and not any(
            s.get("snapshot-id") == new_current
            for s in prev.get("snapshots") or []
        ):
            raise GlueSparkError(
                f"snapshot {new_current} (current at sequence "
                f"{sequence_number}) was expired from {location!r} — "
                "its manifests may be gone; cannot restore"
            )
        meta = dict(prev)
        meta["current-snapshot-id"] = new_current
        seq = prev.get("last-sequence-number", 0) + 1
        meta["last-sequence-number"] = seq
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the race: re-read the metadata, retry
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def set_iceberg_table_properties(
    location: str,
    props: dict[str, str],
    unset: tuple[str, ...] = (),
    max_commit_retries: int = 10,
) -> int:
    """``ALTER TABLE ... SET TBLPROPERTIES`` for Iceberg — a
    metadata-only commit merging ``props`` into the table
    ``properties`` map (and removing the ``unset`` keys), the spec's
    home for table configuration (``SHOW TBLPROPERTIES`` reads the
    same map).  Returns the new sequence number."""
    if not props and not unset:
        raise GlueSparkError("SET TBLPROPERTIES: empty property list")
    if "://" in location:
        raise GlueSparkError(
            "set_iceberg_table_properties commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    meta_dir = Path(location) / "metadata"
    for _ in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if prev is None:
            raise GlueSparkError(
                f"no Iceberg metadata at {location!r} — ALTER needs "
                "an existing table"
            )
        properties = dict(prev.get("properties") or {})
        properties.update(
            {str(k): str(v) for k, v in props.items()}
        )
        for k in unset:
            properties.pop(str(k), None)
        meta = dict(prev)
        meta["properties"] = properties
        seq = prev.get("last-sequence-number", 0) + 1
        meta["last-sequence-number"] = seq
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def create_iceberg_ref(
    location: str,
    name: str,
    ref_type: str = "tag",
    sequence_number: int | None = None,
    max_commit_retries: int = 10,
) -> int:
    """Create a named ref (spec v2 ``refs`` map): a TAG or BRANCH
    pointing at a snapshot — the snapshot current NOW, or, with
    ``sequence_number``, the one current at that version (the same
    identifier read/write travel uses).  A metadata-only commit;
    reads travel to it via ``VERSION AS OF '<name>'`` and
    ``expire_iceberg_snapshots`` never expires a ref'd snapshot.

    ``main`` refuses — in this engine ``current-snapshot-id`` IS the
    main branch, and a shadowing entry would fork that authority.
    Existing names refuse (drop first); a table with no current
    snapshot has nothing to point at and refuses."""
    if name == "main":
        raise GlueSparkError(
            "ref name 'main' is reserved: current-snapshot-id is "
            "the main branch"
        )
    if ref_type not in ("tag", "branch"):
        raise GlueSparkError(
            f"ref type must be 'tag' or 'branch', got {ref_type!r}"
        )
    if "://" in location:
        raise GlueSparkError(
            "create_iceberg_ref commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    from glue_table_cache_spark.sources.iceberg import (
        _list_metadata_jsons,
        _read_json,
        current_snapshot,
    )

    base = Path(location)
    meta_dir = base / "metadata"
    for _ in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if prev is None:
            raise GlueSparkError(
                f"no Iceberg metadata at {location!r} — refs need "
                "an existing table"
            )
        refs = dict(prev.get("refs") or {})
        if name in refs:
            raise GlueSparkError(
                f"Iceberg ref {name!r} already exists at "
                f"{location!r} (a {refs[name].get('type', 'ref')}); "
                "drop it first"
            )
        if sequence_number is None:
            target = current_snapshot(prev)
        else:
            target = None
            for p in _list_metadata_jsons(str(base)):
                m = _read_json(p, None)
                if (
                    m.get("last-sequence-number", 0)
                    == sequence_number
                ):
                    target = current_snapshot(m)
                    break
            else:
                raise GlueSparkError(
                    f"Iceberg sequence number {sequence_number!r} "
                    f"does not exist at {location!r}"
                )
        if target is None:
            raise GlueSparkError(
                f"cannot create ref {name!r}: the targeted table "
                "state has no current snapshot"
            )
        sid = target["snapshot-id"]
        if not any(
            s.get("snapshot-id") == sid
            for s in prev.get("snapshots") or []
        ):
            raise GlueSparkError(
                f"snapshot {sid} was expired from {location!r}; "
                "cannot ref it"
            )
        refs[name] = {"snapshot-id": sid, "type": ref_type}
        meta = dict(prev)
        meta["refs"] = refs
        seq = prev.get("last-sequence-number", 0) + 1
        meta["last-sequence-number"] = seq
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the race: re-read, re-check the name
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def drop_iceberg_ref(
    location: str, name: str, max_commit_retries: int = 10
) -> int:
    """Remove a named ref — after which its snapshot is expirable
    again.  A missing name refuses (nothing silently no-ops)."""
    if "://" in location:
        raise GlueSparkError(
            "drop_iceberg_ref commits via filesystem put-if-absent; "
            "object stores need an external commit coordinator"
        )
    base = Path(location)
    meta_dir = base / "metadata"
    for _ in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if prev is None:
            raise GlueSparkError(
                f"no Iceberg metadata at {location!r}"
            )
        refs = dict(prev.get("refs") or {})
        if name not in refs:
            raise GlueSparkError(
                f"Iceberg ref {name!r} does not exist at "
                f"{location!r} (have {sorted(refs)})"
            )
        del refs[name]
        meta = dict(prev)
        meta["refs"] = refs
        seq = prev.get("last-sequence-number", 0) + 1
        meta["last-sequence-number"] = seq
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )


def write_iceberg_append(
    df: DataFrame,
    location: str,
    partition_by: list[str] | None = None,
    max_commit_retries: int = 10,
    merge_schema: bool = False,
    partition_transforms: dict[str, str] | None = None,
    summary: dict[str, str] | None = None,
    overwrite: bool = False,
) -> int:
    """Append ``df`` to the Iceberg table at ``location`` (created on
    first write); returns the committed sequence number.  Readers see
    the whole batch or none of it.  Schema evolution follows the
    module docstring: subset batches append, new columns need
    ``merge_schema=True``, type changes refuse.

    Partitioning: ``partition_by`` is hive-style IDENTITY partitioning
    (the value moves into the directory name and out of the data
    files).  ``partition_transforms`` is HIDDEN partitioning — a
    ``{source_column: transform}`` map (``"day"``, ``"month"``,
    ``"year"``, ``"hour"``, ``"bucket[N]"``, ``"truncate[W]"``): the
    TRANSFORMED value groups the files and lands in the manifest
    partition tuple under the spec's derived field name
    (``ts_day``, ``id_bucket``, …) while the source column stays IN
    the data files, exactly as the spec prescribes.  Either way the
    spec is recorded in the metadata's ``partition-specs``, so the
    engine's transform-aware pruning works on repo-written tables
    end-to-end.  A later append whose partitioning differs from the
    recorded spec refuses (spec evolution is out of scope).

    ``summary`` lands in the snapshot's summary map (spec: snapshots
    carry ``summary`` with an ``operation`` key).  The reserved pair
    ``txn-app-id`` + ``txn-version`` makes the append IDEMPOTENT —
    a batch whose version is already at or below the app's recorded
    high-water mark no-ops and returns the current sequence number,
    checked inside the pinned-commit retry loop so a replay racing a
    live writer still cannot double-publish.  This is what
    :func:`..streaming.iceberg_sink.stream_to_iceberg` builds
    exactly-once on.

    ``overwrite=True`` is INSERT OVERWRITE: the new snapshot's
    manifest list carries ONLY this batch's manifest — prior data
    files and delete files alike drop out of the current snapshot
    atomically (they stay reachable through snapshot history until
    expiry, Iceberg's own overwrite semantics)."""
    base = Path(location)
    if "://" in location:
        raise GlueSparkError(
            "write_iceberg_append commits via filesystem "
            "put-if-absent; object stores need an external commit "
            "coordinator"
        )
    data_dir = base / "data"
    meta_dir = base / "metadata"
    data_dir.mkdir(parents=True, exist_ok=True)
    meta_dir.mkdir(parents=True, exist_ok=True)

    if partition_by and partition_transforms:
        raise GlueSparkError(
            "pass partition_by (hive identity) OR "
            "partition_transforms (hidden partitioning), not both"
        )
    txn_app = (summary or {}).get("txn-app-id")
    txn_ver = (summary or {}).get("txn-version")
    if (txn_app is None) != (txn_ver is None):
        raise GlueSparkError(
            "summary txn-app-id and txn-version must be passed "
            "together"
        )

    # --- schema + spec: resolved ONCE here for early validation (and
    # the staging layout), then RE-resolved per commit attempt against
    # fresh metadata — see _resolve_schema
    prev = _latest_metadata(meta_dir)
    if txn_app is not None:
        last = _last_txn_version(prev, txn_app)
        if last is not None and last >= int(txn_ver):
            # replayed batch: already published — exactly-once no-op
            # before any data file is staged
            return prev.get("last-sequence-number", 0)
    df_types = {
        f.name: _iceberg_type(f.dataType) for f in df.schema.fields
    }
    ids, types, schema_fields = _resolve_schema(
        prev, df_types, df.columns, merge_schema, location
    )
    spec_fields = _resolve_spec(
        prev, ids, df.columns, partition_by, partition_transforms
    )
    # PHYSICAL staging names: after ALTER RENAME the on-disk spelling
    # of a field is pinned by the name-mapping property — stage under
    # it so every data file of the table, old or new, reads with ONE
    # uniform physical→logical projection (no per-file epochs)
    from glue_table_cache_spark.sources.iceberg import (
        iceberg_column_mapping,
    )

    renames, dead_phys = (
        iceberg_column_mapping(prev) if prev else ({}, set())
    )
    _refuse_dead_name_reuse(df.columns, prev, renames, dead_phys)
    l2p = {v: k for k, v in renames.items()}

    def _stage_names(d):
        return d.withColumnsRenamed(l2p) if l2p else d

    # --- stage data files, then move under unique batch names.  The
    # batch stages under the spec this append commits — a batch that
    # names no partitioning inherits the table's recorded spec, so its
    # files carry partition tuples like the rest: identity fields
    # partition hive-style (the value moves into the directory name
    # and out of the files), transform fields derive the hidden
    # -partitioning column and partition by it while the SOURCE
    # column stays in the data, exactly as the spec prescribes.  A
    # batch lacking a spec source column stages unpartitioned (its
    # files carry no tuple; pruning keeps them conservatively)
    batch = uuid.uuid4().hex[:12]
    stage = base / f"_staging_{batch}"
    by_id = {v: k for k, v in ids.items()}
    sources = [by_id.get(f["source-id"]) for f in spec_fields]
    stage_df = df
    derived: list[str] = []
    if all(src in df.columns for src in sources):
        for f, src in zip(spec_fields, sources):
            if f["transform"] != "identity" or f["name"] not in df.columns:
                stage_df = stage_df.withColumn(
                    f["name"], _transform_column(df, src, f["transform"])
                )
            derived.append(f["name"])
    writer = _stage_names(stage_df).write.mode("overwrite")
    if derived:
        writer = writer.partitionBy(*derived)
    writer.parquet(str(stage))
    files: list[tuple[Path, dict]] = []  # (dest, partition values)
    for p in sorted(stage.rglob("part-*.parquet")):
        rel_dir = p.parent.relative_to(stage)
        # invert Spark's escapePathName: manifests carry the logical
        # partition value, the directory keeps the escaped spelling
        pv = partition_values_from_dir_parts(rel_dir.parts)
        name = f"part-{batch}-{len(files):05d}.parquet"
        rel = rel_dir / name if rel_dir.parts else Path(name)
        dest = data_dir / rel
        dest.parent.mkdir(parents=True, exist_ok=True)
        p.rename(dest)
        files.append((dest, pv))
    shutil.rmtree(stage, ignore_errors=True)

    # --- one ADDED manifest for the batch (seq None → inherited from
    # the manifest-list row, the v2 rule the reader implements);
    # rebuilt whenever a retry re-resolves the schema (the bounds are
    # keyed by FIELD ID, which a concurrent evolution can shift)
    manifest = meta_dir / f"manifest-{batch}.avro"

    def _write_manifest(w_ids: dict, w_types: dict) -> None:
        # footer columns carry PHYSICAL spellings; the manifest's
        # bound maps stay keyed by field id, so renames never touch
        # recorded stats (the spec's reason for keying on ids)
        w_ids = {l2p.get(k, k): v for k, v in w_ids.items()}
        w_types = {l2p.get(k, k): v for k, v in w_types.items()}
        entries = []
        for dest, pv in files:
            stats = _footer_bounds(dest, w_ids, w_types)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": None,
                    "sequence_number": None,
                    "data_file": {
                        "content": 0,
                        "file_path": str(
                            Path("data")
                            / dest.relative_to(data_dir)
                        ),
                        "file_format": "PARQUET",
                        "partition": pv or None,
                        "record_count": stats["record_count"],
                        "file_size_in_bytes": dest.stat().st_size,
                        "equality_ids": None,
                        "lower_bounds": stats["lower_bounds"],
                        "upper_bounds": stats["upper_bounds"],
                        "null_value_counts": stats[
                            "null_value_counts"
                        ],
                    },
                }
            )
        write_avro(manifest, MANIFEST_ENTRY_SCHEMA, entries)

    _write_manifest(ids, types)

    for _ in range(max_commit_retries):
        prev = _latest_metadata(meta_dir)
        if txn_app is not None:
            last = _last_txn_version(prev, txn_app)
            if last is not None and last >= int(txn_ver):
                # a concurrent replay won the race mid-loop: drop the
                # staged (still-unreferenced) files and no-op
                manifest.unlink(missing_ok=True)
                for dest, _pv in files:
                    dest.unlink(missing_ok=True)
                return prev.get("last-sequence-number", 0)
        # RE-resolve against fresh metadata: a concurrent writer's
        # schema evolution committed during our staging would
        # otherwise be rolled back by this full-replacement metadata
        # write (and our spec could drift).  Unchanged resolution is
        # the common case and costs one dict compare.
        new_ids, new_types, new_schema_fields = _resolve_schema(
            prev, df_types, df.columns, merge_schema, location
        )
        spec_fields = _resolve_spec(
            prev, new_ids, df.columns, partition_by,
            partition_transforms,
        )
        if (new_ids, new_schema_fields) != (ids, schema_fields):
            ids, types, schema_fields = (
                new_ids, new_types, new_schema_fields,
            )
            _write_manifest(ids, types)
        last_seq = prev.get("last-sequence-number", 0) if prev else 0
        seq = last_seq + 1
        snap_id = 1000 + seq
        prior_rows: list[dict] = []
        prior_snaps: list[dict] = []
        if prev is not None:
            from glue_table_cache_spark.sources.iceberg import (
                current_snapshot,
            )

            prior_snaps = list(prev.get("snapshots") or [])
            cur = current_snapshot(prev)
            if cur is not None:
                # the CURRENT snapshot, not the newest list entry —
                # appends after a rollback must branch from current
                prior_list = cur["manifest-list"]
                prior_rows = read_avro(
                    prior_list
                    if prior_list.startswith("/")
                    else str(base / prior_list)
                )
        new_row = {
            "manifest_path": str(Path("metadata") / manifest.name),
            "manifest_length": manifest.stat().st_size,
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "added_snapshot_id": snap_id,
        }
        manifest_list = meta_dir / f"snap-{seq}-{batch}.avro"
        write_avro(
            manifest_list,
            MANIFEST_LIST_SCHEMA,
            ([] if overwrite else prior_rows) + [new_row],
        )
        import time

        meta = {
            "format-version": 2,
            "table-uuid": (
                prev.get("table-uuid") if prev else str(uuid.uuid4())
            ),
            "location": str(base),
            "last-sequence-number": seq,
            "current-snapshot-id": snap_id,
            "current-schema-id": 0,
            # spec high-water mark for field ids — survives drops
            "last-column-id": max(
                [int(prev.get("last-column-id") or 0) if prev else 0]
                + list(ids.values())
            ),
            # SET TBLPROPERTIES / name mapping / refs are table
            # state, not snapshot state — every commit carries them
            **(
                {"properties": prev["properties"]}
                if prev and prev.get("properties")
                else {}
            ),
            **(
                {"refs": prev["refs"]}
                if prev and prev.get("refs")
                else {}
            ),
            **(
                {
                    "partition-specs": [
                        {"spec-id": 0, "fields": spec_fields}
                    ],
                    "default-spec-id": 0,
                }
                if spec_fields
                else {}
            ),
            "schemas": [
                {
                    "schema-id": 0,
                    "type": "struct",
                    "fields": schema_fields,
                }
            ],
            "snapshots": prior_snaps
            + [
                {
                    "snapshot-id": snap_id,
                    "sequence-number": seq,
                    "timestamp-ms": int(time.time() * 1000),
                    "manifest-list": str(
                        Path("metadata") / manifest_list.name
                    ),
                    # spec: v2 snapshots REQUIRE a summary with an
                    # operation key; caller extras merge on top
                    "summary": {
                        "operation": (
                            "overwrite" if overwrite else "append"
                        ),
                        **{
                            k: str(v)
                            for k, v in (summary or {}).items()
                        },
                    },
                }
            ],
        }
        commit = meta_dir / f"v{seq}.metadata.json"
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            manifest_list.unlink(missing_ok=True)
            continue  # lost the race: re-read the log, retry
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(meta))
        return seq
    raise GlueSparkError(
        f"could not commit to {location!r} after "
        f"{max_commit_retries} attempts (concurrent writers)"
    )
