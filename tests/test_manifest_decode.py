"""Projected manifest decode (sources/avro_lite.py field projections,
sources/iceberg.py ``_entry_fields``) against the full decode: the
walk reads a few fields, skips the rest at the byte level, and keeps
the zone maps raw until a caller resolves them.  Each test is a twin:
projected+deferred vs full decode, or driver vs distributed leg."""

from __future__ import annotations

import json
import pickle

import pytest

from glue_table_cache_spark.skipping import (
    LazyFileStats,
    encode_iceberg_bound,
    iceberg_entry_stats,
)
from glue_table_cache_spark.sources import avro_lite
from glue_table_cache_spark.sources.avro_lite import (
    RawField,
    read_avro_bytes,
    write_avro,
)


def _kv(name: str, value_type: str) -> dict:
    """An int-keyed Iceberg map: Avro map keys must be strings, so the
    Java writer emits ``array<record{key, value}>``."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int"},
                {"name": "value", "type": value_type},
            ],
        },
    }


def _opt(t) -> list:
    return ["null", t]


# The spec's v2 manifest_entry as the Java writer lays it out, with
# every optional map it emits (column_sizes, value_counts,
# nan_value_counts, split_offsets, ...) and a record-typed partition.
JAVA_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": _opt("long")},
        {"name": "sequence_number", "type": _opt("long")},
        {"name": "file_sequence_number", "type": _opt("long")},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {
                            "type": "record",
                            "name": "r102",
                            "fields": [
                                {"name": "p", "type": _opt("string")}
                            ],
                        },
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "column_sizes", "type": _opt(_kv("k117", "long"))},
                    {"name": "value_counts", "type": _opt(_kv("k119", "long"))},
                    {
                        "name": "null_value_counts",
                        "type": _opt(_kv("k121", "long")),
                    },
                    {
                        "name": "nan_value_counts",
                        "type": _opt(_kv("k138", "long")),
                    },
                    {"name": "lower_bounds", "type": _opt(_kv("k126", "bytes"))},
                    {"name": "upper_bounds", "type": _opt(_kv("k129", "bytes"))},
                    {"name": "key_metadata", "type": _opt("bytes")},
                    {
                        "name": "split_offsets",
                        "type": _opt({"type": "array", "items": "long"}),
                    },
                    {
                        "name": "equality_ids",
                        "type": _opt({"type": "array", "items": "int"}),
                    },
                    {"name": "sort_order_id", "type": _opt("int")},
                ],
            },
        },
    ],
}

JAVA_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {
            "name": "partitions",
            "type": _opt(
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {"name": "contains_null", "type": "boolean"},
                            {"name": "contains_nan", "type": _opt("boolean")},
                            {"name": "lower_bound", "type": _opt("bytes")},
                            {"name": "upper_bound", "type": _opt("bytes")},
                        ],
                    },
                }
            ),
        },
    ],
}

# field id -> (name, type): id 1 long, id 2 string, id 3 double
TYPES = {1: ("id", "long"), 2: ("p", "string"), 3: ("score", "double")}


def _pairs(d: dict) -> list[dict]:
    return [{"key": k, "value": v} for k, v in d.items()]


def _java_entry(i: int) -> dict:
    """Entry ``i``: every fourth carries no bounds at all; the rest
    carry bounds for all three columns and every statistics map."""
    bounded = i % 4 != 0
    lo = {1: i * 10, 2: f"p{i % 3}", 3: i / 2}
    hi = {1: i * 10 + 9, 2: f"p{i % 3}", 3: i / 2 + 1}
    enc = {fid: t for fid, (_n, t) in TYPES.items()}
    return {
        "status": 2 if i == 5 else 1,
        "snapshot_id": 7,
        "sequence_number": None if i % 2 else i,
        "file_sequence_number": i,
        "data_file": {
            "content": 0,
            "file_path": f"data/p=p{i % 3}/f-{i}.parquet",
            "file_format": "PARQUET",
            "partition": {"p": None if i == 3 else f"p{i % 3}"},
            "record_count": 10 + i,
            "file_size_in_bytes": 1000 + i,
            "column_sizes": _pairs({1: 80, 2: 40, 3: 80}),
            "value_counts": _pairs({1: 10, 2: 10, 3: 10}),
            "null_value_counts": _pairs({1: 0, 2: i % 2, 3: 0})
            if bounded
            else None,
            "nan_value_counts": _pairs({3: 0}),
            "lower_bounds": _pairs(
                {k: encode_iceberg_bound(enc[k], v) for k, v in lo.items()}
            )
            if bounded
            else None,
            "upper_bounds": _pairs(
                {k: encode_iceberg_bound(enc[k], v) for k, v in hi.items()}
            )
            if bounded
            else None,
            "key_metadata": b"\x00\x01" if i % 2 else None,
            "split_offsets": [4, 1000 + i],
            "equality_ids": None,
            "sort_order_id": 0,
        },
    }


def _assert_projection_matches(proj, full, fields):
    """Every projected field equals the full decode's; unread fields
    are absent."""
    assert set(proj) == {k for k in full if fields.get(k)}
    for k, want in fields.items():
        if k not in full:
            continue
        if isinstance(want, dict):
            _assert_projection_matches(proj[k], full[k], want)
        elif want == "raw" and full[k] is not None:
            assert isinstance(proj[k], RawField)
            assert proj[k].decode() == full[k]
        else:
            assert proj[k] == full[k]


def test_projected_java_manifest_matches_full_decode(tmp_path):
    """A Java-shaped manifest: the walk's projection skips the four
    statistics maps the walk never reads, keeps the three zone maps
    raw, and every entry and resolved FileStats equals the full
    decode's."""
    from glue_table_cache_spark.sources.iceberg import _entry_fields

    records = [_java_entry(i) for i in range(12)]
    path = tmp_path / "m.avro"
    write_avro(path, JAVA_ENTRY_SCHEMA, records)
    data = path.read_bytes()
    full = read_avro_bytes(data)
    assert full == records
    for zone_maps in (True, False):
        fields = _entry_fields(zone_maps)
        proj = read_avro_bytes(data, fields=fields)
        assert len(proj) == len(full)
        for p, f in zip(proj, full):
            _assert_projection_matches(p, f, fields)
            assert "column_sizes" not in p["data_file"]
            assert "split_offsets" not in p["data_file"]
    proj = read_avro_bytes(data, fields=_entry_fields(True))
    stats = [
        LazyFileStats(p["data_file"], TYPES).resolve() for p in proj
    ]
    assert stats == [iceberg_entry_stats(f["data_file"], TYPES) for f in full]
    assert stats[1].min_values == {"id": 10, "p": "p1", "score": 0.5}
    assert stats[1].null_counts == {"id": 0, "p": 1, "score": 0}
    assert stats[0].min_values == {} and stats[0].num_records == 10


def _container(schema: dict, count: int, body: bytes) -> bytes:
    """An object container with one block of ``count`` records whose
    encoding the caller built by hand."""
    enc = avro_lite._encode_long
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"null",
    }
    head = b"Obj\x01" + enc(len(meta))
    for k, v in meta.items():
        head += avro_lite._encode_str(k) + avro_lite._encode_bytes(v)
    sync = bytes(range(16))
    return (
        head + enc(0) + sync + enc(count) + enc(len(body)) + body + sync
    )


def _sized_block(items: list[bytes]) -> bytes:
    """One array/map block in the byte-size-prefixed form: a negative
    count, then the block's byte size, then the items (write_avro
    never emits this form; Java writers may)."""
    enc = avro_lite._encode_long
    body = b"".join(items)
    return enc(-len(items)) + enc(len(body)) + body


def test_byte_size_prefixed_blocks_skip_and_defer():
    """Arrays and maps encoded as negative-count blocks with a byte
    size decode fully, skip by jumping the block, and round-trip
    through a raw field."""
    enc = avro_lite._encode_long
    s = avro_lite._encode_str
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "bytes"}},
            {"name": "kv", "type": _opt(_kv("k1", "long"))},
            # union values: no flat layout, the general skipper walks it
            {"name": "u", "type": {"type": "map", "values": _opt("long")}},
            {"name": "tail", "type": "string"},
        ],
    }
    a_vals, m_vals, kv_vals = [1, -2, 300], {"1": b"\x07", "2": b""}, {5: 9}
    u_vals = {"x": None, "y": 4}
    rows = []
    body = b""
    for n in range(3):
        tail = f"row-{n}"
        body += (
            # two sized blocks then a plain one: the decoder walks all
            _sized_block([enc(v) for v in a_vals[:2]])
            + _sized_block([enc(a_vals[2])])
            + enc(0)
            + _sized_block([s(k) + avro_lite._encode_bytes(v) for k, v in m_vals.items()])
            + enc(0)
            + enc(1)  # union branch 1: the kv array
            + _sized_block([enc(k) + enc(v) for k, v in kv_vals.items()])
            + enc(0)
            + _sized_block([s("x") + enc(0), s("y") + enc(1) + enc(4)])
            + enc(0)
            + s(tail)
        )
        rows.append(
            {
                "a": a_vals,
                "m": m_vals,
                "kv": _pairs(kv_vals),
                "u": u_vals,
                "tail": tail,
            }
        )
    data = _container(schema, 3, body)
    assert read_avro_bytes(data) == rows
    assert read_avro_bytes(data, fields={"tail": True}) == [
        {"tail": r["tail"]} for r in rows
    ]
    raw = read_avro_bytes(
        data,
        fields={"a": "raw", "m": "raw", "kv": "raw", "u": "raw", "tail": True},
    )
    for got, want in zip(raw, rows):
        assert got == want  # RawField compares by decoded value
        assert got["m"].decode() == m_vals
        assert got["kv"].decode() == want["kv"]


def test_raw_field_pickles_and_compares_by_value():
    """The distributed leg ships entries back pickled: a raw field
    survives that and still equals its decoded value."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "m", "type": _opt({"type": "map", "values": "long"})},
    ]}
    body = avro_lite.encode_value(schema, {"m": {"1": 3, "2": -4}})
    body += avro_lite.encode_value(schema, {"m": None})
    data = _container(schema, 2, body)
    got = read_avro_bytes(data, fields={"m": "raw"})
    assert got[1] == {"m": None}  # the null branch stays None
    back = pickle.loads(pickle.dumps(got, protocol=4))
    assert isinstance(back[0]["m"], RawField)
    assert back == got == [{"m": {"1": 3, "2": -4}}, {"m": None}]
    assert back[0]["m"] != {"1": 3}


def test_decoder_compiles_once_per_schema(tmp_path):
    """Manifests sharing one schema share one compiled decoder."""
    paths = []
    for n in range(4):
        paths.append(tmp_path / f"m{n}.avro")
        write_avro(paths[-1], JAVA_ENTRY_SCHEMA, [_java_entry(n)])
    avro_lite._decoder_for.cache_clear()
    for p in paths:
        read_avro_bytes(p.read_bytes(), fields={"status": True})
    info = avro_lite._decoder_for.cache_info()
    assert (info.misses, info.hits) == (1, 3)


def _java_table(root, n_manifests: int = 3, per_manifest: int = 8) -> str:
    """A metadata-only Iceberg table of Java-shaped manifests and a
    Java-shaped manifest list (partition summaries included)."""
    meta = root / "metadata"
    meta.mkdir(parents=True)
    rows = []
    for m in range(n_manifests):
        path = meta / f"manifest-{m}.avro"
        write_avro(
            path,
            JAVA_ENTRY_SCHEMA,
            [_java_entry(m * per_manifest + i) for i in range(per_manifest)],
        )
        rows.append(
            {
                "manifest_path": str(path),
                "manifest_length": path.stat().st_size,
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 7,
                "added_files_count": per_manifest,
                "partitions": [
                    {
                        "contains_null": True,
                        "contains_nan": None,
                        "lower_bound": b"p0",
                        "upper_bound": b"p2",
                    }
                ],
            }
        )
    mlist = meta / "snap-7.avro"
    write_avro(mlist, JAVA_LIST_SCHEMA, rows)
    (meta / "v1.metadata.json").write_text(
        json.dumps(
            {
                "format-version": 2,
                "location": str(root),
                "last-sequence-number": 1,
                "current-snapshot-id": 7,
                "current-schema-id": 0,
                "schemas": [
                    {
                        "schema-id": 0,
                        "type": "struct",
                        "fields": [
                            {"id": fid, "name": n, "required": False, "type": t}
                            for fid, (n, t) in TYPES.items()
                        ],
                    }
                ],
                "snapshots": [
                    {
                        "snapshot-id": 7,
                        "sequence-number": 1,
                        "timestamp-ms": 1700000000000,
                        "manifest-list": str(mlist),
                    }
                ],
            }
        )
    )
    return str(root)


def test_java_manifest_walk_driver_vs_distributed(
    spark, tmp_path, monkeypatch
):
    """Over Java-shaped manifests the driver walk and the
    forced-distributed walk (whose raw zone-map fields came back
    through pickle) return equal entries, and every resolved
    FileStats equals the one a full decode of the same entry gives."""
    import glue_table_cache_spark.sources.iceberg as ice

    loc = _java_table(tmp_path / "java")
    drv = ice.iceberg_scan_details(loc, with_stats=True)
    monkeypatch.setattr(ice, "DISTRIBUTED_MANIFEST_MIN_BYTES", 0)
    dist = ice.iceberg_scan_details(loc, with_stats=True)
    assert dist == drv
    live = [_java_entry(i) for i in range(24) if i != 5]  # 5 is DELETED
    assert [e[0].rsplit("/", 1)[1] for e in dist[0]] == [
        f"f-{i}.parquet" for i in range(24) if i != 5
    ]
    want = [iceberg_entry_stats(e["data_file"], TYPES) for e in live]
    assert [e[3].resolve() for e in dist[0]] == want
    assert [e[3].resolve() for e in drv[0]] == want
    # the NULL partition value stays None, the rest stringify
    assert dist[0][3][1] == {"p": None}
    assert dist[0][0][1] == {"p": "p0"}


@pytest.mark.parametrize("zone_maps", [True, False])
def test_walk_skips_unread_fields(tmp_path, zone_maps):
    """The walk's projection never materializes a field it does not
    read: only the zone maps it was asked for survive, as raw bytes."""
    from glue_table_cache_spark.sources.iceberg import _entry_fields

    path = tmp_path / "m.avro"
    write_avro(path, JAVA_ENTRY_SCHEMA, [_java_entry(1)])
    (entry,) = read_avro_bytes(
        path.read_bytes(), fields=_entry_fields(zone_maps)
    )
    got = entry["data_file"]
    base = {"content", "file_path", "partition", "record_count", "equality_ids"}
    zone = {"lower_bounds", "upper_bounds", "null_value_counts"}
    assert set(got) == (base | zone if zone_maps else base)
    assert set(entry) == {"status", "sequence_number", "data_file"}
    if zone_maps:
        assert all(isinstance(got[k], RawField) for k in zone)
