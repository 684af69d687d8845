"""Minimal Avro object-container writer (codec ``null``) for the
generator's Iceberg manifests.

The benchmark writes its own metadata files rather than calling the
engine's writer, so a change to the engine's Avro code cannot change
the benchmark's inputs.  Supports the types Iceberg manifests use:
null, boolean, int, long, string, bytes, record, array, map and
unions (a union value picks the first branch whose type matches).
"""

from __future__ import annotations

import hashlib
import json
import os

MAGIC = b"Obj\x01"


def _long(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _bytes(b: bytes) -> bytes:
    return _long(len(b)) + b


def _matches(schema, value) -> bool:
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return value is None
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t == "string":
        return isinstance(value, str)
    if t == "bytes":
        return isinstance(value, (bytes, bytearray))
    if t == "record" or t == "map":
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, list)
    raise ValueError(f"unsupported avro type {t!r}")


def encode(schema, value) -> bytes:
    if isinstance(schema, list):
        for i, branch in enumerate(schema):
            if _matches(branch, value):
                return _long(i) + encode(branch, value)
        raise ValueError(f"no union branch of {schema} fits {value!r}")
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t in ("int", "long"):
        return _long(value)
    if t == "string":
        return _bytes(value.encode("utf-8"))
    if t == "bytes":
        return _bytes(bytes(value))
    if t == "record":
        return b"".join(encode(f["type"], value.get(f["name"])) for f in schema["fields"])
    if t == "array":
        if not value:
            return _long(0)
        body = b"".join(encode(schema["items"], v) for v in value)
        return _long(len(value)) + body + _long(0)
    if t == "map":
        if not value:
            return _long(0)
        body = b"".join(_bytes(k.encode("utf-8")) + encode(schema["values"], v) for k, v in value.items())
        return _long(len(value)) + body + _long(0)
    raise ValueError(f"unsupported avro type {t!r}")


def write_avro(path, schema: dict, records: list[dict]) -> None:
    """Write ``records`` as one data block of an Avro container file."""
    # a sync marker derived from the file name keeps the bytes a
    # function of the inputs alone
    sync = hashlib.md5(os.path.basename(str(path)).encode()).digest()
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"null"}
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(_long(len(meta)))
        for k, v in meta.items():
            f.write(_bytes(k.encode()) + _bytes(v))
        f.write(_long(0))
        f.write(sync)
        if records:
            body = b"".join(encode(schema, r) for r in records)
            f.write(_long(len(records)) + _long(len(body)) + body + sync)
