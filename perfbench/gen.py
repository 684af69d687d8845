"""Seeded input generator for the benchmark.

Everything a run reads is made here from ``--seed`` with numpy and
pyarrow, never with the engine:

* ``lake/`` -- the many-file point-query lake: one Hive-partitioned, one
  partition-projection, one Delta, one Iceberg and one Hudi
  COPY_ON_WRITE table, each ``PARTITIONS`` partitions x ``FILES``
  files x ``ROWS`` rows.  Delta ``add.stats`` and Iceberg bounds are
  computed from the very rows written to each file.
* ``tpch/`` -- a small TPC-H-shaped star schema plus a ``documents``
  corpus for ``curate()``.
* ``model.json`` -- the statement sequences of every workload and the
  answers they must produce, computed without the engine: point answers
  from the generator's own row model, analytic answers by DuckDB over
  the same parquet files, lakehouse answers by a pandas model.

Data files are written uncompressed with plain encoding and every
string column has a fixed width, so a file's size does not depend on
its values: byte and file counts per statement are the same for every
seed.

Output is cached under ``perfbench/.data/v<VERSION>-s<seed>/`` and
reused while ``VERSION`` is unchanged.  ``python3 perfbench/gen.py
--seed N --force`` makes it anew.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import struct
import sys
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from avro import write_avro

VERSION = 5
HERE = Path(__file__).resolve().parent
DATA_ROOT = HERE / ".data"

PARTITIONS = 64
FILES = 24
ROWS = 32
ID_STRIDE_P = 1_000_000  # id range per partition
ID_STRIDE_F = 1_000  # id range per file
POINT_PER_TABLE = 1  # point statements per table per round
LAKE_TABLES = ("hive", "proj", "delta", "iceberg", "hudi")
TAGS = [f"tag{i:03d}" for i in range(16)]  # fixed width 6
TS0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

WRITE_OPTS = dict(compression="NONE", use_dictionary=False, write_statistics=True)


def data_dir(seed: int) -> Path:
    return DATA_ROOT / f"v{VERSION}-s{seed}"


# -- point lake -------------------------------------------------------------


def _file_rows(rng: np.random.Generator, p: int, f: int) -> dict:
    """The row model of one lake file: ids sorted inside the file's own
    id window (so zone maps separate files), values uniform."""
    base = p * ID_STRIDE_P + f * ID_STRIDE_F
    ids = base + np.sort(rng.choice(ID_STRIDE_F, size=ROWS, replace=False))
    v = rng.integers(0, 10_000, size=ROWS)
    # whole milliseconds: Delta stats carry millisecond timestamps
    ts_ms = rng.integers(0, 86_400_000, size=ROWS) + p * 86_400_000
    tag = rng.integers(0, len(TAGS), size=ROWS)
    return {"id": ids.astype(np.int64), "v": v.astype(np.int64), "ts_ms": ts_ms, "tag": tag}


def _arrow(rows: dict, with_p: int | None = None) -> pa.Table:
    cols = {
        "id": pa.array(rows["id"], pa.int64()),
        "v": pa.array(rows["v"], pa.int64()),
        "ts": pa.array(rows["ts_ms"].astype(np.int64) * 1000 + _ts0_us(), pa.timestamp("us", tz="UTC")),
        "tag": pa.array([TAGS[i] for i in rows["tag"]], pa.string()),
    }
    if with_p is not None:
        cols["p"] = pa.array(np.full(ROWS, with_p, dtype=np.int32), pa.int32())
    return pa.table(cols)


def _iso_ms(ms: int) -> str:
    t = TS0 + dt.timedelta(milliseconds=int(ms))
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _delta_stats(rows: dict) -> str:
    return json.dumps(
        {
            "numRecords": ROWS,
            "minValues": {
                "id": int(rows["id"].min()),
                "v": int(rows["v"].min()),
                "ts": _iso_ms(rows["ts_ms"].min()),
                "tag": TAGS[int(rows["tag"].min())],
            },
            "maxValues": {
                "id": int(rows["id"].max()),
                "v": int(rows["v"].max()),
                "ts": _iso_ms(rows["ts_ms"].max()),
                "tag": TAGS[int(rows["tag"].max())],
            },
            "nullCount": {"id": 0, "v": 0, "ts": 0, "tag": 0},
        }
    )


ICE_FIELDS = [(1, "id", "long"), (2, "v", "long"), (3, "ts", "timestamptz"), (4, "tag", "string"), (5, "p", "int")]

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": ["null", {"type": "map", "values": ["null", "string"]}]},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "lower_bounds", "type": ["null", {"type": "map", "values": "bytes"}]},
                    {"name": "upper_bounds", "type": ["null", {"type": "map", "values": "bytes"}]},
                    {"name": "null_value_counts", "type": ["null", {"type": "map", "values": "long"}]},
                    {"name": "equality_ids", "type": ["null", {"type": "array", "items": "int"}]},
                ],
            },
        },
    ],
}


def _ice_bounds(rows: dict, p: int) -> tuple[dict, dict]:
    lo = {
        "1": struct.pack("<q", int(rows["id"].min())),
        "2": struct.pack("<q", int(rows["v"].min())),
        "3": struct.pack("<q", int(rows["ts_ms"].min()) * 1000 + _ts0_us()),
        "4": TAGS[int(rows["tag"].min())].encode(),
        "5": struct.pack("<i", p),
    }
    hi = {
        "1": struct.pack("<q", int(rows["id"].max())),
        "2": struct.pack("<q", int(rows["v"].max())),
        "3": struct.pack("<q", int(rows["ts_ms"].max()) * 1000 + _ts0_us()),
        "4": TAGS[int(rows["tag"].max())].encode(),
        "5": struct.pack("<i", p),
    }
    return lo, hi


def _ts0_us() -> int:
    return int(TS0.timestamp()) * 1_000_000


def _gen_lake(root: Path, seed: int) -> dict:
    """Write the five lake tables, one process each; returns ``{table:
    {(p, f): (count, sum_v)}}`` -- the row model the point answers come
    from."""
    workers = min(len(LAKE_TABLES), os.cpu_count() or 1)
    with ProcessPoolExecutor(workers) as pool:
        jobs = [pool.submit(_gen_lake_table, root, seed, i, t) for i, t in enumerate(LAKE_TABLES)]
        return {t: job.result() for t, job in zip(LAKE_TABLES, jobs)}


def _gen_lake_table(root: Path, seed: int, t_index: int, table: str) -> dict:
    """Write one lake table; returns its ``{(p, f): (count, sum_v)}``."""
    rng = np.random.default_rng([seed, 1, t_index])
    base = root / table
    base.mkdir(parents=True)
    per_file: dict = {}
    delta_commits: list[list[dict]] = []
    ice_manifests: list[tuple[str, int]] = []
    hudi_commits: list[tuple[int, list[dict]]] = []
    for p in range(PARTITIONS):
        # integer partition projection reads the value from a bare
        # ``/<p>/`` path component; the others are hive-style
        part = base / (str(p) if table == "proj" else f"p={p}")
        if table != "iceberg":
            part.mkdir()
        adds: list[dict] = []
        ice_entries: list[dict] = []
        stats: list[dict] = []
        instant = 20240101000000 + p
        for f in range(FILES):
            rows = _file_rows(rng, p, f)
            per_file[(p, f)] = rows
            if table in ("hive", "proj"):
                path = part / f"part-{f:05d}.parquet"
                pq.write_table(_arrow(rows), path, **WRITE_OPTS)
            elif table == "delta":
                rel = f"p={p}/part-{f:05d}-{seed:08x}-{p:04d}.c000.parquet"
                pq.write_table(_arrow(rows), base / rel, **WRITE_OPTS)
                adds.append(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": {"p": str(p)},
                            "size": (base / rel).stat().st_size,
                            "modificationTime": 1704067200000 + p,
                            "dataChange": True,
                            "stats": _delta_stats(rows),
                        }
                    }
                )
            elif table == "iceberg":
                (base / "data").mkdir(exist_ok=True)
                path = base / "data" / f"p={p}-{f:05d}-{seed:08x}.parquet"
                pq.write_table(_arrow(rows, with_p=p), path, **WRITE_OPTS)
                lo, hi = _ice_bounds(rows, p)
                ice_entries.append(
                    {
                        "status": 1,
                        "snapshot_id": 1000 + p + 1,
                        "sequence_number": None,
                        "data_file": {
                            "content": 0,
                            "file_path": str(path),
                            "file_format": "PARQUET",
                            "partition": {"p": str(p)},
                            "record_count": ROWS,
                            "file_size_in_bytes": path.stat().st_size,
                            "lower_bounds": lo,
                            "upper_bounds": hi,
                            "null_value_counts": {str(i): 0 for i in range(1, 6)},
                            "equality_ids": None,
                        },
                    }
                )
            else:  # hudi
                file_id = f"{seed % 65536:04x}{p:04x}-{f:04x}-4000-8000-{t_index:012x}"
                rel = f"p={p}/{file_id}_0-0-0_{instant}.parquet"
                pq.write_table(_arrow(rows), base / rel, **WRITE_OPTS)
                stats.append({"fileId": file_id, "path": rel, "partitionPath": f"p={p}"})
        delta_commits.append(adds)
        if table == "iceberg":
            meta = base / "metadata"
            meta.mkdir(exist_ok=True)
            mpath = meta / f"manifest-{p + 1}.avro"
            write_avro(mpath, MANIFEST_ENTRY_SCHEMA, ice_entries)
            ice_manifests.append((str(mpath), p + 1))
        hudi_commits.append((instant, stats))
    if table == "delta":
        _write_delta_log(base, delta_commits)
    elif table == "iceberg":
        _write_iceberg_metadata(base, ice_manifests)
    elif table == "hudi":
        _write_hudi_timeline(base, hudi_commits)
    return {k: (ROWS, int(r["v"].sum())) for k, r in per_file.items()}


def _write_delta_log(base: Path, commits: list[list[dict]]) -> None:
    log = base / "_delta_log"
    log.mkdir()
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            {"name": "ts", "type": "timestamp", "nullable": True, "metadata": {}},
            {"name": "tag", "type": "string", "nullable": True, "metadata": {}},
            {"name": "p", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
    for version, adds in enumerate(commits):
        actions = [{"commitInfo": {"timestamp": 1704067200000 + version * 1000, "operation": "WRITE"}}]
        if version == 0:
            actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
            actions.append(
                {
                    "metaData": {
                        "id": "00000000-0000-4000-8000-000000000001",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(schema),
                        "partitionColumns": ["p"],
                        "configuration": {},
                        "createdTime": 1704067200000,
                    }
                }
            )
        actions.extend(adds)
        (log / f"{version:020d}.json").write_text("\n".join(json.dumps(a) for a in actions) + "\n")


def _write_iceberg_metadata(base: Path, manifests: list[tuple[str, int]]) -> None:
    meta = base / "metadata"
    snapshots = []
    listed: list[tuple[str, int]] = []
    for path, seq in manifests:
        listed.append((path, seq))
        mlist = meta / f"snap-{seq}.avro"
        write_avro(
            mlist,
            MANIFEST_LIST_SCHEMA,
            [
                {
                    "manifest_path": mp,
                    "manifest_length": Path(mp).stat().st_size,
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": s,
                    "added_snapshot_id": 1000 + s,
                }
                for mp, s in listed
            ],
        )
        snapshots.append(
            {
                "snapshot-id": 1000 + seq,
                "sequence-number": seq,
                "timestamp-ms": 1704067200000 + seq,
                "manifest-list": str(mlist),
            }
        )
    last = len(manifests)
    (meta / f"v{last}.metadata.json").write_text(
        json.dumps(
            {
                "format-version": 2,
                "table-uuid": "00000000-0000-4000-8000-000000000002",
                "location": str(base),
                "last-sequence-number": last,
                "current-snapshot-id": 1000 + last,
                "current-schema-id": 0,
                "schemas": [
                    {
                        "schema-id": 0,
                        "type": "struct",
                        "fields": [
                            {"id": fid, "name": name, "required": False, "type": typ}
                            for fid, name, typ in ICE_FIELDS
                        ],
                    }
                ],
                "snapshots": snapshots,
            }
        )
    )


def _write_hudi_timeline(base: Path, commits: list[tuple[int, list[dict]]]) -> None:
    hoodie = base / ".hoodie"
    hoodie.mkdir()
    (hoodie / "hoodie.properties").write_text(
        "hoodie.table.name=hudi\nhoodie.table.type=COPY_ON_WRITE\n"
        "hoodie.table.partition.fields=p\n"
    )
    for instant, stats in commits:
        (hoodie / f"{instant}.commit").write_text(json.dumps({"partitionToWriteStats": {stats[0]["partitionPath"]: stats}}))


def _point_statements(seed: int, model: dict) -> list[dict]:
    """One round: ``POINT_PER_TABLE`` statements per lake table, each a
    partition predicate plus an id range covering exactly two files."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for k in range(POINT_PER_TABLE):
        for table in LAKE_TABLES:
            p = int(rng.integers(0, PARTITIONS))
            f0 = int(rng.integers(0, FILES - 1))
            lo = p * ID_STRIDE_P + f0 * ID_STRIDE_F
            hi = p * ID_STRIDE_P + (f0 + 2) * ID_STRIDE_F - 1
            n = sum(model[table][(p, f)][0] for f in (f0, f0 + 1))
            s = sum(model[table][(p, f)][1] for f in (f0, f0 + 1))
            out.append(
                {
                    "table": table,
                    "sql": f"SELECT count(*) AS n, sum(v) AS s FROM glue.lake.{table} "
                    f"WHERE p = {p} AND id BETWEEN {lo} AND {hi}",
                    "expect": {"n": n, "s": s},
                }
            )
    return out


# -- analytic schema ----------------------------------------------------------

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLOURS = ["green", "azure", "black", "coral", "ivory", "khaki", "lemon", "linen", "olive", "peach"]
WORDS = [
    "spark", "query", "table", "scan", "merge", "join", "batch", "stream", "index", "cache",
    "model", "token", "graph", "plans", "store", "value", "range", "block", "frame", "shard",
    "the", "and", "of", "to", "in", "is", "for", "with", "on", "by",
]
N_SUPP, N_CUST, N_PART, N_ORD, LINES_PER_ORDER = 100, 1500, 2000, 15000, 4
N_DOCS, DOC_WORDS = 800, 48
DATE0 = dt.date(1992, 1, 1)


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _gen_tpch(root: Path, seed: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    root.mkdir(parents=True)

    def write(name: str, cols: dict) -> int:
        tbl = pa.table(cols)
        pq.write_table(tbl, root / f"{name}.parquet", **WRITE_OPTS)
        return tbl.num_rows

    counts = {}
    counts["region"] = write("region", {"r_regionkey": pa.array(range(5), pa.int64()), "r_name": REGIONS})
    counts["nation"] = write(
        "nation",
        {
            "n_nationkey": pa.array(range(len(NATIONS)), pa.int64()),
            "n_name": [n for n, _ in NATIONS],
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int64()),
        },
    )
    counts["supplier"] = write(
        "supplier",
        {
            "s_suppkey": pa.array(range(1, N_SUPP + 1), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, N_SUPP + 1)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int64()),
        },
    )
    counts["customer"] = write(
        "customer",
        {
            "c_custkey": pa.array(range(1, N_CUST + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, N_CUST + 1)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int64()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUST), 2), pa.float64()),
        },
    )
    names = [" ".join(rng.choice(COLOURS, 3)) for _ in range(N_PART)]
    counts["part"] = write(
        "part",
        {
            "p_partkey": pa.array(range(1, N_PART + 1), pa.int64()),
            "p_name": names,
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, N_PART), 2), pa.float64()),
        },
    )
    ps_part = np.repeat(np.arange(1, N_PART + 1), 4)
    ps_supp = (ps_part + np.tile(np.arange(4), N_PART) * (N_SUPP // 4)) % N_SUPP + 1
    counts["partsupp"] = write(
        "partsupp",
        {
            "ps_partkey": pa.array(ps_part, pa.int64()),
            "ps_suppkey": pa.array(ps_supp, pa.int64()),
            "ps_availqty": pa.array(rng.integers(1, 10_000, len(ps_part)), pa.int64()),
            "ps_supplycost": pa.array(np.round(rng.uniform(1, 1000, len(ps_part)), 2), pa.float64()),
        },
    )
    odate = rng.integers(0, 2400, N_ORD)
    counts["orders"] = write(
        "orders",
        {
            "o_orderkey": pa.array(range(1, N_ORD + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, N_CUST + 1, N_ORD), pa.int64()),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], N_ORD, p=[0.5, 0.45, 0.05])),
            "o_totalprice": pa.array(rng.integers(1_000, 50_000_000, N_ORD), pa.int64()),
            "o_orderdate": pa.array(odate + _days(DATE0), pa.int32()).cast(pa.date32()),
        },
    )
    n_li = N_ORD * LINES_PER_ORDER
    l_order = np.repeat(np.arange(1, N_ORD + 1), LINES_PER_ORDER)
    l_part = rng.integers(1, N_PART + 1, n_li)
    l_supp = (l_part + rng.integers(0, 4, n_li) * (N_SUPP // 4)) % N_SUPP + 1
    ship = np.repeat(odate, LINES_PER_ORDER) + rng.integers(1, 122, n_li)
    commit = np.repeat(odate, LINES_PER_ORDER) + rng.integers(30, 91, n_li)
    receipt = ship + rng.integers(1, 31, n_li)
    qty = rng.integers(1, 51, n_li)
    counts["lineitem"] = write(
        "lineitem",
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(l_supp, pa.int64()),
            "l_linenumber": pa.array(np.tile(np.arange(1, LINES_PER_ORDER + 1), N_ORD), pa.int64()),
            "l_quantity": pa.array(qty, pa.int64()),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": list(rng.choice(["F", "O"], n_li)),
            "l_shipdate": pa.array(ship + _days(DATE0), pa.int32()).cast(pa.date32()),
            "l_commitdate": pa.array(commit + _days(DATE0), pa.int32()).cast(pa.date32()),
            "l_receiptdate": pa.array(receipt + _days(DATE0), pa.int32()).cast(pa.date32()),
        },
    )
    # documents: fixed word count; 10% exact copies and 5% one-word
    # edits, each of a document that is itself an original.  The seed
    # picks the words, not which documents are copies: the near-dup
    # graph has the same shape on every seed, so dedup does the same
    # work (its connected-components loop runs until the labels settle)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i % 10 == 7:
            texts.append(texts[i - 5])
        elif i % 20 == 13:
            words = texts[i - 3].split(" ")
            words[int(rng.integers(0, DOC_WORDS))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, DOC_WORDS)))
    counts["documents"] = write(
        "documents",
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "source": [f"src{i % 4}" for i in range(N_DOCS)],
        },
    )
    return counts


TPCH_TABLES = ("region", "nation", "supplier", "customer", "part", "partsupp", "orders", "lineitem")

ANALYTIC_SQL = {
    "agg": """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
       avg(l_discount) AS avg_disc, count(*) AS n
FROM glue.tpch.lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
    "join": """
SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS n
FROM glue.tpch.customer
JOIN glue.tpch.orders ON c_custkey = o_custkey
JOIN glue.tpch.lineitem ON l_orderkey = o_orderkey
JOIN glue.tpch.nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
GROUP BY n_name
ORDER BY n_name""",
    "window": """
SELECT c_nationkey, c_custkey, total, rnk FROM (
  SELECT c_nationkey, c_custkey, total,
         rank() OVER (PARTITION BY c_nationkey ORDER BY total DESC, c_custkey) AS rnk
  FROM (SELECT c_nationkey, c_custkey, sum(o_totalprice) AS total
        FROM glue.tpch.customer JOIN glue.tpch.orders ON c_custkey = o_custkey
        GROUP BY c_nationkey, c_custkey) t) w
WHERE rnk <= 3
ORDER BY c_nationkey, rnk""",
    "q9": """
SELECT nation, o_year, sum(amount) AS sum_profit FROM (
  SELECT n_name AS nation, extract(year FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity AS amount
  FROM glue.tpch.part, glue.tpch.supplier, glue.tpch.lineitem,
       glue.tpch.partsupp, glue.tpch.orders, glue.tpch.nation
  WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
    AND ps_partkey = l_partkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%green%') profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC""",
    "q21": """
SELECT s_name, count(*) AS numwait
FROM glue.tpch.supplier, glue.tpch.lineitem l1, glue.tpch.orders, glue.tpch.nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate
  AND EXISTS (SELECT * FROM glue.tpch.lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT * FROM glue.tpch.lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_receiptdate > l3.l_commitdate)
  AND s_nationkey = n_nationkey AND n_name = 'GERMANY'
GROUP BY s_name
ORDER BY numwait DESC, s_name""",
}


def duckdb_answers(tpch: Path) -> dict:
    """DuckDB runs the same SQL over the same parquet files."""
    import duckdb

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tpch / (t + '.parquet')}')")
    out = {}
    for name, sql in ANALYTIC_SQL.items():
        cur = con.execute(sql.replace("glue.tpch.", ""))
        cols = [d[0] for d in cur.description]
        out[name] = {"columns": cols, "rows": [[_plain(v) for v in r] for r in cur.fetchall()]}
    con.close()
    return out


def _plain(v):
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if hasattr(v, "item"):
        return v.item()
    return v


# -- lakehouse tables and model ----------------------------------------------

RW_TABLES = ("delta", "iceberg", "hudi")
RW_ROWS = 400
RW_CATS = ("a", "b", "c", "d")
RW_FILES = 2  # data files per partition
RW_T0 = 1704067200000  # commit timestamps, ms


def _rw_files(init) -> list[tuple[str, int, object]]:
    """``(cat, file index, rows)`` of the pristine tables: each
    partition's rows in id order, split into ``RW_FILES`` files."""
    out = []
    for cat in RW_CATS:
        rows = init[init["cat"] == cat].sort_values("id")
        for k, chunk in enumerate(np.array_split(np.arange(len(rows)), RW_FILES)):
            out.append((cat, k, rows.iloc[chunk]))
    return out


def _rw_parquet(rows, path: Path) -> int:
    """Write the data columns (the partition lives in the path); returns
    the file size."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tbl = pa.table({"id": pa.array(rows["id"], pa.int64()), "val": pa.array(rows["val"], pa.int64())})
    pq.write_table(tbl, path, **WRITE_OPTS)
    return path.stat().st_size


def _write_pristine(root: Path, init) -> None:
    """The ``lakehouse_rw`` starting tables, partitioned by ``cat``,
    written in the layout the engine's own appenders produce: Delta
    with ``add.stats``, Iceberg with an identity partition spec and
    field-id bounds, Hudi COPY_ON_WRITE with one commit."""
    files = _rw_files(init)
    # Delta
    base = root / "delta"
    adds = []
    for cat, k, rows in files:
        rel = f"cat={cat}/part-{k:05d}.parquet"
        size = _rw_parquet(rows, base / rel)
        stats = {
            "numRecords": len(rows),
            "minValues": {"id": int(rows["id"].min()), "val": int(rows["val"].min())},
            "maxValues": {"id": int(rows["id"].max()), "val": int(rows["val"].max())},
            "nullCount": {"id": 0, "val": 0},
        }
        adds.append({"add": {"path": rel, "partitionValues": {"cat": cat}, "size": size,
                             "modificationTime": RW_T0, "dataChange": True, "stats": json.dumps(stats)}})
    schema = {"type": "struct", "fields": [{"name": n, "type": t, "nullable": True, "metadata": {}}
                                           for n, t in (("id", "long"), ("cat", "string"), ("val", "long"))]}
    actions = [
        {"commitInfo": {"timestamp": RW_T0, "operation": "WRITE", "operationParameters": {"mode": "Append"}}},
        {"metaData": {"id": "00000000-0000-4000-8000-000000000011", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": ["cat"], "configuration": {},
                      "createdTime": RW_T0}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        *adds,
    ]
    (base / "_delta_log").mkdir(parents=True)
    (base / "_delta_log" / f"{0:020d}.json").write_text("\n".join(json.dumps(a) for a in actions) + "\n")
    # Iceberg
    base = root / "iceberg"
    entries = []
    for cat, k, rows in files:
        rel = f"data/cat={cat}/part-{k:05d}.parquet"
        size = _rw_parquet(rows, base / rel)
        bound = lambda f: {"1": struct.pack("<q", int(f(rows["id"]))), "3": struct.pack("<q", int(f(rows["val"])))}  # noqa: E731
        entries.append({
            "status": 1, "snapshot_id": 1001, "sequence_number": None,
            "data_file": {
                "content": 0, "file_path": rel, "file_format": "PARQUET", "partition": {"cat": cat},
                "record_count": len(rows), "file_size_in_bytes": size,
                "lower_bounds": bound(np.min), "upper_bounds": bound(np.max),
                "null_value_counts": {"1": 0, "3": 0}, "equality_ids": None,
            },
        })
    meta = base / "metadata"
    meta.mkdir()
    write_avro(meta / "manifest-1.avro", MANIFEST_ENTRY_SCHEMA, entries)
    write_avro(meta / "snap-1.avro", MANIFEST_LIST_SCHEMA, [{
        "manifest_path": "metadata/manifest-1.avro", "manifest_length": (meta / "manifest-1.avro").stat().st_size,
        "partition_spec_id": 0, "content": 0, "sequence_number": 1, "added_snapshot_id": 1001,
    }])
    (meta / "v1.metadata.json").write_text(json.dumps({
        "format-version": 2,
        "table-uuid": "00000000-0000-4000-8000-000000000012",
        "location": str(base),
        "last-sequence-number": 1,
        "current-snapshot-id": 1001,
        "current-schema-id": 0,
        "last-column-id": 3,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "cat", "transform": "identity", "source-id": 2, "field-id": 1000}]}],
        "default-spec-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": i, "name": n, "required": False, "type": t}
            for i, n, t in ((1, "id", "long"), (2, "cat", "string"), (3, "val", "long"))]}],
        "snapshots": [{"snapshot-id": 1001, "sequence-number": 1, "timestamp-ms": RW_T0,
                       "manifest-list": "metadata/snap-1.avro", "summary": {"operation": "append"}}],
    }))
    # Hudi COPY_ON_WRITE
    base = root / "hudi"
    instant = "20240101000000"
    stats: dict[str, list] = {}
    for cat, k, rows in files:
        file_id = f"00000000-{RW_CATS.index(cat) * RW_FILES + k:04d}"
        rel = f"cat={cat}/{file_id}_0-0-0_{instant}.parquet"
        size = _rw_parquet(rows, base / rel)
        stats.setdefault(f"cat={cat}", []).append(
            {"fileId": file_id, "path": rel, "partitionPath": f"cat={cat}", "numWrites": len(rows),
             "fileSizeInBytes": size})
    avro_schema = {"type": "record", "name": "hudi", "fields": [
        {"name": n, "type": ["null", t]} for n, t in (("id", "long"), ("cat", "string"), ("val", "long"))]}
    (base / ".hoodie").mkdir()
    (base / ".hoodie" / "hoodie.properties").write_text(
        "hoodie.table.name=hudi\nhoodie.table.type=COPY_ON_WRITE\nhoodie.table.partition.fields=cat\n"
    )
    (base / ".hoodie" / f"{instant}.commit").write_text(
        json.dumps({"partitionToWriteStats": stats, "extraMetadata": {"schema": json.dumps(avro_schema)}})
    )


def _gen_lakehouse(root: Path, seed: int) -> dict:
    """The pristine tables, and one round of DML per table with the
    state and metrics rows each statement must produce (a pandas
    model).  Every partition holds the same number of rows, so the
    pristine files have the same sizes on every seed."""
    import pandas as pd

    rng = np.random.default_rng([seed, 4])
    init = pd.DataFrame(
        {
            "id": np.arange(RW_ROWS, dtype=np.int64),
            "cat": rng.permutation(np.repeat(RW_CATS, RW_ROWS // len(RW_CATS))),
            "val": rng.integers(0, 100, RW_ROWS).astype(np.int64),
        }
    )
    _write_pristine(root, init)
    tables = {}
    for t_index, table in enumerate(RW_TABLES):
        state = init.copy()
        steps = []
        next_id = RW_ROWS + 1000 * t_index
        # the seed picks values and which ids sit in which partition;
        # which partitions each statement touches and how many rows it
        # changes are the same on every seed, so the files read and
        # written are too
        # INSERT with an explicit, reordered column list
        ins = pd.DataFrame(
            {
                "id": np.arange(next_id, next_id + 3, dtype=np.int64),
                "cat": list(RW_CATS[:3]),
                "val": rng.integers(0, 100, 3).astype(np.int64),
            }
        )
        vals = ", ".join(f"({r.id}, {r.val}, '{r.cat}')" for r in ins.itertuples())
        state = pd.concat([state, ins], ignore_index=True)
        steps.append(
            {
                "sql": f"INSERT INTO glue.rw.{table} (id, val, cat) VALUES {vals}",
                "metrics": {"rows_inserted": 3, "rows_updated": 0, "rows_deleted": 0},
            }
        )
        # UPDATE a residue class of ids
        m, r = 7, 3
        k = int(rng.integers(1, 9))
        hit = state["id"] % m == r
        state.loc[hit, "val"] = state.loc[hit, "val"] + k
        steps.append(
            {
                "sql": f"UPDATE glue.rw.{table} SET val = val + {k} WHERE id % {m} = {r}",
                "metrics": {"rows_inserted": 0, "rows_updated": int(hit.sum()), "rows_deleted": 0},
            }
        )
        # MERGE on the same-named key: two matched ids, the lowest of
        # partitions a and b (value update, partition unchanged), and
        # two new ids in partitions c and d
        src = [(int(init.loc[init["cat"] == c, "id"].min()), c, int(rng.integers(0, 100))) for c in RW_CATS[:2]]
        src += [(next_id + 10 + j, c, int(rng.integers(0, 100))) for j, c in enumerate(RW_CATS[2:])]
        for i, c, v in src[:2]:
            state.loc[state["id"] == i, "val"] = v
        state = pd.concat(
            [state, pd.DataFrame(src[2:], columns=["id", "cat", "val"]).astype({"id": np.int64, "val": np.int64})],
            ignore_index=True,
        )
        values = ", ".join(f"(CAST({i} AS BIGINT), '{c}', CAST({v} AS BIGINT))" for i, c, v in src)
        steps.append(
            {
                "sql": f"MERGE INTO glue.rw.{table} AS t USING "
                f"(SELECT * FROM VALUES {values} AS s(id, cat, val)) AS s "
                "ON t.id = s.id WHEN MATCHED THEN UPDATE SET val = s.val "
                "WHEN NOT MATCHED THEN INSERT *",
                "metrics": {"rows_inserted": 2, "rows_updated": 2, "rows_deleted": 0},
            }
        )
        # DELETE the ten lowest ids of partition d
        before_delete = sorted(map(list, state[["id", "cat", "val"]].itertuples(index=False, name=None)))
        cat = RW_CATS[3]
        lim = int(np.sort(init.loc[init["cat"] == cat, "id"])[9])
        gone = (state["cat"] == cat) & (state["id"] <= lim)
        state = state[~gone].reset_index(drop=True)
        steps.append(
            {
                "sql": f"DELETE FROM glue.rw.{table} WHERE cat = '{cat}' AND id <= {lim}",
                "metrics": {"rows_inserted": 0, "rows_updated": 0, "rows_deleted": int(gone.sum())},
            }
        )
        steps.append(
            {
                "sql": f"SELECT id, cat, val FROM glue.rw.{table}",
                "rows": sorted(map(list, state[["id", "cat", "val"]].itertuples(index=False, name=None))),
                "rows_if_delete_failed": before_delete,
            }
        )
        for s in steps:
            s["table"] = table
        tables[table] = steps
    return {
        "steps": [s for table in RW_TABLES for s in tables[table]],
    }


# -- entry ----------------------------------------------------------------------


def ensure(seed: int, force: bool = False) -> Path:
    """Generate (or reuse) the inputs for ``seed``; returns their dir.
    ``model.json`` is written last, so a cut-short generation is made
    anew on the next call."""
    out = data_dir(seed)
    if (out / "model.json").exists() and not force:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    lake_model = _gen_lake(out / "lake", seed)
    lakehouse = _gen_lakehouse(out / "lakehouse_pristine", seed)
    counts = _gen_tpch(out / "tpch", seed)
    model = {
        "version": VERSION,
        "seed": seed,
        "point": _point_statements(seed, lake_model),
        "analytic": {"sql": ANALYTIC_SQL, "expect": duckdb_answers(out / "tpch")},
        "lakehouse": lakehouse,
        "counts": {"tpch_rows": counts},
    }
    (out / "model.json").write_text(json.dumps(model))
    # write the new files out now, not under the first run's timed phase
    os.sync()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--force", action="store_true", help="make the inputs anew")
    a = ap.parse_args(argv)
    print(ensure(a.seed, force=a.force))
    return 0


if __name__ == "__main__":
    sys.exit(main())
