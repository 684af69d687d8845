"""Differential DML fuzz: seeded random DELETE/UPDATE/MERGE/INSERT
sequences on a Delta table vs a DuckDB twin executing equivalent
mutations, full-scan compared after EVERY statement.

The hand-written DML suite covers each verb's edge cases one at a
time; what it cannot cover is randomized SEQUENCING — a MERGE over
rows a previous UPDATE rewrote, a DELETE that empties a partition a
later INSERT repopulates, deletion vectors stacking on already-
rewritten files.  The fuzzer drives the engine's SQL DML surface
(``engine.sql`` → dml.py → the merge planner / DV writer / rewrite
paths) so every statement exercises the real commit pipeline,
including the walk-cache invalidation between statements.

DuckDB 1.0 has no MERGE, so the twin executes the staged equivalent:
matched decisions are materialized FIRST (against the pre-merge
state, like MERGE semantics demand), then update/delete/insert apply
from that decision table.  Merge sources always carry unique ids,
which keeps the staging exact.

Seeds are pinned; a failure names the seed and the statement list, so
a red run reproduces exactly.  Values are integers end to end — no
float tolerance needed.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from glue_table_cache_spark.catalog import LocalMetadataStore
from glue_table_cache_spark.engine import GlueSparkEngine

CATS = ("a", "b", "c")
N_ROWS = 60
OPS_PER_SEQ = 6
SEEDS = range(8)


def _seed_rows(rng: random.Random):
    return [
        (i, rng.choice(CATS), rng.randrange(0, 100))
        for i in range(N_ROWS)
    ]


def _pred(rng: random.Random) -> str:
    def atom():
        kind = rng.choice(("id", "cat", "val"))
        if kind == "cat":
            return f"cat = '{rng.choice(CATS)}'"
        op = rng.choice(("<", "<=", ">", ">=", "="))
        hi = N_ROWS if kind == "id" else 100
        return f"{kind} {op} {rng.randrange(0, hi)}"

    if rng.random() < 0.5:
        return atom()
    return f"{atom()} {rng.choice(('AND', 'OR'))} {atom()}"


def _values(rows) -> str:
    return ", ".join(
        f"(CAST({i} AS BIGINT), '{c}', CAST({v} AS BIGINT))"
        for i, c, v in rows
    )


class _Op:
    """One mutation: ``spark`` statements for the engine (glue.db.t)
    and ``duck`` statements for the twin (t)."""

    def __init__(self, spark_stmts, duck_stmts, label):
        self.spark_stmts = spark_stmts
        self.duck_stmts = duck_stmts
        self.label = label


def _gen_op(rng: random.Random, next_id: list[int]) -> _Op:
    kind = rng.choice(
        ("delete", "update", "insert", "merge_upsert", "merge_cond")
    )
    if kind == "delete":
        p = _pred(rng)
        return _Op(
            [f"DELETE FROM glue.db.t WHERE {p}"],
            [f"DELETE FROM t WHERE {p}"],
            f"DELETE WHERE {p}",
        )
    if kind == "update":
        p = _pred(rng)
        c = rng.randrange(1, 9)
        if rng.random() < 0.5:
            set_s, set_d = f"val = val + {c}", f"val = val + {c}"
        else:
            cat = rng.choice(CATS)
            set_s = set_d = f"cat = '{cat}'"
        return _Op(
            [f"UPDATE glue.db.t SET {set_s} WHERE {p}"],
            [f"UPDATE t SET {set_d} WHERE {p}"],
            f"UPDATE SET {set_s} WHERE {p}",
        )
    if kind == "insert":
        rows = []
        for _ in range(rng.randrange(1, 4)):
            rows.append(
                (next_id[0], rng.choice(CATS), rng.randrange(0, 100))
            )
            next_id[0] += 1
        vals = _values(rows)
        return _Op(
            [f"INSERT INTO glue.db.t VALUES {vals}"],
            [f"INSERT INTO t VALUES {vals}"],
            f"INSERT {len(rows)} rows",
        )
    # merge sources: unique ids, half sampled from the plausible
    # existing range, half brand new
    rows = []
    used = set()
    for _ in range(rng.randrange(2, 5)):
        if rng.random() < 0.5:
            i = rng.randrange(0, N_ROWS)
            if i in used:
                continue
        else:
            i = next_id[0]
            next_id[0] += 1
        used.add(i)
        rows.append((i, rng.choice(CATS), rng.randrange(0, 100)))
    vals = _values(rows)
    src = f"(SELECT * FROM VALUES {vals} AS s(id, cat, val)) AS s"
    dsrc = f"(VALUES {vals}) s(id, cat, val)"
    if kind == "merge_upsert":
        return _Op(
            [
                f"MERGE INTO glue.db.t AS t USING {src} "
                "ON t.id = s.id "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            ],
            [
                f"UPDATE t SET cat = s.cat, val = s.val FROM {dsrc} "
                "WHERE t.id = s.id",
                f"INSERT INTO t SELECT * FROM {dsrc} "
                "WHERE s.id NOT IN (SELECT id FROM t)",
            ],
            f"MERGE upsert {len(rows)} rows",
        )
    # merge_cond: update matched when source val is larger, delete
    # the other matched rows, insert the rest — decisions staged
    # against the PRE-merge state on the duck side
    return _Op(
        [
            f"MERGE INTO glue.db.t AS t USING {src} "
            "ON t.id = s.id "
            "WHEN MATCHED AND s.val > t.val "
            "THEN UPDATE SET val = s.val "
            "WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        ],
        [
            "CREATE OR REPLACE TEMP TABLE __dec AS "
            f"SELECT t.id AS tid, s.val AS sval, "
            f"(s.val > t.val) AS upd FROM t JOIN {dsrc} "
            "ON t.id = s.id",
            "UPDATE t SET val = d.sval FROM __dec d "
            "WHERE t.id = d.tid AND d.upd",
            "DELETE FROM t WHERE id IN "
            "(SELECT tid FROM __dec WHERE NOT upd)",
            f"INSERT INTO t SELECT * FROM {dsrc} "
            "WHERE s.id NOT IN (SELECT tid FROM __dec)",
        ],
        f"MERGE conditional {len(rows)} rows",
    )


def _run_fuzz_seq(spark, tmp_path, seed, fmt):
    """One seeded sequence against one target format — the engine's
    SQL DML dispatches on the catalog's format markers, so the same
    statements drive the Delta DV/rewrite paths, the Iceberg
    position-delete/replacement-snapshot paths, and the Hudi COW
    replacecommit paths."""
    rng = random.Random(1000 + seed)
    rows = _seed_rows(rng)
    df = spark.createDataFrame(rows, "id long, cat string, val long")
    loc = tmp_path / f"fuzz{fmt}{seed}"
    partitioned = (fmt == "delta" and seed % 2 == 1) or fmt in (
        "delta_mapped",
        "iceberg_part",
    )
    part_by = ["cat"] if partitioned else None
    if fmt == "delta_mapped":
        # r14: a COLUMN-MAPPED partitioned target — the table is
        # written under physical column `valx`, then renamed to the
        # logical `val` every statement uses, so logical ≠ physical
        # for the whole sequence: the merge planner, DV writer,
        # rewrite staging, and the engine's physical→logical
        # partitionValues pruning all run through the rename map
        from glue_table_cache_spark.sinks.delta_write import (
            write_delta_append,
        )

        write_delta_append(
            df.withColumnRenamed("val", "valx").coalesce(2),
            str(loc),
            partition_by=["cat"],
        )
        params = {"spark.sql.sources.provider": "delta"}
    elif fmt == "delta":
        from glue_table_cache_spark.sinks.delta_write import (
            write_delta_append,
        )

        write_delta_append(df.coalesce(2), str(loc), partition_by=part_by)
        params = {"spark.sql.sources.provider": "delta"}
    elif fmt.startswith("iceberg"):
        # the partitioned arm: hive-style identity partitions keep
        # `cat` out of the data files, so every DELETE/UPDATE/MERGE
        # predicate on it and every INSERT's partition tuple run
        # through the manifests' partition values
        from glue_table_cache_spark.sinks.iceberg_write import (
            write_iceberg_append,
        )

        write_iceberg_append(df.coalesce(2), str(loc), partition_by=part_by)
        params = {"table_type": "ICEBERG"}
    else:
        from glue_table_cache_spark.sinks.hudi_write import (
            write_hudi_append,
        )

        write_hudi_append(df.coalesce(2), str(loc))
        params = {"hoodie.table.name": "t"}
    store = LocalMetadataStore()
    store.register_parquet_dir("db", "t", str(loc), parameters=params)
    eng = GlueSparkEngine(spark, store)
    if fmt == "delta_mapped":
        # metadata-only rename: enables column mapping, pins the
        # physical spelling to valx, logical becomes val
        eng.sql(
            "ALTER TABLE glue.db.t RENAME COLUMN valx TO val"
        ).collect()
    duck = duckdb.connect()
    duck.execute("CREATE TABLE t (id BIGINT, cat VARCHAR, val BIGINT)")
    duck.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)

    next_id = [N_ROWS]
    history: list[str] = []
    for step in range(OPS_PER_SEQ):
        op = _gen_op(rng, next_id)
        history.append(op.label)
        for s in op.spark_stmts:
            eng.sql(s).collect()
        for s in op.duck_stmts:
            duck.execute(s)
        got = sorted(
            (r.id, r.cat, r.val)
            for r in eng.sql(
                "SELECT id, cat, val FROM glue.db.t"
            ).collect()
        )
        want = sorted(
            map(tuple, duck.execute(
                "SELECT id, cat, val FROM t"
            ).fetchall())
        )
        assert got == want, (
            f"fmt={fmt} seed={seed} partitioned={partitioned} "
            f"diverged at step {step}: {history}\n"
            f"spark={got[:20]}...\nduck={want[:20]}..."
        )


@pytest.mark.parametrize("seed", SEEDS)
def test_dml_fuzz_delta_matches_duckdb(spark, tmp_path, seed):
    _run_fuzz_seq(spark, tmp_path, seed, "delta")


@pytest.mark.parametrize("seed", range(4))
def test_dml_fuzz_delta_mapped_matches_duckdb(spark, tmp_path, seed):
    _run_fuzz_seq(spark, tmp_path, seed, "delta_mapped")


@pytest.mark.parametrize("seed", range(4))
def test_dml_fuzz_iceberg_matches_duckdb(spark, tmp_path, seed):
    _run_fuzz_seq(spark, tmp_path, seed, "iceberg")


@pytest.mark.parametrize("seed", range(4))
def test_dml_fuzz_iceberg_partitioned_matches_duckdb(spark, tmp_path, seed):
    _run_fuzz_seq(spark, tmp_path, seed, "iceberg_part")


@pytest.mark.parametrize("seed", range(4))
def test_dml_fuzz_hudi_matches_duckdb(spark, tmp_path, seed):
    _run_fuzz_seq(spark, tmp_path, seed, "hudi")


@pytest.mark.parametrize("seed", range(4))
def test_dml_fuzz_cdf_replay_reconstructs_state(
    spark, tmp_path, seed
):
    """CDC-synthesis differential: the same fuzzed sequences on a
    CDF-ENABLED Delta table, then the change feed from version 0
    replays (per version: delete/update_preimage keys out, insert/
    update_postimage rows in) to EXACTLY the final table — every cdc
    file the DML writers emitted and every synthesized window agrees
    with the state the statements actually produced."""
    from glue_table_cache_spark.sinks.delta_write import (
        write_delta_append,
    )
    from glue_table_cache_spark.sources.delta import delta_cdf

    rng = random.Random(7000 + seed)
    rows = _seed_rows(rng)
    df = spark.createDataFrame(rows, "id long, cat string, val long")
    loc = tmp_path / f"cdffuzz{seed}"
    write_delta_append(df.coalesce(2), str(loc))
    store = LocalMetadataStore()
    store.register_parquet_dir(
        "db", "t", str(loc),
        parameters={"spark.sql.sources.provider": "delta"},
    )
    eng = GlueSparkEngine(spark, store)
    eng.sql(
        "ALTER TABLE glue.db.t SET TBLPROPERTIES "
        "('delta.enableChangeDataFeed'='true')"
    )
    duck = duckdb.connect()
    duck.execute("CREATE TABLE t (id BIGINT, cat VARCHAR, val BIGINT)")
    duck.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    next_id = [N_ROWS]
    for _step in range(OPS_PER_SEQ):
        op = _gen_op(rng, next_id)
        for s in op.spark_stmts:
            eng.sql(s).collect()
        for s in op.duck_stmts:
            duck.execute(s)
    final = sorted(
        (r.id, r.cat, r.val)
        for r in eng.sql(
            "SELECT id, cat, val FROM glue.db.t"
        ).collect()
    )
    assert final == sorted(
        map(tuple, duck.execute(
            "SELECT id, cat, val FROM t"
        ).fetchall())
    )
    # since_version is EXCLUSIVE (the engine's commit-window
    # convention) — seed the replay with version 0's rows
    changes = delta_cdf(spark, str(loc), since_version=0).collect()
    by_ver: dict = {}
    for r in changes:
        by_ver.setdefault(r._commit_version, []).append(r)
    state: dict = {i: (i, c, v) for i, c, v in rows}
    for ver in sorted(by_ver):
        for r in by_ver[ver]:
            if r._change_type in ("delete", "update_preimage"):
                state.pop(r.id, None)
        for r in by_ver[ver]:
            if r._change_type in ("insert", "update_postimage"):
                state[r.id] = (r.id, r.cat, r.val)
    assert sorted(state.values()) == final, (
        f"seed={seed}: CDF replay diverged from the final table"
    )
