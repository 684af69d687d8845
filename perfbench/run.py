"""Benchmark of ``glue_table_cache_spark`` through its public surface.

    python3 perfbench/run.py --workload point_warm --seed 1 --seconds 5 --trace 0

Workloads: ``point_warm``, ``point_cold``, ``point_mix``,
``analytic_scan``, ``lakehouse_rw``, ``rw_curate`` (see README.md), or
``all`` to run each in its own process.  ``--selftest`` shows every
checker rejecting a corrupted answer.  The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

One closed-loop client runs one statement at a time on the engine's
default ``EngineConfig``.  A run sets up, runs untimed warm-up rounds,
then repeats whole rounds of the same seeded statements until
``--seconds`` have passed, and checks every answer after the timed
phase.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("point_warm", "point_cold", "point_mix", "analytic_scan", "lakehouse_rw", "rw_curate")
CURATE_BUDGET = 512
#: ``rw_curate`` curates the first documents of the corpus only: a
#: ``curate()`` pass costs 6-7 s on 100 documents and 10-15 s on 800,
#: most of it per-job overhead
RW_CURATE_DOCS = 100

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "python_cpu_ms_per_op": "ms",
    "jvm_cpu_ms_per_op": "ms",
    "input_bytes_per_op": "B",
    "files_read_per_op": "count",
    "peak_rss_mb": "MB",
}

#: per-layer metrics (traced run), each per timed statement
PER_LAYER = {
    "transformer.refs_ms": "ms",
    "transformer.rewrite_ms": "ms",
    "dml.parse_ms": "ms",
    "cache.metadata_hits": "count",
    "cache.metadata_misses": "count",
    "cache.listing_hits": "count",
    "cache.listing_misses": "count",
    "cache.load_ms": "ms",
    "catalog.get_table_calls": "count",
    "catalog.get_table_ms": "ms",
    "listing.list_calls": "count",
    "listing.objects_listed": "count",
    "listing.list_ms": "ms",
    "pruning.files_in": "count",
    "pruning.files_out": "count",
    "pruning.prune_ms": "ms",
    "skipping.files_in": "count",
    "skipping.files_out": "count",
    "skipping.skip_ms": "ms",
    "sources.delta.walk_ms": "ms",
    "sources.iceberg.walk_ms": "ms",
    "sources.hudi.walk_ms": "ms",
    "sources.walk_entries": "count",
    "engine.sql_ms": "ms",
    "engine.read_setup_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_ms": "ms",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "B",
    "sinks.files_added": "count",
    "sinks.files_removed": "count",
    "sinks.bytes_written": "B",
    "operators.curate_ms": "ms",
}


class Op:
    """One statement: ``make()`` returns the DataFrame (for DML the
    write has happened by then), the harness fetches it with
    ``toArrow()``, and ``check(rows, prev_failed)`` lists what is wrong
    with it; ``prev_failed`` says whether the statement before it
    failed.  ``pre`` runs first, outside the statement's latency."""

    def __init__(self, label, make, check, pre=None, span="engine.sql"):
        self.label, self.make, self.check, self.pre, self.span = label, make, check, pre, span


# -- workloads -----------------------------------------------------------------


class Workload:
    ops: list[Op]
    #: untimed rounds before the timed phase: the first fills the caches;
    #: statement times still fall for a round while the JVM compiles
    warmup_rounds = 2
    #: timed rounds a run makes even when one outlasts ``--seconds``
    min_rounds = 1

    def before_round(self) -> None:
        """Harness work before each round, outside the timed phase."""


def _lake_tables(lake: Path) -> list:
    from glue_table_cache_spark import CatalogTable, PartitionKey

    from gen import PARTITIONS

    pk = [PartitionKey("p", "int")]
    params = {
        "hive": {},
        "proj": {
            "projection.enabled": "true",
            "projection.p.type": "integer",
            "projection.p.range": f"0,{PARTITIONS - 1}",
        },
        "delta": {"spark.sql.sources.provider": "delta"},
        "iceberg": {"table_type": "ICEBERG"},
        "hudi": {"hoodie.table.name": "hudi"},
    }
    locations = {t: lake / t for t in params}
    # integer partition projection reads the value from the first
    # all-digit component of the whole path: under a directory such as
    # ``.../2024/...`` every file would read as partition 2024, so the
    # table is then named relative to the working directory
    if any(part.isdigit() for part in lake.parts):
        locations["proj"] = Path(os.path.relpath(locations["proj"]))
    return [CatalogTable("lake", t, str(locations[t]), list(pk), dict(p)) for t, p in params.items()]


class Point(Workload):
    """Selective point queries over the many-file lake, one pass over
    the statements per entry of ``passes``: a cold pass invalidates the
    statement's table before each statement, a warm pass does not.
    ``point_mix`` runs a cold pass, which reloads every cache entry,
    then a warm pass, which hits it."""

    def __init__(self, *passes: str) -> None:
        self.passes = passes
        if len(passes) > 1:
            # statement times still fall for the first three rounds of a
            # run, so three are warm-up.  Five timed rounds (about 4 s
            # each) outlast ``--seconds`` 10, so every run times the
            # same number of rounds whatever the host's speed, and each
            # statement's median is taken over five
            self.warmup_rounds, self.min_rounds = 3, 5

    def setup(self, ctx) -> None:
        from glue_table_cache_spark import GlueSparkEngine, LocalMetadataStore

        from checks import check_point

        store = LocalMetadataStore()
        for t in _lake_tables(ctx.data / "lake"):
            store.register_table(t)
        self.engine = ctx.make_engine(GlueSparkEngine, store)
        self.ops = []
        for kind in self.passes:
            for i, st in enumerate(ctx.model["point"]):
                pre = None
                if kind == "cold":
                    pre = lambda t=st["table"]: self.engine.invalidate_table("lake", t)  # noqa: E731
                self.ops.append(
                    Op(
                        f"{kind}{i}:{st['table']}",
                        lambda q=st["sql"]: self.engine.sql(q),
                        lambda rows, _prev, e=st["expect"], i=i: check_point(rows, e, f"point{i}"),
                        pre,
                    )
                )


class Analytic(Workload):
    """TPC-H-style statements through ``engine.sql()`` plus one
    ``curate()`` pass over ``documents``."""

    def setup(self, ctx) -> None:
        from glue_table_cache_spark import GlueSparkEngine, LocalMetadataStore

        from checks import check_rows
        from gen import TPCH_TABLES

        tpch = ctx.data / "tpch"
        store = LocalMetadataStore()
        for t in TPCH_TABLES:
            store.register_parquet_dir("tpch", t, str(tpch / f"{t}.parquet"))
        self.engine = ctx.make_engine(GlueSparkEngine, store)
        expect = ctx.model["analytic"]["expect"]
        self.ops = []
        for name, sql in ctx.model["analytic"]["sql"].items():
            want = expect[name]["rows"]
            self.ops.append(
                Op(
                    name,
                    lambda q=sql: self.engine.sql(q),
                    lambda rows, _prev, w=want, n=name: check_rows([list(r.values()) for r in rows], w, n),
                )
            )
        self.ops.append(_curate_op(ctx))


def _curate_op(ctx, n_docs: int | None = None) -> Op:
    """One ``curate()`` pass over the ``documents`` corpus, checked by
    properties; or over its first ``n_docs`` documents with pairwise
    near-dup removal (``dedup_transitive=False``: the corpus's copies
    are pairs, and the connected-components loop would add about 27
    Spark stages and 2 s to every round)."""
    import pyarrow.parquet as pq
    from glue_table_cache_spark import CurationConfig, curate

    from checks import check_curate

    docs_path = str(ctx.data / "tpch" / "documents.parquet")
    docs = pq.read_table(docs_path).to_pylist()[:n_docs]
    cfg = CurationConfig(pack_budget=CURATE_BUDGET, dedup_transitive=n_docs is None)
    spark = ctx.spark

    def corpus():
        df = spark.read.parquet(docs_path)
        return df if n_docs is None else df.where(f"doc_id < {n_docs}")

    return Op(
        "curate",
        lambda: curate(corpus(), cfg).select(
            "doc_id", "source", "n_tokens", "pack_id", "pack_offset"
        ),
        lambda rows, _prev: check_curate(docs, rows, CURATE_BUDGET),
        span="operators.curate",
    )


class Lakehouse(Workload):
    """DML cycles on fresh Delta, Iceberg and Hudi COW tables.  Every
    round starts from a copy of the pristine tables in a new directory
    (outside the timed phase), so every round does the same work.

    With ``curate_docs`` (the ``rw_curate`` workload) a round also runs
    one ``curate()`` pass over that many documents; a run makes one
    warm-up round and at least two timed rounds, as one round outlasts
    a run's ``--seconds``."""

    PARAMS = {
        "delta": {"spark.sql.sources.provider": "delta"},
        "iceberg": {"table_type": "ICEBERG"},
        "hudi": {"hoodie.table.name": "hudi"},
    }

    def __init__(self, tables=("delta", "iceberg", "hudi"), curate_docs: int | None = None) -> None:
        self.tables, self.curate_docs = tables, curate_docs
        if curate_docs:
            self.warmup_rounds, self.min_rounds = 1, 2

    def setup(self, ctx) -> None:
        from glue_table_cache_spark import GlueSparkEngine, LocalMetadataStore

        from checks import check_dml, check_state

        self.pristine = ctx.data / "lakehouse_pristine"
        self.store = LocalMetadataStore()
        self.engine = ctx.make_engine(GlueSparkEngine, self.store)
        self.root = WORK / "rw"
        shutil.rmtree(self.root, ignore_errors=True)
        self.ops = []
        for i, st in enumerate(ctx.model["lakehouse"]["steps"]):
            if st["table"] not in self.tables:
                continue
            if "metrics" in st:
                check = lambda rows, _prev, e=st["metrics"], i=i: check_dml(rows, e, f"rw{i}")  # noqa: E731
            else:
                # the table's contents depend on whether the DELETE
                # just before this read failed
                check = lambda rows, prev, st=st, i=i: check_state(  # noqa: E731
                    [[r["id"], r["cat"], r["val"]] for r in rows],
                    st["rows_if_delete_failed"] if prev else st["rows"],
                    f"rw{i}",
                )
            self.ops.append(Op(f"rw{i}:{st['sql'].split()[0]}", lambda q=st["sql"]: self.engine.sql(q), check))
        if self.curate_docs:
            self.ops.append(_curate_op(ctx, self.curate_docs))
        self.pristine_files = {t: _data_files(self.pristine / t) for t in self.tables}
        self.round_dir = None
        self.n_rounds = 0

    def before_round(self) -> None:
        from glue_table_cache_spark import CatalogTable, PartitionKey

        if self.round_dir is not None:
            shutil.rmtree(self.round_dir, ignore_errors=True)
        self.n_rounds += 1
        self.round_dir = self.root / f"r{self.n_rounds}"
        for t in self.tables:
            shutil.copytree(self.pristine / t, self.round_dir / t)
            self.store.register_table(
                CatalogTable("rw", t, str(self.round_dir / t), [PartitionKey("cat")], dict(self.PARAMS[t]))
            )
            self.engine.invalidate_table("rw", t)

    def sink_counts(self, tracer) -> dict:
        """Data files the round's statements added (and their bytes),
        and files that left the active set, from the directory and the
        traced walks."""
        added = bytes_ = removed = 0
        for t in self.tables:
            before = self.pristine_files[t]
            files = _data_files(self.round_dir / t)
            new = len(files) - len(before)
            added += new
            bytes_ += sum(f.stat().st_size for f in files) - sum(f.stat().st_size for f in before)
            active = tracer.active.get(str(self.round_dir / t), len(before))
            removed += len(before) + new - active
        return {"sinks.files_added": added, "sinks.files_removed": removed, "sinks.bytes_written": bytes_}


def _data_files(base: Path) -> list[Path]:
    """Parquet files of a table that are not table-format metadata."""
    return [
        f
        for f in base.rglob("*.parquet")
        if not any(part == "metadata" or part.startswith((".", "_")) for part in f.relative_to(base).parts)
    ]


# -- harness -------------------------------------------------------------------


class Context:
    def __init__(self, spark, data: Path, model: dict, tracer) -> None:
        self.spark, self.data, self.model, self.tracer = spark, data, model, tracer

    def make_engine(self, cls, store):
        if self.tracer is None:
            return cls(self.spark, store)
        from glue_table_cache_spark.listing import LocalFileSystem

        import tracing as tr

        engine = cls(
            self.spark,
            tr.CountingStore(store, self.tracer),
            filesystem=tr.CountingFileSystem(LocalFileSystem(), self.tracer),
        )
        tr.install(self.tracer, engine)
        return engine


def run_round(wl, tracer, sid_base: int, answers: list, latencies: list) -> tuple[float, float]:
    """One round of ``wl``'s statements; returns its wall time and the
    Python CPU time of the harness's own set-up of the round.  A
    statement that raises is kept in ``answers`` with its exception and
    counts as failed; its latency is not kept."""
    cpu = time.process_time()
    wl.before_round()
    cpu = time.process_time() - cpu
    t_round = time.perf_counter()
    for j, op in enumerate(wl.ops):
        if op.pre is not None:
            op.pre()
        if tracer is not None:
            tracer.stmt = sid_base + j
        t0 = time.perf_counter()
        try:
            df = op.make()
            t1 = time.perf_counter()
            table = df.toArrow()
        except Exception as exc:  # noqa: BLE001 -- counted, not fatal
            answers.append((op, exc))
            if tracer is not None:
                tracer.stmt = -1
            continue
        t2 = time.perf_counter()
        latencies.append((j, t2 - t0))
        answers.append((op, table))
        if tracer is not None:
            import tracing as tr

            tracer.add(op.span + "_ms", (t1 - t0) * 1000.0)
            tracer.add("exec.action_ms", (t2 - t1) * 1000.0)
            for phase, ms in tr.catalyst_phases(df).items():
                tracer.add(f"catalyst.{phase}_ms", ms)
            tracer.stmt = -1
    return time.perf_counter() - t_round, cpu


def check_answers(answers: list) -> tuple[list[str], int]:
    """Problems with the answers that came back, and how many
    statements failed.  A check may look at the outcome of the
    statement before it (``Op.check(rows, prev_failed)``)."""
    problems: list[str] = []
    failed = 0
    prev_failed = False
    for op, out in answers:
        if isinstance(out, Exception):
            failed += 1
            prev_failed = True
            print(f"FAILED {op.label}: {str(out).splitlines()[0][:200]}", file=sys.stderr)
            continue
        problems += op.check(out.to_pylist(), prev_failed)
        prev_failed = False
    return problems, failed


def latency_p50_ms(latencies: list[tuple[int, float]]) -> float:
    """Each statement's median latency over the timed rounds, then the
    geometric mean over the round's statements.  A pooled median over
    five table formats would report whichever format sits in the
    middle: it would not move when another format got slower, and it
    jumps between formats when two are close."""
    by_op: dict[int, list[float]] = {}
    for j, t in latencies:
        by_op.setdefault(j, []).append(t)
    logs = [math.log(statistics.median(ts)) for ts in by_op.values()]
    return math.exp(sum(logs) / len(logs)) * 1000.0 if logs else 0.0


def run_workload(name: str, seed: int, seconds: float, traced: bool) -> dict:
    import gen

    t0 = time.time()
    data = gen.ensure(seed)
    gen_s = time.time() - t0
    model = json.loads((data / "model.json").read_text())

    import probe

    shutil.rmtree(WORK, ignore_errors=True)
    spark = probe.start_spark(WORK, ROOT)
    tracer = None
    if traced:
        import tracing as tr

        tracer = tr.Tracer()
    ctx = Context(spark, data, model, tracer)
    wl = {
        "point_warm": lambda: Point("warm"),
        "point_cold": lambda: Point("cold"),
        "point_mix": lambda: Point("cold", "warm"),
        "analytic_scan": Analytic,
        "lakehouse_rw": Lakehouse,
        "rw_curate": lambda: Lakehouse(("delta",), curate_docs=RW_CURATE_DOCS),
    }[name]()
    wl.setup(ctx)
    counters = probe.Counters(spark)

    warm_answers: list = []
    for k in range(wl.warmup_rounds):
        run_round(wl, tracer, -10_000 * (k + 1), warm_answers, [])
    counters.drain()
    stage_mark = counters.max_stage_id()
    exec_mark = counters.max_execution_id()
    setup_s = time.time() - T_START - gen_s

    answers: list = []
    latencies: list = []
    rounds: list[dict] = []  # per timed round: its rate and CPU per statement
    wall = 0.0
    sink: dict = {}
    stmts: set = set()
    while len(rounds) < wl.min_rounds or wall < seconds:
        base = (len(rounds) + 1) * 1000
        n0 = len(latencies)
        py0, jvm0 = counters.py_cpu_s(), counters.jvm_cpu_s()
        w, harness_cpu = run_round(wl, tracer, base, answers, latencies)
        py1, jvm1 = counters.py_cpu_s(), counters.jvm_cpu_s()
        ok = max(1, len(latencies) - n0)
        rounds.append(
            {
                "ops_per_s": ok / w,
                "python_cpu_ms_per_op": (py1 - py0 - harness_cpu) * 1000.0 / ok,
                "jvm_cpu_ms_per_op": (jvm1 - jvm0) * 1000.0 / ok,
            }
        )
        wall += w
        stmts.update(range(base, base + len(wl.ops)))
        if tracer is not None and isinstance(wl, Lakehouse):
            for key, v in wl.sink_counts(tracer).items():
                sink[key] = sink.get(key, 0) + v
    counters.drain()
    n = max(1, len(latencies))
    stages = [s for s in counters.stages() if s["id"] > stage_mark]
    execs = counters.sql_executions(exec_mark)

    # warm-up statements count as attempted: a statement that fails only
    # on the cold first round still shows in ``failed``
    problems, warm_failed = check_answers(warm_answers)
    more, failed = check_answers(answers)
    problems += more
    result = {"correct": not problems, "attempted": len(warm_answers) + len(answers), "failed": warm_failed + failed}
    if traced:
        totals = tracer.totals(stmts)
        totals.update(sink)
        totals["exec.stages"] = len(stages)
        totals["exec.tasks"] = sum(s["tasks"] for s in stages)
        totals["exec.executor_run_ms"] = sum(s["run_ms"] for s in stages)
        totals["exec.executor_cpu_ms"] = sum(s["cpu_ns"] for s in stages) / 1e6
        totals["exec.gc_ms"] = sum(s["gc_ms"] for s in stages)
        totals["exec.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
        metrics = {m: {"value": totals.get(m, 0.0) / n, "unit": u} for m, u in PER_LAYER.items()}
        tracer.unwrap_all()
        tracer.write(HERE / ".out" / f"trace-{name}-s{seed}.json")
    else:
        values = {
            "setup_s": setup_s,
            # rates and CPU per statement: the median round, so one
            # round slowed by a noisy neighbour does not move them
            "ops_per_s": statistics.median(r["ops_per_s"] for r in rounds),
            "latency_p50_ms": latency_p50_ms(latencies),
            "python_cpu_ms_per_op": statistics.median(r["python_cpu_ms_per_op"] for r in rounds),
            "jvm_cpu_ms_per_op": statistics.median(r["jvm_cpu_ms_per_op"] for r in rounds),
            "input_bytes_per_op": sum(s["input_bytes"] for s in stages) / n,
            "files_read_per_op": sum(e["files_read"] for e in execs) / n,
            "peak_rss_mb": counters.py_peak_rss_mb() + counters.jvm_peak_rss_mb(),
        }
        metrics = {m: {"value": values[m], "unit": u} for m, u in END_TO_END.items()}
    for p in problems[:10]:
        print("CHECK FAILED:", p, file=sys.stderr)
    probe.stop_spark(spark)
    result["metrics"] = metrics
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="show each checker rejecting corrupted answers")
    a = ap.parse_args(argv)
    if a.selftest:
        import selftest

        return selftest.main(a.seed)
    if a.workload is None:
        ap.error("--workload is required")
    sys.path.insert(1, str(ROOT))  # the checkout's engine, not an installed one
    try:
        import glue_table_cache_spark  # noqa: F401 -- the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if a.workload == "all":
        for w in WORKLOADS:
            cmd = [sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
            print(w, out.strip().splitlines()[-1], flush=True)
        return 0
    result = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
