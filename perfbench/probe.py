"""The Spark session the benchmark runs on, and the counters it reads.

Every number here comes from the outside of the engine: the JVM's and
the Python process's own CPU and memory accounting, and Spark's status
stores (stage and SQL-execution metrics), read after the listener bus
has drained.  Reading them starts no Spark job.
"""

from __future__ import annotations

import os
import resource
import tempfile
import time
from pathlib import Path

#: Spark task slots: at most 3, and one core is left for the Spark driver
#: and the Python client
SLOTS = max(1, min(3, (os.cpu_count() or 1) - 1))
HEAP = "1g"
#: JVM options.  The heap is committed and touched at start, so the
#: JVM's resident size does not depend on when garbage collection ran.
#: C1 only: a run lives under a minute, and C2 spent more CPU compiling
#: (about 24 s of a 45 s run) than it saved, in bursts that made
#: per-statement times depend on when compilation happened.  No
#: perf-data file outside the checkout.
JAVA_OPTS = f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:-UsePerfData"
_CLK = os.sysconf("SC_CLK_TCK")


def start_spark(work: Path, root: Path):
    """A local session whose scratch space is inside ``work``; Python
    workers import the engine from ``root`` whatever the working
    directory."""
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")]))
    # the short-lived launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    builder = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} " + JAVA_OPTS)
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(SLOTS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every stage and execution of a run in the status stores
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .config("spark.sql.ui.retainedExecutions", "1000000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Counters:
    """Process and Spark counters, read as totals; the benchmark
    subtracts a reading taken before the timed phase from one taken
    after it."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.darr = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(60_000)

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _CLK

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    @staticmethod
    def py_peak_rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def py_cpu_s(self) -> float:
        """CPU of this Python process plus the JVM's Python workers (the
        PySpark daemon and the workers it forks for ``mapInPandas`` and
        UDF stages, which decode Iceberg manifests in parallel)."""
        return time.process_time() + self.worker_cpu_s()

    def worker_cpu_s(self) -> float:
        """CPU of the JVM's descendant processes, with the children
        they have reaped (a worker that exited is in its daemon's
        ``cutime``)."""
        ppid: dict[int, int] = {}
        cpu: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended meanwhile
                continue
            ppid[int(d)] = int(fields[1])
            cpu[int(d)] = sum(int(x) for x in fields[11:15])
        total = 0
        for pid in cpu:
            p = ppid[pid]
            while p in ppid and p != self.jvm_pid:
                p = ppid[p]
            if p == self.jvm_pid:
                total += cpu[pid]
        return total / _CLK

    def stages(self) -> list[dict]:
        """Every stage attempt in the status store."""
        out = []
        lst = self.jsc.statusStore().stageList(None, False, False, self.darr, None)
        for i in range(lst.size()):
            s = lst.apply(i)
            out.append(
                {
                    "id": s.stageId(),
                    "tasks": s.numTasks(),
                    "input_bytes": s.inputBytes(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                }
            )
        return out

    def max_stage_id(self) -> int:
        return max((s["id"] for s in self.stages()), default=-1)

    def sql_executions(self, after: int) -> list[dict]:
        """SQL executions with id > ``after`` and their plan metrics
        named ``number of files read`` (summed)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= after:
                continue
            # a plan and its adaptive re-plan list the same metric: count
            # each accumulator once.  The metrics come as one string
            # (``SQLPlanMetric(name,accumulatorId,metricType)`` a line):
            # one call into the JVM instead of three per metric
            ids = set()
            for line in e.metrics().mkString("\n").splitlines():
                if not (line.startswith("SQLPlanMetric(") and line.endswith(")")):
                    raise ValueError(f"unexpected plan metric {line!r}")
                name, acc, _kind = line[len("SQLPlanMetric(") : -1].rsplit(",", 2)
                if name == "number of files read":
                    ids.add(int(acc))
            files = 0
            if ids:
                values = store.executionMetrics(eid)
                for acc in ids:
                    v = values.get(acc)
                    if v.isDefined():
                        files += int(str(v.get()).replace(",", "") or 0)
            out.append({"id": eid, "files_read": files})
        return out

    def max_execution_id(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)
