"""Host sizing, the Spark session, statistics helpers and the traced run's
spans and Spark counters.

Nothing here reaches inside ``schematic_spark``. A span wraps one call into
a public function of the program; the Spark counters come from the JVM's
own status store, codegen metrics and query-execution listener, read
through py4j.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def host_facts() -> dict:
    """CPUs this process may use and a driver heap of a quarter of host
    RAM (1 to 8 GiB): in local mode every task shares that one heap."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(8, ram // 4 // 2**30))
    return {"cpus": cpus, "ram_gb": round(ram / 2**30, 1),
            "heap": f"{heap_gb}g"}


def start_session(work: Path, facts: dict):
    """A fresh ``local[cpus]`` session whose scratch files all stay under
    ``work``. The checkout root goes on ``PYTHONPATH`` so Python workers
    can import ``schematic_spark`` wherever the benchmark is launched."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher's too: temp files under work,
    # no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = str(tmp)
    from pyspark.sql import SparkSession

    cpus = facts["cpus"]
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", facts["heap"])
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of this process and its descendants
    (the JVM and its Python workers), reaped children included."""
    root = root or os.getpid()
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        f = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def dir_size(path: Path) -> tuple[int, int]:
    """(files, bytes) under ``path``, Spark's hidden checksum and marker
    files excluded."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Tracer:
    """Spans (id, name, parent, start, end) around calls into the
    program, each carrying the Spark counters of its interval.

    Disabled, ``span`` only yields. Enabled, every span end drains the
    listener bus, then reads the stages created during the span from the
    status store, the codegen compiles from ``CodegenMetrics`` and the
    Catalyst phases of the queries that finished during the span from a
    ``QueryExecutionListener``. Stages belong to a span by the stage ids
    allocated while it was open: the harness calls one layer at a time,
    so this also covers the thread pool inside ``run_fused_suite``.
    Spans stay in memory; the caller writes them out once at the end.
    """

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._t0 = time.perf_counter()
        self._stages: dict[int, dict] = {}
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._codegen = getattr(getattr(
            spark._jvm, "org.apache.spark.metrics.source.CodegenMetrics$"),
            "MODULE$").METRIC_COMPILATION_TIME()
        self.queries: list[tuple] = []
        ensure_callback_server_started(self._gw)
        self._listener = _PhaseListener(self.queries)
        spark._jsparkSession.listenerManager().register(self._listener)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1]["id"] if self._open else None,
               "start": time.perf_counter() - self._t0}
        self._drain()
        dag = self._sc.dagScheduler()
        marks = (dag.nextStageId(), dag.nextJobId(),
                 self._codegen.getCount(), len(self.queries))
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()
            rec.update(self._counters_since(*marks))

    def _drain(self):
        self._sc.listenerBus().waitUntilEmpty()

    def _counters_since(self, stage0, job0, compiles0, query0) -> dict:
        self._drain()
        dag = self._sc.dagScheduler()
        stage1 = dag.nextStageId()
        stages = [self._stage(s) for s in range(stage0, stage1)]
        stages = [s for s in stages if s is not None]
        compiles = self._codegen.getCount() - compiles0
        queries = self.queries[query0:]
        return {
            "jobs": dag.nextJobId() - job0,
            "stages": [s["id"] for s in stages],
            "task_s": sum(s["task_ms"] for s in stages) / 1000,
            "shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "spill_bytes": sum(s["spill"] for s in stages),
            "task_skew_max": max((s["skew"] for s in stages), default=0.0),
            "codegen_compiles": compiles,
            # CodegenMetrics keeps a sampled histogram, not a sum: its
            # mean times the compiles in this span estimates their time
            "codegen_ms": compiles * self._codegen.getSnapshot().getMean(),
            "queries": len(queries),
            "analysis_ms": sum(q[1] for q in queries),
            "optimization_ms": sum(q[2] for q in queries),
            "planning_ms": sum(q[3] for q in queries),
        }

    def _stage(self, sid: int) -> dict | None:
        if sid in self._stages:
            return self._stages[sid]
        from py4j.protocol import Py4JJavaError

        store = self._sc.statusStore()
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted (e.g. skipped by AQE)
            return None
        if st.status().toString() != "COMPLETE":
            return None
        skew = 1.0
        if st.numTasks() > 1:
            q = self._gw.new_array(self._gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            dist = store.taskSummary(sid, st.attemptId(), q)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                med, top = rt.apply(0), rt.apply(1)
                skew = top / med if med > 0 else 1.0
        rec = {
            "id": sid,
            "task_ms": st.executorRunTime(),
            "shuffle_read": st.shuffleReadBytes(),
            "shuffle_write": st.shuffleWriteBytes(),
            "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "skew": skew,
        }
        self._stages[sid] = rec
        return rec

    def close(self, spark):
        if self.enabled:
            spark._jsparkSession.listenerManager().unregister(self._listener)


class _PhaseListener:
    """Collects (action, analysis ms, optimization ms, planning ms) of
    every query the session finishes."""

    def __init__(self, sink: list):
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()

        def ms(name):
            p = phases.get(name)
            return p.get().durationMs() if p.isDefined() else 0

        self._sink.append((func_name, ms("analysis"), ms("optimization"),
                           ms("planning")))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
