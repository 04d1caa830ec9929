"""Session set-up, the timed-op protocol, the executed-plan walk and
host measurements.

Timed-op protocol: the op's DataFrame is built (timed: this is the
engine's planning), wrapped in ``observe(count, fingerprint)`` and
materialized through its own QueryExecution with
``queryExecution().toRdd().count()`` — never ``DataFrame.count()``,
which lets Catalyst prune the projected work away. The observed
aggregate rides the same execution, so verification needs no second
run of the op.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from geobench import oracle

DRIVER_MEMORY = "2g"
# Task threads: half the 4 vCPUs the benchmark is sized for. The other
# two carry the driver's Python client, the JVM's JIT and GC threads and
# the Python workers the Arrow stages feed, so the task threads do not
# contend with the client they serve. Both workloads ran as fast as at
# local[4] or faster.
CORES = 2
# A fixed heap (no resizing between ops) and GC threads no more than the
# task threads: a parallel GC pause waits for its slowest thread. Every
# query compiles new generated code, and the compilers themselves warm
# slowly; at a fifth of the JIT thresholds, bbox latency settles in about
# 60 queries instead of 200 (geobench/README.md, "Steadiness").
JVM_OPTS = (f"-XX:CompileThresholdScaling=0.2 -Xms{DRIVER_MEMORY}"
            f" -XX:ParallelGCThreads={CORES} -XX:ConcGCThreads=1")


def spark_session(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("geobench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", JVM_OPTS)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM (which owns the Python workers),
    and wait for both to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for _ in range(100):
        if not _descendants(os.getpid()):
            break
        time.sleep(0.05)


# ------------------------------------------------------------ the plan walk

SCAN_PREFIXES = ("Scan ", "FileScan", "BatchScan", "InMemoryTableScan", "LocalTableScan")
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")


def walk_plan(plan, with_metrics: bool, out=None, cached: bool = False):
    """[(node name, {metric: value}, under_cache)] for an executed plan:
    AdaptiveSparkPlanExec -> executedPlan(), *QueryStageExec -> plan(),
    InMemoryTableScanExec -> the cached plan that built it, else
    children. ``with_metrics=False`` records only whether a node has
    metrics (the cheap walk used by the untraced run's guard)."""
    out = [] if out is None else out
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return walk_plan(plan.executedPlan(), with_metrics, out, cached)
    if cls.endswith("QueryStageExec"):
        return walk_plan(plan.plan(), with_metrics, out, cached)
    ms = plan.metrics()
    if with_metrics:
        vals = {}
        it = ms.iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            v = m.value()
            vals[kv._1()] = v / 1e6 if m.metricType() == "nsTiming" else v
    else:
        vals = {"_n": ms.size()}
    out.append((plan.nodeName(), vals, cached))
    if cls == "InMemoryTableScanExec":
        walk_plan(plan.relation().cachedPlan(), with_metrics, out, True)
    it = plan.children().iterator()
    while it.hasNext():
        walk_plan(it.next(), with_metrics, out, cached)
    return out


class GuardError(RuntimeError):
    """The executed plan lost work the op must do (a benchmark defect)."""


def guard(kind: str, nodes, need: tuple) -> None:
    names = [n for n, _, c in nodes if not c]
    scans = [m for n, m, c in nodes if not c and n.startswith(SCAN_PREFIXES)]
    if not scans or not any(m for m in scans):
        raise GuardError(f"{kind}: no scan metrics in the executed plan {names}")
    for node, count in need:
        have = sum(1 for n in names if n == node or (node == "join" and n in JOIN_NODES))
        if have < count:
            raise GuardError(f"{kind}: executed plan lacks {count} x {node}: {names}")


# ----------------------------------------------------------------- ops


def fingerprint_expr(cols):
    from pyspark.sql import functions as F

    h = F.lit(0).cast("long")
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        h = F.pmod(h * F.lit(oracle.P) + col.cast("long"), F.lit(oracle.M))
    return F.pmod(h * F.lit(oracle.MIX), F.lit(oracle.M))


class Op:
    __slots__ = ("kind", "ms", "rows", "fp", "expect", "nodes", "jobs", "tasks",
                 "traced", "extra")

    def __init__(self, kind, ms, rows, fp, expect, nodes, traced):
        self.kind, self.ms, self.rows, self.fp = kind, ms, rows, fp
        self.expect, self.nodes, self.traced = expect, nodes, traced
        self.jobs = self.tasks = 0
        self.extra: dict = {}

    @property
    def ok(self) -> bool:
        exp = self.expect() if callable(self.expect) else self.expect
        return exp is not None and (self.rows, self.fp) == tuple(exp)


class Runner:
    """Runs timed ops and keeps their records. ``tracer`` is None for
    the untraced run."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.ops: list[Op] = []
        self.failed_ops = 0
        self._n = 0

    def materialize(self, df, cols):
        """Full output through the frame's own QueryExecution; returns
        (rows, fingerprint, qe)."""
        from pyspark.sql import functions as F

        name = f"fp{self._n}"
        obs = df.observe(
            name, F.count(F.lit(1)).alias("n"), F.sum(fingerprint_expr(cols)).alias("h")
        )
        qe = obs._jdf.queryExecution()
        qe.toRdd().count()
        row = qe.observedMetrics().get(name).get()
        return int(row.getLong(0)), int(row.get(1) or 0), qe

    def op(self, kind: str, build, cols, expect, need=(), record=True, **extra) -> Op:
        """Time ``build()`` + full materialization of its frame. Only
        recorded ops are eligible for tracing."""
        self._n += 1
        group = f"op{self._n}"
        self.sc.setJobGroup(group, kind)
        traced = record and self.tracer is not None and self.tracer.begin(self._n, kind)
        t0 = time.perf_counter()
        try:
            df = build()
            if traced:
                with self.tracer.span("spark.execute", "spark"):
                    rows, fp, qe = self.materialize(df, cols)
            else:
                rows, fp, qe = self.materialize(df, cols)
        finally:
            ms = (time.perf_counter() - t0) * 1e3
            if traced:
                self.tracer.end()
        nodes = walk_plan(qe.executedPlan(), self.tracer is not None)
        guard(kind, nodes, need)
        o = Op(kind, ms, rows, fp, expect, nodes, traced)
        o.extra.update(extra)
        if self.tracer is not None:
            o.jobs, o.tasks = self.job_counts(group)
        if record:
            self.ops.append(o)
        return o

    def job_counts(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), tasks


# -------------------------------------------------------------- statistics


def tail(values) -> tuple[float, str, int]:
    """Highest whole percentile with at least ten samples beyond it, as
    (value, label, n); the maximum when fewer than 20 samples exist."""
    n = len(values)
    if n < 20:
        return float(max(values, default=0.0)), "max", n
    p = int(100 * (1 - 10 / n))
    return float(np.percentile(values, p)), f"p{p}", n


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------------------- host


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over the JVM and its Python workers."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def host_probe() -> dict:
    """Recorded next to the results, never gating: a pure-Python CPU
    loop and a numpy copy bandwidth probe (64 MiB, best of 5)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    cpu_ms = (time.perf_counter() - t0) * 1e3
    a = np.ones(8 << 20)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return {"cpu_loop_ms": round(cpu_ms, 2), "mem_copy_gb_s": round(2 * a.nbytes / best / 1e9, 2)}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far: the share of time the
    hypervisor ran something else, which the probes above cannot see."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
