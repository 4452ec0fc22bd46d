"""Run scaffolding shared by the workloads: hermetic scratch, the Spark
session, the closed-loop timer and the engine counters read from outside
(Spark's status tracker and ``/proc``)."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

_TICK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Scratch:
    """All files a run makes live under one directory inside the
    benchmark's own tree, and the process works from there so Spark's
    ``spark-warehouse``/``derby.log`` land in it too. ``close`` removes it."""

    def __init__(self, base: str):
        self.root = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
        self.tmp = os.path.join(self.root, "tmp")
        os.makedirs(self.tmp)
        self._cwd = os.getcwd()
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "spark-local")
        os.chdir(self.root)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        os.chdir(self._cwd)
        shutil.rmtree(self.root, ignore_errors=True)


#: Driver JVM flags. ``TieredStopAtLevel=1`` keeps the JIT at C1: a fresh
#: JVM under full tiering keeps speeding up for over a minute as C2
#: compiles Spark's planner and scheduler, which in a minute-long run
#: reads as ~20% run-to-run spread; C1 levels off within the warm-up.
#: The heap keeps the program's own sizing (``spark.driver.memory``).
JAVA_OPTS = "-XX:TieredStopAtLevel=1"


def start_spark(scratch: Scratch):
    """The program's own session factory on ``local[<cores>]``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    from meteo_etl_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"{JAVA_OPTS} -Djava.io.tmpdir={scratch.tmp}",
            "spark.sql.warehouse.dir": scratch.path("spark-warehouse"),
        },
    )


def stop_spark(spark, procs: ProcTree | None) -> None:
    """Stop the session, end the gateway JVM and wait for its whole tree."""
    from pyspark import SparkContext

    pids = procs.pids() if procs else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# /proc: the driver JVM and its Python worker descendants.
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may contain spaces; fields after the closing paren are fixed.
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def cpu_steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far, from /proc/stat;
    the share between two readings is CPU time the hypervisor withheld."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


class ProcTree:
    """CPU seconds and resident memory of the JVM launched by this process
    plus every descendant (``pyspark.daemon`` and its workers)."""

    def __init__(self) -> None:
        me = os.getpid()
        kids = _children()
        java = []
        for pid in kids.get(me, []):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        java.append(pid)
            except OSError:
                continue
        if len(java) != 1:
            raise RuntimeError(f"expected one driver JVM child, found {java}")
        self.jvm = java[0]

    def pids(self) -> list[int]:
        kids = _children()
        out, todo = [], [self.jvm]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree, plus the
        cutime+cstime each has collected from reaped children."""
        total = 0
        for pid in self.pids():
            try:
                f = _stat(pid)
            except OSError:
                continue
            total += sum(int(x) for x in f[11:15])
        return total / _TICK

    def peak_rss_by_pid(self) -> dict[int, float]:
        """High-water resident set (VmHWM) of each live process, in MB."""
        out = {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            out[pid] = int(line.split()[1]) / 1024.0
            except OSError:
                continue
        return out


def gc_s(spark) -> float:
    """Seconds the driver JVM's collectors have spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def retained_heap_mb(spark) -> float:
    """Heap in use right after a full collection of the driver JVM: what
    the program still holds, whatever the collector's sizing. The second
    collection frees what Spark's cleaner thread released after the first
    (broadcasts, shuffles of unreachable frames)."""
    jvm = spark._jvm.java.lang
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    mem = jvm.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


# ---------------------------------------------------------------------------
# Spark job/stage/task counts per op, via a job group.
# ---------------------------------------------------------------------------


class JobCounter:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks completed) of one group. The status
        store is fed asynchronously, so call this once the loop is over."""
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(jobs), stages, tasks


# ---------------------------------------------------------------------------
# The closed loop.
# ---------------------------------------------------------------------------


@dataclass
class OpRecord:
    op_id: int
    kind: str
    wall_s: float
    cpu_s: float
    ok: bool
    traced: bool = False
    error: str | None = None


@dataclass
class Loop:
    spark: object
    procs: ProcTree
    records: list[OpRecord] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.jobs = JobCounter(self.spark)

    def run_op(
        self,
        kind: str,
        op: Callable[[], object],
        check: Callable[[object, float, float], None],
        *,
        traced: bool = False,
        tracer=None,
    ) -> OpRecord:
        """Time ``op`` on its own; ``check(result, t_start, t_end)`` runs
        after the clock stops and raises on a wrong answer."""
        op_id = len(self.records)
        group = f"op-{op_id}"
        self.jobs.begin(group)
        cpu0 = self.procs.cpu_s()
        wall0 = time.time()
        t0 = time.perf_counter()
        result, error = None, None
        try:
            if traced:
                with tracer.op(op_id):
                    result = op()
            else:
                result = op()
        except Exception as exc:  # noqa: BLE001 — a raising op is a failed op
            error = f"raised {type(exc).__name__}: {exc}"
        t1 = time.perf_counter()
        wall1 = time.time()
        cpu1 = self.procs.cpu_s()
        self.jobs.end()
        if error is None:
            try:
                check(result, wall0, wall1)
            except Exception as exc:  # noqa: BLE001 — any check failure fails the op
                error = f"check {type(exc).__name__}: {exc}"
        rec = OpRecord(op_id, kind, t1 - t0, cpu1 - cpu0, error is None, traced, error)
        self.records.append(rec)
        return rec


def tail(walls: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with at least ten samples beyond
    it: the 11th-largest sample. Below 21 samples no such point lies above
    the median, so the median is reported (percentile 50)."""
    xs = sorted(walls)
    n = len(xs)
    if n < 21:
        return statistics.median(xs), 50.0
    k = n - 11
    return xs[k], 100.0 * k / (n - 1)
