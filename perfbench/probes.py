"""Layer probes read from outside the program: Spark scheduler and status
stores, JVM management beans, /proc CPU counters, and spans recorded
around calls into the package's public functions.

Nothing here changes what the program does; the probes only read state
between operations, and spans are installed only for a traced run.
"""

from __future__ import annotations

import gc
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def n_jobs(spark) -> int:
    """Jobs submitted so far: the DAGScheduler's job-id counter, which is
    exact and never capped. Raises if the accessor is missing, rather than
    falling back to the status store (which keeps a capped job list)."""
    try:
        value = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    except Exception as e:
        raise RuntimeError(
            "SparkContext.dagScheduler().nextJobId() is not readable on "
            "this Spark build; the job counter has no exact substitute"
        ) from e
    if not isinstance(value, int):
        raise RuntimeError(f"nextJobId() returned {type(value).__name__}, "
                           f"expected int")
    return value


def _proc_stat(pid: int) -> tuple[int, list[str]]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may hold spaces
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), fields


def _cpu_s(fields: list[str], children: bool) -> float:
    ticks = int(fields[11]) + int(fields[12])  # utime + stime
    if children:
        ticks += int(fields[13]) + int(fields[14])  # cutime + cstime
    return ticks / _TICK


def descendants(root: int) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields of every live descendant of `root`."""
    parents: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid, fields = _proc_stat(int(entry))
        except (OSError, ValueError):
            continue  # exited while listing
        parents[int(entry)] = ppid
        stats[int(entry)] = fields
    out = {}
    for pid, fields in stats.items():
        p = parents.get(pid)
        while p is not None and p != root and p > 1:
            p = parents.get(p)
        if p == root:
            out[pid] = fields
    return out


def running(pid: int) -> bool:
    try:
        return _proc_stat(pid)[1][0] != "Z"
    except (OSError, ValueError):
        return False


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU of every live descendant of the JVM (the Python daemon and its
    workers), including reaped children folded into the daemon's counts."""
    return sum(_cpu_s(fields, children=True)
               for fields in descendants(jvm_pid).values())


class Probes:
    """Counters of one Spark session. `snapshot()` is cheap enough to take
    around every pass; `spark_work(j0, j1)` and `sql_exec_s(e0, e1)` walk
    the status stores after a pass has finished."""

    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self.jvm_pid = jvm_pid
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the jobs and executions just finished."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._sql.executionsList(int(n) - 1, 1).head().executionId())

    def snapshot(self) -> dict[str, float]:
        self.drain()
        gc_ms = sum(b.getCollectionTime() for b in
                    self.jvm.java.lang.management.ManagementFactory
                    .getGarbageCollectorMXBeans())
        return {
            "t": time.perf_counter(),
            "jobs": n_jobs(self.spark),
            "exec": self.last_execution_id(),
            "gc_s": gc_ms / 1000,
            "jvm_cpu_s": self.jvm_cpu_s(),
            "worker_cpu_s": worker_cpu_s(self.jvm_pid),
            "driver_cpu_s": time.process_time(),
        }

    def spark_work(self, j0: int, j1: int) -> tuple[int, int]:
        """(stages, tasks) completed by jobs j0 .. j1-1."""
        store = self._sc.statusStore()
        stages = tasks = 0
        for job_id in range(j0, j1):
            job = store.job(job_id)
            stages += job.numCompletedStages()
            tasks += job.numCompletedTasks()
        return stages, tasks

    def sql_exec_s(self, e0: int, e1: int) -> float:
        """Summed duration of root SQL executions e0+1 .. e1 (nested ones
        run inside their root's interval and are not added again)."""
        total_ms = 0
        for exec_id in range(e0 + 1, e1 + 1):
            opt = self._sql.execution(exec_id)
            if not opt.isDefined():
                continue
            ex = opt.get()
            if ex.rootExecutionId() != ex.executionId():
                continue
            done = ex.completionTime()
            if done.isDefined():
                total_ms += done.get().getTime() - ex.submissionTime()
        return total_ms / 1000

    def delta(self, a: dict, b: dict) -> dict[str, float]:
        stages, tasks = self.spark_work(int(a["jobs"]), int(b["jobs"]))
        sql_s = self.sql_exec_s(int(a["exec"]), int(b["exec"]))
        return {
            "spark.jobs": b["jobs"] - a["jobs"],
            "spark.stages": stages,
            "spark.tasks": tasks,
            "spark.sql_exec_s": sql_s,
            "jvm.gc_s": b["gc_s"] - a["gc_s"],
            "jvm.cpu_s": b["jvm_cpu_s"] - a["jvm_cpu_s"],
            "py.worker_cpu_s": b["worker_cpu_s"] - a["worker_cpu_s"],
            "py.driver_cpu_s": b["driver_cpu_s"] - a["driver_cpu_s"],
        }

    def jvm_cpu_s(self) -> float:
        return _cpu_s(_proc_stat(self.jvm_pid)[1], children=False)

    def cached_relations(self) -> int:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return int(cm.cachedData().size())

    def retained_heap_mb(self) -> list[float]:
        """Heap in use after forced full collections, half a second apart,
        until the last two of at least three readings agree within 1%;
        the last reading is the value. A collection lets Spark's
        ContextCleaner drop the broadcast and shuffle state it held only
        weakly, and that state is freed by a later collection: the first
        reading runs 20-40% above the settled one. Python's collector
        runs first, so py4j proxies it frees release their JVM objects."""
        gc.collect()
        mem = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings: list[float] = []
        while len(readings) < 10:
            if readings:
                time.sleep(0.5)
            self.jvm.java.lang.System.gc()
            readings.append(mem.getHeapMemoryUsage().getUsed() / (1 << 20))
            if (len(readings) >= 3
                    and abs(readings[-1] - readings[-2]) <= 0.01 * readings[-1]):
                break
        return readings


class Tracer:
    """Spans (name, start, end, parent) kept in memory. `wrap` replaces a
    module attribute with a recording wrapper; `restore` puts every
    original back."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                result = original(*args, **kwargs)
                s.record["none"] = result is None
                return result

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def between(self, name: str, t0: float, t1: float) -> list[dict]:
        with self._lock:
            return [s for s in self.spans
                    if s["name"] == name and t0 <= s["start"] < t1]


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        local = self.tracer._local
        stack = getattr(local, "stack", None)
        if stack is None:
            stack = local.stack = []
        self.record = {"id": None, "name": self.name,
                       "parent": stack[-1]["id"] if stack else None,
                       "start": time.perf_counter(), "end": None}
        with self.tracer._lock:
            self.record["id"] = len(self.tracer.spans)
            self.tracer.spans.append(self.record)
        stack.append(self.record)
        return self

    def __exit__(self, *exc):
        self.record["end"] = time.perf_counter()
        self.tracer._local.stack.pop()
        return False
