"""Outside-in readers for the benchmark: ``/proc``, the JVM's MXBeans and
codegen counters, and Spark's own status store.

Nothing here changes the engine. Every reader works on a live
``SparkSession`` (or on the host) and returns plain numbers.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None if
    the process is gone. Field 0 here is the state (``stat`` field 3)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> tuple[float, float, float]:
    """CPU seconds of ``root`` itself, of the children it has reaped, and
    of its live descendants (their own time plus that of the children
    they reaped).

    For the Spark JVM the live descendants are the Python worker daemon
    and its forked workers; the reaped children are the short commands
    Hadoop's local file system forks (``chmod``, ``ls``) and the daemons
    of stopped sessions.
    """
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        fields[int(name)] = st
        children.setdefault(int(st[1]), []).append(int(name))
    own = fields.get(root)
    if own is None:
        return 0.0, 0.0, 0.0
    # utime, stime, cutime, cstime are stat fields 14-17 → 11-14 here
    self_s = (int(own[11]) + int(own[12])) / _CLK_TCK
    reaped_s = (int(own[13]) + int(own[14])) / _CLK_TCK
    live_s = 0.0
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        live_s += sum(int(x) for x in fields[pid][11:15]) / _CLK_TCK
        stack.extend(children.get(pid, ()))
    return self_s, reaped_s, live_s


class JitCpu(threading.Thread):
    """CPU seconds spent by the JIT compiler threads of ``pid``.

    HotSpot starts and retires C2 compiler threads as its compile queue
    grows and drains, and a retired thread's CPU time is then only in
    the process total, under no name. So a daemon thread reads the
    compiler threads' ``/proc`` stat every ``period`` seconds and keeps
    the last value seen per thread id; :meth:`cpu_s` is their sum. A
    thread that retires loses at most its last ``period`` of CPU, and it
    retires only after being idle for a while.
    """

    NAMES = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15 chars

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(name="perfbench-jit-cpu", daemon=True)
        self.pid, self.period = pid, period
        self._seen: dict[str, float] = {}
        self._other: set[str] = set()
        self._lock = threading.Lock()
        self._halt = threading.Event()
        self._sample()

    def _sample(self) -> None:
        task = f"/proc/{self.pid}/task"
        try:
            tids = os.listdir(task)
        except OSError:
            return
        now = {}
        for tid in tids:
            if tid in self._other:
                continue
            try:
                with open(f"{task}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if raw[raw.index("(") + 1 : raw.rindex(")")] not in self.NAMES:
                self._other.add(tid)
                continue
            st = raw[raw.rindex(")") + 2 :].split()
            now[tid] = (int(st[11]) + int(st[12])) / _CLK_TCK
        with self._lock:
            self._seen.update(now)

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self._sample()

    def cpu_s(self) -> float:
        self._sample()
        with self._lock:
            return sum(self._seen.values())

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join()


def calibration_ms() -> float:
    """Time of a fixed single-threaded Python loop: how fast this host
    runs plain CPU work right now. Minute-scale changes in host speed
    that steal does not show (shared caches, memory bandwidth) show here."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t) * 1e3


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot, in
    seconds (the ``steal`` column of the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _CLK_TCK


class Jvm:
    """Counters of the driver JVM (in local mode: the whole engine)."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._compiler = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._jit_cpu = JitCpu(self.pid)
        self._jit_cpu.start()

    def jit_ms(self) -> float:
        return float(self._compiler.getTotalCompilationTime())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gcs))

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile ms) since the JVM started."""
        return int(self._codegen_hist.getCount()), self._codegen.compileTime() / 1e6

    def jit_cpu_s(self) -> float:
        """CPU seconds of the JIT compiler threads, from /proc."""
        return self._jit_cpu.cpu_s()

    def close(self) -> None:
        self._jit_cpu.stop()

    def cpu_s(self) -> tuple[float, float, float]:
        """(JVM, forked commands, Python workers) CPU seconds, from /proc."""
        return tree_cpu_s(self.pid)


STAGE_FIELDS = (
    "exec.stages",
    "exec.tasks",
    "exec.executor_run_ms",
    "exec.executor_cpu_ms",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.input_bytes",
    "exec.output_bytes",
)


def wait_for_listeners(spark) -> None:
    """Let the status store catch up with every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def job_group_totals(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and stage metrics of one job group, read from
    the status store. Call :func:`wait_for_listeners` first. Skipped
    stages (shuffle reuse) are not counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    jobs = tracker.getJobIdsForGroup(group)
    out["exec.jobs"] = float(len(jobs))
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for stage in info.stageIds:
            sd = store.lastStageAttempt(stage)
            if sd.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numTasks()
            out["exec.executor_run_ms"] += sd.executorRunTime()
            out["exec.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["exec.input_bytes"] += sd.inputBytes()
            out["exec.output_bytes"] += sd.outputBytes()
    return out


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of an executed DataFrame, from its
    ``QueryExecution`` tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase, name in (
        ("analysis", "spark_plan.analyze_ms"),
        ("optimization", "spark_plan.optimize_ms"),
        ("planning", "spark_plan.planning_ms"),
    ):
        out[name] = float(phases.apply(phase).durationMs()) if phases.contains(phase) else 0.0
    return out


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files
