"""Read-only probes of the layers under an op, from outside the program:
Spark's status store and status tracker, the JVM management beans, and
``/proc`` for the Python workers. None of these run inside an op timer.
"""

from __future__ import annotations

import os
import subprocess
import sys

from stats import STAGE_FIELDS

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Jvm:
    """Handles on the driver JVM of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.threads = self._mf.getThreadMXBean()
        self.store = self.sc._jsc.sc().statusStore()
        self._d3 = getattr(self.store, "stageData$default$3")()
        self._d5 = getattr(self.store, "stageData$default$5")()
        self.pid = int(self._mf.getRuntimeMXBean().getPid())
        self._names: dict[int, str] = {}

    def thread_cpu_s(self) -> float:
        """CPU time of the JVM thread serving the calling Python thread
        (PySpark pins one JVM thread to each Python thread)."""
        return self.threads.getCurrentThreadCpuTime() / 1e9

    def driver_threads_cpu_s(self, skip_ids=()) -> dict[int, float]:
        """CPU seconds of every live JVM thread that is not an executor
        task thread (task CPU is counted by the status store instead).
        Reads all threads in two bulk calls, so it can be sampled often."""
        arrays = self.spark._jvm.java.util.Arrays
        ids_arr = self.threads.getAllThreadIds()
        ids = _longs(arrays.toString(ids_arr))
        cpus = _longs(arrays.toString(self.threads.getThreadCpuTime(ids_arr)))
        out = {}
        for tid, cpu in zip(ids, cpus):
            if tid not in self._names:
                info = self.threads.getThreadInfo(tid)
                self._names[tid] = info.getThreadName() if info is not None else ""
            if cpu < 0 or tid in skip_ids:
                continue
            if not self._names[tid].startswith("Executor task launch"):
                out[tid] = cpu / 1e9
        return out

    def current_thread_id(self) -> int:
        return int(self.spark._jvm.java.lang.Thread.currentThread().getId())

    def drain_listener_bus(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jit_gc_ms(self) -> tuple[float, float]:
        jit = float(self._mf.getCompilationMXBean().getTotalCompilationTime())
        gc = sum(float(b.getCollectionTime())
                 for b in self._mf.getGarbageCollectorMXBeans())
        return jit, gc

    def stage_records(self, job_ids) -> list[dict]:
        """Every attempt of every stage of the given jobs, as dicts of
        the ``STAGE_FIELDS`` plus ``status``."""
        out = []
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, self._d3, False, self._d5)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                rec = {"status": st.status().toString()}
                for f in STAGE_FIELDS:
                    rec[f] = int(getattr(st, f)())
                out.append(rec)
        return out

    def next_job_id(self) -> int:
        """Id the scheduler gives the next job; jobs started between two
        reads have the ids in between."""
        n = self.sc._jsc.sc().dagScheduler().nextJobId()
        try:
            return int(n)
        except TypeError:
            return int(n.get())


def _longs(text: str) -> list[int]:
    """Parse ``java.util.Arrays.toString`` of a long[]."""
    inner = text.strip()[1:-1]
    return [int(x) for x in inner.split(",")] if inner.strip() else []


def proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_workers_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of the
    Python processes under the JVM: the PySpark worker daemon and the
    UDF workers it forks."""
    kids = proc_children()
    total, todo = 0.0, list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        if "python" not in comm:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in f[11:15]) / _CLK_TCK
    return total


#: The CPU-speed sampler: a fixed 10k-step pure-Python loop, run every
#: 50 ms, each time pinned on the next CPU in turn. A sample is the CPU
#: time the loop's thread took, so neither waiting behind other threads
#: nor time stolen by the hypervisor counts, only how fast the CPU ran.
_SPEED_LOOP = """
import os, sys, time
cpus = sorted(os.sched_getaffinity(0))
out = open(sys.argv[1], "w", buffering=1)
i = 0
while True:
    os.sched_setaffinity(0, {cpus[i % len(cpus)]})
    i += 1
    start, t = time.time(), time.thread_time()
    x = 0
    for j in range(10_000):
        x = (x * 31 + j) % 1_000_003
    out.write(f"{start} {time.thread_time() - t}\\n")
    time.sleep(0.05)
"""


class SpeedSampler:
    """Runs ``_SPEED_LOOP`` in a child process for as long as the run
    lasts, so a stretch when the box's CPUs run slow shows in the
    samples taken during it. It keeps one CPU about 3 % busy."""

    def __init__(self, path: str):
        self.path = path
        self.proc = subprocess.Popen([sys.executable, "-c", _SPEED_LOOP, path])

    def stop(self) -> list[tuple[float, float]]:
        """Stop the child and return its (wall-clock start, CPU seconds) samples."""
        self.proc.terminate()
        self.proc.wait()
        with open(self.path) as fh:
            rows = [line.split() for line in fh if line.endswith("\n")]
        return [(float(t), float(d)) for t, d in rows]


def cpu_busy_steal() -> tuple[float, float]:
    """Seconds that the box's CPUs have spent busy (user, nice, system,
    irq, softirq) and that the hypervisor has stolen from them, so far,
    from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / _CLK_TCK, f[7] / _CLK_TCK


def loadavg() -> list[float]:
    return list(os.getloadavg())
