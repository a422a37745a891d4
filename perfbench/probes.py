"""Process, JVM and host readings taken from outside the program:
/proc for CPU and memory, JVM management beans and Spark's status
store through the session's gateway."""

from __future__ import annotations

import os
import resource
import time

from py4j.protocol import Py4JError

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(int(name))[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of `root` and its live descendants, plus the
    children they have already reaped."""
    ticks = 0
    for pid in _descendants(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def py_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def py_max_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def cpu_probe_ms() -> float:
    """Wall time of a fixed pure-Python loop: a reading of how fast
    this host runs one thread right now."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i & 7
    return (time.perf_counter() - t) * 1000


class Jvm:
    """Readings from the driver JVM of a live session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.pid = int(self.sc._gateway.proc.pid)
        self._mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._store = self.sc._jsc.sc().statusStore()

    def cpu_s(self) -> float:
        return tree_cpu_s(self.pid)

    def jit_ms(self) -> float:
        return float(self._mf.getCompilationMXBean().getTotalCompilationTime())

    def gc_ms(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    def stage_totals(self, group: str) -> dict:
        """Sum of the task metrics of every stage run by jobs of `group`."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(
            ("task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "input_bytes",
             "output_bytes", "stages", "tasks"), 0.0)
        for sid in stage_ids:
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JError:  # a stage the store never saw run
                continue
            if str(s.status()) != "COMPLETE":
                continue
            tot["task_run_s"] += s.executorRunTime() / 1000
            tot["task_cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1000
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["input_bytes"] += s.inputBytes()
            tot["output_bytes"] += s.outputBytes()
            tot["stages"] += 1
            tot["tasks"] += s.numTasks()
        return tot
