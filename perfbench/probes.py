"""Readings taken between timed calls, never inside them: the process tree
from ``/proc``, the JVM's management beans, the block manager's cached
bytes and Spark's job/stage/SQL status stores."""

from __future__ import annotations

import math
import os
import re
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(parent pid, own cpu seconds, reaped children's cpu seconds), or
    None for a process that is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    if fields[0] == "Z":
        return None
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), (utime + stime) / _TICK, (cutime + cstime) / _TICK


def _status_kib(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parent[int(entry)] = st[0]
    out, frontier = [], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


class ProcessTree:
    """CPU seconds and RSS of the session's JVM and every process under it
    (the Python workers, the Python data-source planners)."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.getRuntimeMXBean().getPid())
        self._gc_beans = list(jvm.getGarbageCollectorMXBeans())
        self._jit_bean = jvm.getCompilationMXBean()
        self.max_workers = 0

    def gc_s(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans) / 1000.0

    def sample(self) -> dict[str, float]:
        workers = _descendants(self.jvm_pid)
        self.max_workers = max(self.max_workers, len(workers))
        _, jvm_own, jvm_reaped = _stat(self.jvm_pid)
        # the JVM's reaped children are Python processes (data-source planners)
        py = jvm_reaped + sum(sum((_stat(p) or (0, 0.0, 0.0))[1:]) for p in workers)
        return {
            "jvm_cpu": jvm_own,
            "py_cpu": py,
            "driver_cpu": sum(os.times()[:2]),
            "gc": self.gc_s(),
            "jit": self._jit_bean.getTotalCompilationTime() / 1000.0,
        }

    def rss_mb(self) -> tuple[float, float]:
        """Current RSS (MiB) of the JVM and of all its workers."""
        jvm = _status_kib(self.jvm_pid, "VmRSS:") / 1024.0
        py = sum(_status_kib(p, "VmRSS:") for p in _descendants(self.jvm_pid))
        return jvm, py / 1024.0


class HostControl:
    """Two fixed jobs timed between passes. Neither runs Spark or package
    code, so only the host's speed moves them:

    - a parallel sort of the same pseudo-random ints in the session's JVM,
      on every core: the throughput that tasks get;
    - py4j round trips from the driver to the JVM and back: the wake-up
      latency that driver-bound planning pays on every call.

    On a shared host the two move apart, and each workload leans on both,
    so wall time is scaled by their geometric mean."""

    INTS = 4_000_000
    ROUND_TRIPS = 300
    # readings of one reference second
    SORT_REF_S = 0.15
    RTT_REF_S = 90e-6

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._system, self._arrays = jvm.java.lang.System, jvm.java.util.Arrays
        self._source = jvm.java.util.Random(42).ints(self.INTS).toArray()
        self._work = jvm.java.util.Random(0).ints(self.INTS).toArray()
        for _ in range(3):  # JIT-compile the sort before it is read
            self.measure()

    def measure(self) -> tuple[float, float]:
        """(sort seconds, seconds per round trip)"""
        self._system.arraycopy(self._source, 0, self._work, 0, self.INTS)
        t = time.perf_counter()
        self._arrays.parallelSort(self._work)
        sort = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(self.ROUND_TRIPS):
            self._system.nanoTime()
        return sort, (time.perf_counter() - t) / self.ROUND_TRIPS

    @classmethod
    def factors(cls, samples: list[tuple[float, float]]) -> tuple[float, float]:
        """How many times slower than the reference the host ran, as
        (factor for CPU seconds, factor for wall seconds). CPU seconds leave
        out the wait for a core that the round trips measure, so they are
        scaled by the sort alone."""
        sort = statistics.median(s for s, _ in samples) / cls.SORT_REF_S
        rtt = statistics.median(r for _, r in samples) / cls.RTT_REF_S
        return sort, math.sqrt(sort * rtt)


def cached_bytes(spark) -> int:
    """Bytes held by cached blocks, the reading ``bench.py`` takes."""
    return sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_TOTAL = re.compile(r"^\s*([-\d.,E]+)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """Parse the formatted SQL metric (``"6.9 s (1.7 s, ...)"``, ``"500"``)
    to a number in seconds, bytes or rows."""
    m = _TOTAL.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


# SQL plan metrics summed per pass: (node-name prefix, metric name) -> key
_SQL_METRICS = {
    ("", "time to run Python workers"): "sql.pyworker_run_s",
    ("", "data sent to Python workers"): "sql.arrow_bytes",
    ("", "data returned from Python workers"): "sql.arrow_bytes",
    ("InMemoryTableScan", "number of output rows"): "sql.cache_scan_rows",
}


class StatusStore:
    """Incremental reader of the jobs, stages and SQL executions Spark
    recorded since the previous ``drain``."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_jobs = set(self._sc.statusTracker().getJobIdsForGroup(None))
        self._next_exec = self._sql.executionsCount()

    def drain(self) -> tuple[list[dict], dict[str, float]]:
        """Jobs (with their stages) and summed SQL metrics since the last
        call. Waits for the listener bus so the stores are complete."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = []
        for jid in sorted(set(self._sc.statusTracker().getJobIdsForGroup(None)) - self._seen_jobs):
            self._seen_jobs.add(jid)
            job = self._app.job(jid)
            stages = []
            seq = job.stageIds()
            for i in range(seq.size()):
                st = self._app.lastStageAttempt(seq.apply(i))
                if str(st.status()) == "SKIPPED":
                    continue
                stages.append(
                    {
                        "id": st.stageId(),
                        "start": _ms(st.submissionTime()),
                        "end": _ms(st.completionTime()),
                        "tasks": st.numTasks(),
                        "run_s": st.executorRunTime() / 1000.0,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "shuffle_write": st.shuffleWriteBytes(),
                        "shuffle_read": st.shuffleReadBytes(),
                        "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    }
                )
            jobs.append(
                {
                    "id": jid,
                    "start": _ms(job.submissionTime()),
                    "end": _ms(job.completionTime()),
                    "stages": stages,
                }
            )
        sql: dict[str, float] = {}
        count = self._sql.executionsCount()
        for eid in range(self._next_exec, count):
            try:
                graph = self._sql.planGraph(eid)
            except Exception:  # execution evicted from the store
                continue
            values = self._sql.executionMetrics(eid)
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    for (prefix, name), key in _SQL_METRICS.items():
                        if metric.name() == name and node.name().startswith(prefix):
                            v = values.get(metric.accumulatorId())
                            if v.isDefined():
                                sql[key] = sql.get(key, 0.0) + _metric_value(v.get())
        self._next_exec = count
        return jobs, sql
