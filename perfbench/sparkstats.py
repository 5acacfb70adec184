"""Counters read from outside the engine: Spark's status tracker and
status store (per range of job ids), and ``/proc`` for CPU and memory.

``job_stats`` is the one place that reads the status store; every
Spark counter the traced run reports comes through it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024


@dataclass
class JobStats:
    """Spark work of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    scan_tasks: int = 0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    # (submitted, completed) of each job, epoch seconds
    job_spans: list = field(default_factory=list)


def drain_listener_bus(spark) -> None:
    """Block until every queued scheduler event has reached the status
    store, so counters read next are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def jobs_started(spark) -> int:
    """Number of jobs the scheduler has accepted so far; job ids are
    handed out in this order, so the jobs one call launched are the
    ids between two readings."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def job_stats(spark, first: int, end: int) -> JobStats:
    """Sum the jobs with ids in [first, end) and their stages.

    Call ``drain_listener_bus`` first. Jobs are selected by id rather
    than by job group because Structured Streaming runs its
    micro-batches under a job group of its own. A stage shared by
    several jobs is counted once; a stage a job skipped (its output was
    reused) is not counted."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = JobStats()
    stage_ids: set[int] = set()
    for job_id in range(first, end):
        job = store.job(job_id)
        out.jobs += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out.job_spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        ids = job.stageIds()
        stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
    for sid in sorted(stage_ids):
        s = store.lastStageAttempt(sid)
        if s.numCompleteTasks() + s.numFailedTasks() == 0:
            continue
        out.stages += 1
        out.tasks += s.numCompleteTasks() + s.numFailedTasks()
        out.failed_tasks += s.numFailedTasks()
        out.run_s += s.executorRunTime() / 1e3
        out.cpu_s += s.executorCpuTime() / 1e9
        if s.inputBytes() > 0:
            out.input_mb += s.inputBytes() / _MB
            out.input_rows += s.inputRecords()
            out.scan_tasks += s.numCompleteTasks()
        out.shuffle_write_mb += s.shuffleWriteBytes() / _MB
        out.shuffle_read_mb += s.shuffleReadBytes() / _MB
        out.spill_mb += s.diskBytesSpilled() / _MB
    return out


def union_seconds(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def pinned_mb(spark) -> float:
    """Memory and disk held by cached or checkpointed RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM heap's old generation since the JVM
    started (live data plus garbage not yet collected). Unlike RSS it
    does not depend on which heap pages were ever touched."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if pool.getType().name() == "HEAP" and "Eden" not in name and "Survivor" not in name:
            total += pool.getPeakUsage().getUsed()
    return total / _MB


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks its Python
    daemon from a worker thread, not its main thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(p) for p in fh.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_seconds(pid: int, reaped: bool = True) -> float:
    """User+system CPU of ``pid``, plus its reaped children when
    ``reaped``; 0 for a process that is gone."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12]) + ((int(f[13]) + int(f[14])) if reaped else 0)
    return ticks / _CLK_TCK


def hwm_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of ``pid`` in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class ProcessTree:
    """CPU and peak RSS of this Python driver, its JVM and the JVM's
    Python workers."""

    def __init__(self, spark):
        self.driver = os.getpid()
        self.jvm = jvm_pid(spark)
        self.peak: dict[int, float] = {}

    def workers(self) -> list[int]:
        return descendants(self.jvm)

    def worker_cpu_s(self) -> float:
        return sum(cpu_seconds(p) for p in self.workers())

    def cpu_s(self) -> float:
        return cpu_seconds(self.driver, reaped=False) + cpu_seconds(self.jvm) + self.worker_cpu_s()

    def sample_rss(self) -> None:
        for pid in [self.driver, self.jvm, *self.workers()]:
            self.peak[pid] = max(self.peak.get(pid, 0.0), hwm_mb(pid))

    def peak_rss_mb(self) -> float:
        self.sample_rss()
        return sum(self.peak.values())

    def peak_by_role(self) -> dict[str, float]:
        self.sample_rss()
        rest = [v for p, v in self.peak.items() if p not in (self.driver, self.jvm)]
        return {"driver": self.peak.get(self.driver, 0.0), "jvm": self.peak.get(self.jvm, 0.0),
                "workers": sum(rest), "n_workers": len(rest)}


def host_ticks() -> dict[str, int]:
    """Cumulative host CPU ticks from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, v))


def host_shares(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values()) or 1
    return {"steal": d["steal"] / total, "iowait": d["iowait"] / total}


def cpu_probe_s() -> float:
    """Wall time of a fixed single-core integer workload: a reading of
    how fast this host is running right now."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0
