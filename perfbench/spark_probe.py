"""Read Spark's own bookkeeping between operations: jobs and stages from the
status store, Catalyst phase times from a plan's ``QueryPlanningTracker``,
resident memory of the driver JVM and this process, and the CPU time of
this process and everything it started."""

from __future__ import annotations

import os
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PHASES = ("analysis", "optimization", "planning")
STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
    "shuffleReadBytes", "shuffleWriteBytes",
)


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int]


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    seen: set = field(default_factory=set)


class SparkProbe:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_job = 0
        self.new_jobs()

    def new_jobs(self) -> list[Job]:
        """Jobs started since the previous call, once the listener bus has
        delivered every event posted so far.  Job ids are sequential."""
        self._sc.listenerBus().waitUntilEmpty()
        out = []
        while True:
            try:
                jd = self._store.job(self._next_job)
            except Py4JJavaError:
                return out
            sub, end = jd.submissionTime(), jd.completionTime()
            stages = jd.stageIds().mkString(",")
            out.append(Job(
                jd.jobId(),
                sub.get().getTime() / 1000 if sub.isDefined() else 0.0,
                end.get().getTime() / 1000 if end.isDefined() else 0.0,
                [int(s) for s in stages.split(",") if s],
            ))
            self._next_job += 1

    def add_stages(self, totals: StageTotals, jobs: list[Job]) -> None:
        """Add the executed (not skipped) stages of ``jobs`` to ``totals``."""
        for job in jobs:
            for sid in job.stages:
                if sid in totals.seen:
                    continue
                totals.seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                run, cpu, gc, inb, inr, srb, swb = (getattr(sd, f)() for f in STAGE_FIELDS)
                totals.stages += 1
                totals.tasks += sd.numCompleteTasks()
                totals.run_s += run / 1e3
                totals.cpu_s += cpu / 1e9
                totals.gc_s += gc / 1e3
                totals.input_bytes += inb
                totals.input_records += inr
                totals.shuffle_read_bytes += srb
                totals.shuffle_write_bytes += swb


def covered(jobs: list[Job], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which at least one job was running."""
    total, reach = 0.0, lo
    for job in sorted(jobs, key=lambda j: j.submit):
        a, b = max(job.submit, reach), min(job.end, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times the plan behind ``df`` has recorded so far."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants: the driver JVM and its Python workers.  A live process
    counts its own time and that of the children it has reaped, so every
    process counts once.  Time the hypervisor steals is not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children[pid]
    return ticks / os.sysconf("SC_CLK_TCK")
