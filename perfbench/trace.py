"""Spans and counters for the traced run, plus the /proc readers that the
untraced run also uses for CPU and memory.

A span is recorded around each call the benchmark makes into the
package: name, start, end, parent span and run id. When tracing is on,
each span also gets its own Spark job group, and on exit it reads that
group's jobs, stages and task metrics from the live status store, and
the CPU the driver, the JVM and the Python workers spent inside it.
Spans stay in memory; ``Tracer.dump`` writes them out once, at the end.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(x) for x in fields[11:15])


def _descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


@dataclass
class CpuSample:
    driver: float
    jvm: float
    workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.driver - other.driver, self.jvm - other.jvm,
                         self.workers - other.workers)


def cpu_sample(jvm_pid: int) -> CpuSample:
    """CPU seconds so far of the driver, the JVM and the JVM's
    descendants (Spark's Python daemon and workers)."""
    kids = _children()
    workers = sum(_cpu_ticks(p) for p in _descendants(jvm_pid, kids))
    return CpuSample(_cpu_ticks(os.getpid()) / CLK_TCK, _cpu_ticks(jvm_pid) / CLK_TCK,
                     workers / CLK_TCK)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_probe() -> float:
    """Seconds for a fixed single-thread loop: a diagnostic of host speed."""
    t0 = time.perf_counter()
    s = 0
    for i in range(200_000):
        s += i * i % 7
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    # counter name -> (StageData getter, scale to the reported unit)
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_write_mb": ("shuffleWriteBytes", 1.0 / 2**20),
    "spark.spill_mb": ("diskBytesSpilled", 1.0 / 2**20),
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. With ``enabled`` False a span only keeps its
    start and end (no job group, no counters), which is what the
    untimed bookkeeping of an untraced run needs."""

    def __init__(self, spark, jvm_pid: int, run_id: str):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.run_id, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            sp.counters["_cpu0"] = cpu_sample(self.jvm_pid)
            self.sc.setJobGroup(f"{self.run_id}:{sp.id}", name)
        sp.start = time.perf_counter()
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if not self.enabled:
            return
        cpu = cpu_sample(self.jvm_pid) - sp.counters.pop("_cpu0")
        sp.counters.update(self._spark_counters(f"{self.run_id}:{sp.id}"))
        sp.counters["driver.cpu_s"] = cpu.driver
        sp.counters["jvm.cpu_s"] = cpu.jvm
        sp.counters["python_workers.cpu_s"] = cpu.workers
        if self._stack:
            parent = self._stack[-1]
            self.sc.setJobGroup(f"{self.run_id}:{parent.id}", parent.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _spark_counters(self, group: str) -> dict:
        """Jobs, stages, tasks and stage task metrics of one job group,
        read after the listener bus has delivered every event."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0}
        out.update({k: 0.0 for k in STAGE_FIELDS})
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            if job is None:
                continue
            out["spark.jobs"] += 1
            for stage_id in job.stageIds:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # py4j: stage skipped, never attempted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                for name, (getter, scale) in STAGE_FIELDS.items():
                    out[name] += getattr(sd, getter)() * scale
        return out

    def self_time(self, sp: Span) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return sp.duration - sum(c.duration for c in self.spans if c.parent == sp.id)

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
             "start": s.start, "end": s.end, "self_s": self.self_time(s), **s.counters}
            for s in self.spans
        ]
