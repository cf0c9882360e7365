"""Counters read from outside the program: ``/proc`` for CPU and memory of
the Spark driver (this Python process), the JVM and the Python workers, and Spark's status store for
jobs, stages and tasks. Nothing here changes how the program runs; the
status-store reads happen between iterations, outside the timed region.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu seconds, reaped-children cpu seconds) or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK, (int(rest[13]) + int(rest[14])) / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


@dataclass(frozen=True)
class CpuSample:
    driver: float
    jvm: float
    workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.driver - other.driver, self.jvm - other.jvm, self.workers - other.workers)


class ProcessTree:
    """The Spark driver (this Python process), the JVM it launched and the
    JVM's Python worker processes."""

    def __init__(self, jvm_pid: int):
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid

    def cpu(self) -> CpuSample:
        driver = _stat(self.driver_pid)
        jvm = _stat(self.jvm_pid)
        # a reaped worker's time moves into the JVM's children counters
        workers = jvm[2] if jvm else 0.0
        for pid in descendants(self.jvm_pid):
            st = _stat(pid)
            if st is not None:
                workers += st[1] + st[2]
        return CpuSample(driver[1] if driver else 0.0, jvm[1] if jvm else 0.0, workers)

    def peak_rss_mb(self) -> float:
        """Sum of each live process's resident high-water mark."""
        pids = [self.driver_pid, *descendants(self.driver_pid)]
        return sum(_status_kb(pid, "VmHWM:") for pid in pids) / 1024.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class JobLedger:
    """Jobs that ran since the last call, read from the status store.

    Jobs are taken by id, not by job group: streaming and broadcast jobs
    run on other threads and do not all inherit the caller's group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._last_job = -1
        self.take()

    def take(self) -> list[dict]:
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            jd = it.next()
            if jd.jobId() > self._last_job:
                ids = jd.stageIds()
                jobs.append(
                    {
                        "id": jd.jobId(),
                        "start": _opt_ms(jd.submissionTime()),
                        "end": _opt_ms(jd.completionTime()),
                        "stages": [ids.apply(k) for k in range(ids.size())],
                    }
                )
        if jobs:
            self._last_job = max(j["id"] for j in jobs)
        for job in jobs:
            job["stage_data"] = [s for sid in job["stages"] for s in self._stage(store, sid)]
        return jobs

    @staticmethod
    def _stage(store, stage_id: int) -> list[dict]:
        from py4j.protocol import Py4JJavaError

        try:
            attempts = store.stageData(stage_id, False, None, False, None)
        except Py4JJavaError:  # a stage that never ran has no data
            return []
        out = []
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            if sd.status().toString() == "SKIPPED":
                continue
            out.append(
                {
                    "tasks": sd.numTasks(),
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_write_b": sd.shuffleWriteBytes(),
                    "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                }
            )
        return out


def summarize_jobs(
    jobs: list[dict], build_windows: list[tuple[float, float]], sink_windows: list[tuple[float, float]]
) -> dict[str, float]:
    """Operator-layer counters for one iteration. ``exec_s`` is the wall
    time covered by at least one running job; jobs submitted inside a
    query-build window, and not inside a sink write nested in it, count as
    build jobs."""
    stages = [s for j in jobs for s in j["stage_data"]]
    spans = sorted((j["start"], j["end"]) for j in jobs if j["start"] is not None and j["end"] is not None)
    covered, cur_start, cur_end = 0.0, None, None
    for s, e in spans:
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    def inside(t, windows):
        return any(a <= t <= b for a, b in windows)

    build_jobs = sum(
        1 for j in jobs if j["start"] is not None and inside(j["start"], build_windows) and not inside(j["start"], sink_windows)
    )
    return {
        "operators.exec_s": covered,
        "operators.jobs": float(len(jobs)),
        "operators.stages": float(len(stages)),
        "operators.tasks": float(sum(s["tasks"] for s in stages)),
        "operators.task_cpu_s": sum(s["cpu_s"] for s in stages),
        "operators.gc_s": sum(s["gc_s"] for s in stages),
        "operators.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 1e6,
        "operators.spill_mb": sum(s["spill_b"] for s in stages) / 1e6,
        "plans.build_jobs": float(build_jobs),
    }
