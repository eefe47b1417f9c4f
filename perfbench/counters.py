"""Spark work counters read from the driver's status store.

Each op runs under its own job group. Afterwards, the jobs submitted since
the op began are read from Spark's ``AppStatusStore`` through py4j. The
store is fed by the status listener whether or not the web UI runs, so
the UI stays disabled. Jobs that a streaming query's own thread submits
carry that query's group, not ours; taking every job since the op began
keeps them in the op's counts.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Work:
    """Engine work of one op; the field names are the metric suffixes."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    # max over median task time in the stage with the most executor time
    task_skew: float = 0.0
    # job ids by job group, for attributing jobs to spans
    groups: dict[str, list[int]] = field(default_factory=dict)


class SparkCounters:
    """Reads the engine work of the jobs submitted during an op."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen = self._last_job_id()

    def _drain(self) -> None:
        # job and stage end events reach the store asynchronously
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def _last_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.length() else -1

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def read_new(self) -> Work:
        """Counters of every job submitted since the previous read."""
        self._drain()
        work = Work()
        jobs = self._store.jobsList(None)
        new = []
        for i in range(jobs.length()):
            j = jobs.apply(i)
            if j.jobId() <= self._seen:
                break
            new.append(j)
        if not new:
            return work
        self._seen = new[0].jobId()
        heaviest = None
        for j in new:
            group = j.jobGroup()
            work.groups.setdefault(
                group.get() if group.isDefined() else "", []
            ).append(j.jobId())
            work.jobs += 1
            ids = j.stageIds()
            for k in range(ids.length()):
                s = self._store.lastStageAttempt(ids.apply(k))
                if s.status().toString() == "SKIPPED":
                    continue
                work.stages += 1
                work.tasks += s.numTasks()
                work.shuffle_read_mb += s.shuffleReadBytes() / MB
                work.shuffle_write_mb += s.shuffleWriteBytes() / MB
                work.spill_mb += s.diskBytesSpilled() / MB
                work.executor_run_s += s.executorRunTime() / 1e3
                work.executor_cpu_s += s.executorCpuTime() / 1e9
                work.gc_s += s.jvmGcTime() / 1e3
                if heaviest is None or s.executorRunTime() > heaviest[0]:
                    heaviest = (s.executorRunTime(), s.stageId(), s.attemptId())
        if heaviest is not None:
            work.task_skew = self._skew(heaviest[1], heaviest[2])
        return work

    def _skew(self, stage_id: int, attempt: int) -> float:
        tasks = self._store.taskList(stage_id, attempt, 1_000_000)
        durations = []
        for i in range(tasks.length()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durations.append(d.get())
        if not durations:
            return 0.0
        med = statistics.median(durations)
        return max(durations) / med if med > 0 else 0.0

    def cached_mb(self) -> float:
        """Storage memory held by cached blocks right now."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(info.memSize() + info.diskSize() for info in infos) / MB
