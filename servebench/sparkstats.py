"""Per-call Spark counters read from outside the program.

Jobs and tasks come from ``SparkContext.statusTracker()``: every measured
call runs under its own job group. Stage metrics (input bytes, shuffle
bytes, executor CPU time) come from the application status store
(``statusStore().lastStageAttempt(stage_id)``), which the listener bus
fills asynchronously, so the bus is drained before reading.

Structured Streaming runs its micro-batches on the query's own thread
under the query's job group, not the caller's. Calls that start a stream
(``by_range=True``) therefore also claim every job whose id was allocated
while the call ran. With one client thread no other job can start in that
window, so the ranges of two calls never overlap.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass


@dataclass
class CallStats:
    jobs: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_bytes: int = 0  # shuffle write: what the call moved between stages
    cpu_ms: float = 0.0  # executor CPU time summed over the call's tasks


class SparkCounters:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._ids = itertools.count()

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def start(self, name: str) -> tuple[str, int]:
        group = f"servebench-{next(self._ids)}"
        self._sc.setJobGroup(group, name)
        return group, self._next_job_id()

    def stop(self, token: tuple[str, int], *, by_range: bool = False) -> CallStats:
        group, first = token
        last = self._next_job_id()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        if by_range:
            job_ids |= set(range(first, last))
        out = CallStats(jobs=len(job_ids))
        stages = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        store = self._jsc.statusStore()
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out.tasks += int(sd.numCompleteTasks())
            out.input_bytes += int(sd.inputBytes())
            out.shuffle_bytes += int(sd.shuffleWriteBytes())
            out.cpu_ms += float(sd.executorCpuTime()) / 1e6
        return out
