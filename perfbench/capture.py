"""Per-layer capture from outside the program: Spark's status store.

``StatusCapture.span(name)`` wraps one public call. It labels the call's
jobs with a Spark job group, and when the call returns it waits for the
listener bus to drain and sums the stage metrics of every job started
inside the span: jobs, stages, tasks, executor run and CPU time, input,
output, shuffle-write and spilled bytes, and the task-time skew of the
span's heaviest stage. Jobs are found by job id, not by group, so jobs
that a streaming query runs on its own thread are counted too; the
benchmark runs one call at a time, so every job in the id range belongs
to the span.

``driver_s`` is the span's wall time that no job covered: planning,
Python and file-system work on the driver.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

BUS_DRAIN_MS = 10_000


@dataclass
class Span:
    name: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    driver_s: float = 0.0
    task_skew: float = 1.0
    job_ids: list[int] = field(default_factory=list)


class StatusCapture:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc
        self.store = self.jsc.sc().statusStore()
        self.tracker = self.jsc.statusTracker()
        self.converters = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._drain()
        # The store keeps only the newest spark.ui.retainedJobs jobs, so
        # scan on from the newest one it holds, not from job 0.
        known = [job.jobId() for job in self.converters.asJava(self.store.jobsList(None))]
        self.next_job = max(known) + 1 if known else 0

    def _drain(self) -> None:
        self.jsc.sc().listenerBus().waitUntilEmpty(BUS_DRAIN_MS)

    def _new_jobs(self) -> list[int]:
        ids = []
        while self.tracker.getJobInfo(self.next_job) is not None:
            ids.append(self.next_job)
            self.next_job += 1
        return ids

    @contextmanager
    def span(self, name: str):
        self._drain()
        self._new_jobs()
        span = Span(name)
        self.sc.setJobGroup(f"perfbench:{name}", f"perfbench {name}")
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.wall_s = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._drain()
            span.job_ids = self._new_jobs()
            self._fill(span)

    def _fill(self, span: Span) -> None:
        stage_ids: set[int] = set()
        intervals = []
        for jid in span.job_ids:
            job = self.store.job(jid)
            stage_ids.update(int(s) for s in self.converters.asJava(job.stageIds()))
            submitted = job.submissionTime()
            completed = job.completionTime()
            if submitted.isDefined() and completed.isDefined():
                intervals.append(
                    (submitted.get().getTime(), completed.get().getTime())
                )
        span.jobs = len(span.job_ids)
        heaviest = None
        for sid in sorted(stage_ids):
            try:
                stage = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage never ran
                continue
            if str(stage.status()) != "COMPLETE":
                continue
            span.stages += 1
            span.tasks += stage.numCompleteTasks()
            span.exec_run_s += stage.executorRunTime() / 1000.0
            span.exec_cpu_s += stage.executorCpuTime() / 1e9
            span.input_bytes += stage.inputBytes()
            span.output_bytes += stage.outputBytes()
            span.shuffle_write_bytes += stage.shuffleWriteBytes()
            span.spill_bytes += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            if heaviest is None or stage.executorRunTime() > heaviest.executorRunTime():
                heaviest = stage
        if heaviest is not None and heaviest.numCompleteTasks() > 1:
            span.task_skew = self._skew(heaviest)
        covered = _union_ms(intervals) / 1000.0
        span.driver_s = max(0.0, span.wall_s - covered)

    def _skew(self, stage) -> float:
        tasks = self.converters.asJava(
            self.store.taskList(stage.stageId(), stage.attemptId(), 100_000)
        )
        times = [t.taskMetrics().get().executorRunTime() for t in tasks
                 if t.taskMetrics().isDefined()]
        med = statistics.median(times) if times else 0
        return max(times) / med if med > 0 else 1.0


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
