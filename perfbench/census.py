"""Spark job/stage/task census read from the SparkContext's status store.

Everything here reads the SparkContext's ``AppStatusStore`` (the store behind
``statusTracker`` and the Spark UI) through py4j. None of it submits a
Spark job, so taking a census does not change the census.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Totals:
    """Stage metrics summed over a set of jobs; skipped stages excluded."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    stage_ids: list[tuple[int, int]] = field(default_factory=list)


MB = 1024 * 1024


class Census:
    """Reads job and stage metrics for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        return max(self.jobs_after(-1), default=-1)

    def jobs_after(self, mark: int) -> list[int]:
        jobs = self.store.jobsList(None)
        ids = (jobs.apply(i).jobId() for i in range(jobs.size()))
        return sorted(j for j in ids if j > mark)

    def jobs_in_group(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids: list[int]) -> Totals:
        t = Totals(jobs=len(job_ids))
        seen: set[int] = set()
        for jid in job_ids:
            stage_ids = self.store.job(jid).stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                s = self.store.lastStageAttempt(sid)
                if str(s.status()) == "SKIPPED":
                    continue
                t.stages += 1
                t.tasks += s.numCompleteTasks()
                t.task_run_s += s.executorRunTime() / 1e3
                t.task_cpu_s += s.executorCpuTime() / 1e9
                t.gc_s += s.jvmGcTime() / 1e3
                t.shuffle_write_mb += s.shuffleWriteBytes() / MB
                t.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
                t.output_mb += s.outputBytes() / MB
                t.stage_ids.append((sid, s.attemptId()))
        return t

    def task_output_rows(self, stage_ids: list[tuple[int, int]]) -> list[int]:
        """Rows written by each task of the given stages (write stages only
        report a nonzero count)."""
        rows: list[int] = []
        for sid, attempt in stage_ids:
            tasks = self.store.taskList(sid, attempt, 1 << 20)
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined():
                    n = m.get().outputMetrics().recordsWritten()
                    if n > 0:
                        rows.append(n)
        return rows
