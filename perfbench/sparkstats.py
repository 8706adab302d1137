"""Spark execution counters per job group, from the status store.

Each query phase runs under its own job group. After the phase, its
jobs' stages are looked up with
``statusStore().lastStageAttempt(stageId)`` (available with the UI
disabled) and folded into one record.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

MB = 1024.0 * 1024.0
NS = 1e9
MS = 1e3


@dataclass
class StageRow:
    tasks: int
    failed_tasks: int
    run_ms: float  # executorRunTime, summed over tasks
    cpu_ns: float  # executorCpuTime
    gc_ms: float
    shuffle_write_bytes: float
    shuffle_read_bytes: float
    spill_bytes: float  # memory + disk spill
    input_bytes: float
    task_run_median_ms: float
    task_run_max_ms: float


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    task_skew_max: float = 0.0  # worst stage's max/median task run time

    def add(self, other: "ExecTotals") -> None:
        for f in fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            setattr(self, f.name, max(a, b) if f.name == "task_skew_max" else a + b)


def fold_stages(rows: list[StageRow], jobs: int) -> ExecTotals:
    t = ExecTotals(jobs=jobs, stages=len(rows))
    for r in rows:
        t.tasks += r.tasks
        t.failed_tasks += r.failed_tasks
        t.executor_run_s += r.run_ms / MS
        t.executor_cpu_s += r.cpu_ns / NS
        t.gc_s += r.gc_ms / MS
        t.shuffle_write_mb += r.shuffle_write_bytes / MB
        t.shuffle_read_mb += r.shuffle_read_bytes / MB
        t.spill_mb += r.spill_bytes / MB
        t.input_mb += r.input_bytes / MB
        # stages of one or two tasks have no meaningful skew
        if r.tasks >= 3 and r.task_run_median_ms > 0:
            t.task_skew_max = max(t.task_skew_max, r.task_run_max_ms / r.task_run_median_ms)
    return t


class StatusReader:
    """Reads stage data for a job group from a live SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _stage_row(self, stage_id: int) -> StageRow | None:
        try:
            sd = self.store.lastStageAttempt(stage_id)
        except Exception:
            return None  # stage evicted or never attempted (skipped)
        med = mx = 0.0
        summary = self.store.taskSummary(stage_id, sd.attemptId(), self._quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, mx = float(run.apply(0)), float(run.apply(1))
        return StageRow(
            tasks=sd.numTasks(),
            failed_tasks=sd.numFailedTasks(),
            run_ms=sd.executorRunTime(),
            cpu_ns=sd.executorCpuTime(),
            gc_ms=sd.jvmGcTime(),
            shuffle_write_bytes=sd.shuffleWriteBytes(),
            shuffle_read_bytes=sd.shuffleReadBytes(),
            spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            input_bytes=sd.inputBytes(),
            task_run_median_ms=med,
            task_run_max_ms=mx,
        )

    def group_totals(self, group: str) -> ExecTotals:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        rows = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                row = self._stage_row(sid)
                if row is not None:
                    rows.append(row)
        return fold_stages(rows, len(job_ids))
