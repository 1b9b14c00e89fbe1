"""Spark's own stage counters, read from the application status store.

``sc._jsc.sc().statusStore()`` is populated by the live listener even
with ``spark.ui.enabled=false``. Jobs are attributed to a span by job
group (``SparkContext.setJobGroup``), and a job's stages are summed.
"""

from __future__ import annotations

import re

# Counters summed over the stages of a job group.
STAGE_SUMS = (
    "tasks", "task_run_s", "task_cpu_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "output_bytes", "failed_tasks",
)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class StatusReader:
    """Reads per-job-group totals from one SparkContext's status store."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._quant = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        self._quant[0] = 0.5
        self._quant[1] = 1.0
        self._no_quant = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._jobs: dict[str, list] | None = None

    def jobs_by_group(self) -> dict[str, list]:
        """Jobs of the store keyed by job group, read once per reader
        (read it after the spans of interest have ended)."""
        if self._jobs is None:
            self._jobs = {}
            for job in _seq(self.store.jobsList(None)):
                g = job.jobGroup()
                if g.isDefined():
                    self._jobs.setdefault(g.get(), []).append(job)
        return self._jobs

    def totals(self, spans: list[dict]) -> dict[str, float]:
        by_group = self.jobs_by_group()
        return self.group_totals(
            [j for s in spans for j in by_group.get(s["group"], [])])

    def _task_skew(self, stage_id: int, attempt: int) -> float | None:
        summ = self.store.taskSummary(stage_id, attempt, self._quant)
        if not summ.isDefined():
            return None
        run = summ.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else None

    def group_totals(self, jobs: list) -> dict[str, float]:
        """Sums over the stages of ``jobs``; ``task_skew`` is the worst
        max/median task run time over stages with at least 2 tasks."""
        tot = {k: 0.0 for k in STAGE_SUMS}
        tot["jobs"] = float(len(jobs))
        tot["stages"] = 0.0
        skew = 1.0
        stage_ids = sorted({int(s) for j in jobs for s in _seq(j.stageIds())})
        for sid in stage_ids:
            for st in _seq(self.store.stageData(sid, False, None, False,
                                                self._no_quant)):
                status = str(st.status())
                if status in ("SKIPPED", "PENDING"):
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                tot["task_run_s"] += st.executorRunTime() / 1e3
                tot["task_cpu_s"] += st.executorCpuTime() / 1e9
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                tot["output_bytes"] += st.outputBytes()
                if st.numCompleteTasks() >= 2:
                    s = self._task_skew(sid, st.attemptId())
                    if s is not None:
                        skew = max(skew, s)
        tot["task_skew"] = skew
        return tot


_WARN = re.compile(r"\bWARN\b")
_LARGE_TASK = re.compile(r"TaskSetManager.*task of very large size")


def count_warnings(log_text: str) -> tuple[int, int]:
    """(WARN lines, TaskSetManager 'task of very large size' lines)."""
    warn = large = 0
    for line in log_text.splitlines():
        if _WARN.search(line):
            warn += 1
            if _LARGE_TASK.search(line):
                large += 1
    return warn, large
