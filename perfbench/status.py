"""Spark's own counters, read from the driver's status stores.

``StatusReader.since_last()`` returns the jobs that finished since the
previous call, with stage totals (tasks, run/CPU/GC time, bytes read,
shuffled and spilled) and the bytes Python workers received, as Spark's
SQL metrics report them. It is called between timed steps, never inside
one.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

PYTHON_SENT = "data sent to Python workers"
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_METRIC_RE = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)")
_SEP = "\x1f"


@dataclass(frozen=True)
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float


def parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric.

    Values aggregated over tasks read ``total (min, med, max ...)\\n795.2
    KiB (...)``; single values read ``795.2 KiB``. Spark prints one
    decimal, so the result is exact to 0.05 of the unit.
    """
    line = text.strip().splitlines()[-1]
    number, unit = line.split()[:2]
    return float(number) * _SIZE_UNITS[unit]


class StatusReader:
    """Incremental reader over one SparkSession's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = max(self._tracker.getJobIdsForGroup(None) or [-1])
        self._last_exec = self._latest_execution()

    def _latest_execution(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def since_last(self) -> tuple[list[Job], Counter]:
        """Jobs and counters for the work finished since the last call."""
        counts: Counter = Counter()
        jobs = []
        new_ids = sorted(j for j in self._tracker.getJobIdsForGroup(None) if j > self._last_job)
        for job_id in new_ids:
            data = self._store.job(job_id)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                jobs.append(Job(job_id, sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            counts["jobs"] += 1
            stage_ids = data.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(counts, stage_ids.apply(i))
        if new_ids:
            self._last_job = new_ids[-1]
        latest = self._latest_execution()
        for exec_id in range(self._last_exec + 1, latest + 1):
            counts["python_bytes_sent"] += self._python_bytes(exec_id)
        self._last_exec = max(self._last_exec, latest)
        return jobs, counts

    def _add_stage(self, counts: Counter, stage_id: int) -> None:
        s = self._store.lastStageAttempt(stage_id)
        if s.status().toString() == "SKIPPED":
            return
        counts["stages"] += 1
        counts["tasks"] += s.numTasks()
        counts["failed_tasks"] += s.numFailedTasks()
        counts["task_run_s"] += s.executorRunTime() / 1e3
        counts["task_cpu_s"] += s.executorCpuTime() / 1e9
        counts["gc_s"] += s.jvmGcTime() / 1e3
        counts["input_bytes"] += s.inputBytes()
        counts["output_bytes"] += s.outputBytes()
        counts["shuffle_read_bytes"] += s.shuffleReadBytes()
        counts["shuffle_write_bytes"] += s.shuffleWriteBytes()
        counts["spill_bytes"] += s.diskBytesSpilled()
        counts["shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3

    def _python_bytes(self, exec_id: int) -> float:
        found = self._sql.execution(exec_id)
        if not found.isDefined():
            return 0.0
        acc_ids = [
            int(m.group(2))
            for m in _METRIC_RE.finditer(found.get().metrics().mkString("\n"))
            if m.group(1) == PYTHON_SENT
        ]
        if not acc_ids:
            return 0.0
        # Map[Long, String] keys do not match py4j's Integer, so the map
        # is read as one string of "id -> value" items.
        items = self._sql.executionMetrics(exec_id).mkString(_SEP).split(_SEP)
        values = dict(item.split(" -> ", 1) for item in items if item)
        return sum(parse_size(values[str(a)]) for a in acc_ids if str(a) in values)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
