"""Measurements taken from outside the program: Spark's own counters for
the jobs of one job group, and the peak RSS of the Python workers read
from ``/proc``.

Spark records what each job did in its status store whether or not the
UI is on. Stage data gives exact shuffle and task counts; the SQL store
gives the per-operator metrics of every query, including the ones run
inside a program function that the benchmark cannot hold a DataFrame
for (the resume waves, the connected-components rounds).
"""

from __future__ import annotations

import os
import re
import statistics

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_MB = 1 << 20


def _sql_total(text: str) -> float:
    """The total of one SQL metric as Spark's status store formats it:
    either the bare value (``12.3 MiB``) or a summary whose second line
    starts with the total (``total (min, med, max ...)\\n12.3 MiB (...)``).
    Sizes come back in bytes."""
    line = text.splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2), 1)


class SparkCounters:
    """Reads the counters of finished job groups from one SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def _drain(self) -> None:
        # job-end events reach the status store asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))

    def read(self, groups: list[str]) -> dict:
        """Counters summed over every job started under ``groups``."""
        self._drain()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = self.job_ids(groups)
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "shuffle_write_mb": 0.0,
            "shuffle_records": 0,
            "shuffle_write_s": 0.0,
            "python_sent_mb": 0.0,
            "python_received_mb": 0.0,
        }
        task_ms: list[float] = []
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            heaviest = None
            for sid in info.stageIds if info else ():
                data = store.lastStageAttempt(sid)
                if data.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += data.numCompleteTasks()
                out["shuffle_write_mb"] += data.shuffleWriteBytes() / _MB
                out["shuffle_records"] += data.shuffleWriteRecords()
                out["shuffle_write_s"] += data.shuffleWriteTime() / 1e9
                if heaviest is None or data.executorRunTime() > heaviest.executorRunTime():
                    heaviest = data
            if heaviest is not None:
                task_ms += self._task_run_ms(store, heaviest)
        for name, text in self._sql_metrics(set(jobs)):
            if name == "data sent to Python workers":
                out["python_sent_mb"] += _sql_total(text) / _MB
            elif name == "data returned from Python workers":
                out["python_received_mb"] += _sql_total(text) / _MB
        out["task_ms"] = task_ms
        return out

    @staticmethod
    def _task_run_ms(store, stage) -> list[float]:
        tasks = store.taskList(stage.stageId(), stage.attemptId(), stage.numTasks())
        out = []
        for i in range(tasks.size()):
            metrics = tasks.apply(i).taskMetrics()
            if metrics.isDefined():
                out.append(float(metrics.get().executorRunTime()))
        return out

    def _sql_metrics(self, jobs: set[int]):
        """(metric name, value as the status store formats it) of every
        SQL execution that ran one of ``jobs``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            ex_jobs = ex.jobs().keySet()
            if not any(ex_jobs.contains(j) for j in jobs):
                continue
            values = sql.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    yield m.name(), v.get()


def task_stats(task_ms: list[float]) -> dict:
    """p50, p90 and max/median of per-task run time, in seconds."""
    if not task_ms:
        return {"task_s_p50": 0.0, "task_s_p90": 0.0, "task_skew": 0.0}
    ms = sorted(task_ms)
    p50 = statistics.median(ms)
    p90 = ms[min(len(ms) - 1, int(0.9 * len(ms)))]
    return {
        "task_s_p50": p50 / 1e3,
        "task_s_p90": p90 / 1e3,
        "task_skew": ms[-1] / p50 if p50 else 0.0,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every live process started, directly or not, by this one."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_pids() -> list[int]:
    """Spark's Python daemon and the workers it forks, among this
    process's descendants."""
    return [p for p in descendants() if "pyspark.daemon" in _cmdline(p)]


def peak_rss_mb(pids: list[int]) -> float:
    """Highest ``VmHWM`` (peak resident set) among ``pids``, in MB."""
    best = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
                        break
        except OSError:
            continue  # the worker exited between listing and reading
    return best
