"""Counters from Spark's status store, read between calls, never inside.

Jobs and stages are identified by id; a window's counters are the sums over
the jobs and stages that appeared since a snapshot.  All of this works with
``spark.ui.enabled=false``.  Task skew comes from per-task run times of the
stages in the window.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from pathlib import Path

STAGE_FIELDS = {
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "input_bytes": lambda s: s.inputBytes(),
    "output_bytes": lambda s: s.outputBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "gc_ms": lambda s: s.jvmGcTime(),
}


def _java_list(spark, seq) -> list:
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _newer(spark, seq, key, floor: int) -> list:
    """The head of a status-store list whose ``key`` is above ``floor``.
    The store lists jobs and stages newest first, so only the new entries
    cross the Py4J bridge, however long the history is."""
    items = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
    out = []
    for i in range(items.size()):
        item = items.get(i)
        if key(item) <= floor:
            break
        out.append(item)
    return out


def _jobs(spark, floor: int = -1) -> list:
    return _newer(spark, _store(spark).jobsList(None), lambda j: j.jobId(), floor)


def _stages(spark, floor: int = -1) -> list:
    jvm = spark._jvm
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    seq = _store(spark).stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    return _newer(spark, seq, lambda s: s.stageId(), floor)


class Snapshot:
    """The newest job and stage ids at one moment."""

    def __init__(self, spark):
        self.spark = spark
        self.job = max((j.jobId() for j in _jobs(spark)[:1]), default=-1)
        self.stage = max((s.stageId() for s in _stages(spark)[:1]), default=-1)

    def diff(self, skew: bool = False) -> dict[str, float]:
        """Counters of the jobs and stages that appeared since this snapshot.
        ``skew`` adds ``task_max_over_median``: the largest ratio of the
        slowest task's run time to the median task's over new stages with at
        least two tasks (1.0 when no stage qualifies), and
        ``shuffle_task_max_over_median``, the same over stages that read a
        shuffle."""
        spark = self.spark
        jobs = _jobs(spark, self.job)
        stages = _stages(spark, self.stage)
        out: dict[str, float] = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "failed_tasks": sum(s.numFailedTasks() for s in stages),
        }
        for name, get in STAGE_FIELDS.items():
            out[name] = float(sum(get(s) for s in stages))
        if skew:
            multi = [s for s in stages if s.numCompleteTasks() > 1]
            ratios = {(s.stageId(), s.attemptId()): _stage_skew(spark, s) for s in multi}
            out["task_max_over_median"] = max(ratios.values(), default=1.0)
            out["shuffle_task_max_over_median"] = max(
                [ratios[(s.stageId(), s.attemptId())] for s in multi
                 if s.shuffleReadBytes() > 0],
                default=1.0,
            )
        return out


def _stage_skew(spark, stage) -> float:
    tasks = _java_list(
        spark, _store(spark).taskList(stage.stageId(), stage.attemptId(), 100_000)
    )
    runs = [t.taskMetrics().get().executorRunTime() for t in tasks
            if t.taskMetrics().isDefined()]
    med = statistics.median(runs) if len(runs) > 1 else 0
    return max(runs) / med if med > 0 else 1.0


def _parents() -> dict[int, int]:
    out = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            text = stat.read_text()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it do not
        out[int(stat.parent.name)] = int(text[text.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> set[int]:
    """Every live process below ``root``."""
    parents = _parents()
    tree, grew = {root}, True
    while grew:
        new = {pid for pid, ppid in parents.items() if ppid in tree} - tree
        tree |= new
        grew = bool(new)
    return tree - {root}


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every process below it (the driver
    JVM and its Python workers are children of the benchmark process)."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmRSS:"):
                    total += int(line.split()[1]) * 1024
                    break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory in a background thread
    and keeps the peak; ``reset`` starts a new window."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            time.sleep(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak = tree_rss_bytes(os.getpid())

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
