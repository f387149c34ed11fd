"""Spark's task CPU time and memory accounting for one job group, read
from the live status store (no event log): the memory figures are the two
``eventlog.py`` derives, for runs where writing the event log would cost
more than the run's spread.

Call it after the group's jobs have finished and before the group's cache
is dropped: storage is what the group's cached RDDs hold at that moment,
which is their peak for a call that unpersists nothing midway.
"""

from __future__ import annotations


def _stages(sc, group: str) -> set[int]:
    tracker = sc.statusTracker()
    stage_ids = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    return stage_ids


def _task_metrics(sc, group: str):
    """Per stage of ``group``, the task metrics of its current attempt."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    for sid in _stages(sc, group):
        stage = tracker.getStageInfo(sid)
        if stage is None:
            continue
        tasks = store.taskList(sid, stage.currentAttemptId, 1 << 30)
        metrics = [tasks.apply(i).taskMetrics() for i in range(tasks.size())]
        yield [m.get() for m in metrics if m.isDefined()]


def task_cpu_seconds(sc, group: str) -> float:
    """CPU time of the tasks of ``group`` (their executorCpuTime)."""
    return sum(m.executorCpuTime() for stage in _task_metrics(sc, group) for m in stage) / 1e9


def memory_peak_bytes(sc, group: str, slots: int) -> tuple[int, int]:
    """(execution, storage) bytes of ``group``: execution is, per stage,
    the sum of the ``slots`` largest per-task peak execution memories, at
    the largest stage; storage is the memory held by cached RDDs."""
    exec_peak = 0
    for stage in _task_metrics(sc, group):
        peaks = sorted((m.peakExecutionMemory() for m in stage), reverse=True)
        exec_peak = max(exec_peak, sum(peaks[:slots]))
    rdds = sc._jsc.sc().statusStore().rddList(True)
    storage = sum(rdds.apply(i).memoryUsed() for i in range(rdds.size()))
    return exec_peak, storage
