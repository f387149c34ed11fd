"""Reader for an uncompressed Spark event log (one JSON event per line).

Totals are grouped by the job group the benchmark set around each call
(``SparkContext.setJobGroup``); tasks are attributed to a group through
the stage -> job -> group chain recorded in ``SparkListenerJobStart``.

Memory is taken from records that repeat run to run, not from the
heartbeat-sampled executor metrics:

* execution memory: per stage, the sum of the ``slots`` largest per-task
  ``Peak Execution Memory`` values (what the stage's concurrently running
  tasks can hold at once); the peak is the largest stage value;
* storage memory: the running total of in-memory RDD block sizes from
  ``SparkListenerBlockUpdated`` (needs
  ``spark.eventLog.logBlockUpdates.enabled``), each block counted against
  the group that stored it; broadcast blocks are left out because the
  context cleaner frees them at GC-dependent times.

The log must be a single file (``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    exec_mem_peak_bytes: int = 0
    storage_mem_peak_bytes: int = 0
    task_durations: list[float] = field(default_factory=list)
    # (call site, seconds) of every job, in submission order
    job_times: list[tuple[str, float]] = field(default_factory=list)

    @property
    def task_tail(self) -> float:
        """Longest task over the median task (1.0 when there is no task)."""
        if not self.task_durations:
            return 1.0
        d = sorted(self.task_durations)
        median = d[len(d) // 2] if len(d) % 2 else (d[len(d) // 2 - 1] + d[len(d) // 2]) / 2
        return d[-1] / median if median > 0 else 1.0


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def group_totals(events, slots: int) -> dict[str, GroupTotals]:
    """Per-job-group totals; jobs outside any group land under ``""``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stage_task_peaks: dict[int, list[int]] = defaultdict(list)
    stored: dict[str, tuple[str, int]] = {}
    stored_by_group: dict[str, int] = defaultdict(int)
    current_group = ""
    job_start: dict[int, tuple[str, str, int]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            current_group = group
            totals[group].jobs += 1
            site = (ev.get("Properties") or {}).get("callSite.short", "")
            job_start[ev["Job ID"]] = (group, site, ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            group, site, t0 = job_start.pop(ev["Job ID"])
            totals[group].job_times.append((site, (ev.get("Completion Time", t0) - t0) / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"], "")
            totals[group].stages += 1
            peaks = sorted(stage_task_peaks.pop(info["Stage ID"], []), reverse=True)
            t = totals[group]
            t.exec_mem_peak_bytes = max(t.exec_mem_peak_bytes, sum(peaks[:slots]))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            t = totals[group]
            t.tasks += 1
            info = ev.get("Task Info", {})
            if info.get("Failed"):
                t.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            t.task_s += run_s
            t.task_durations.append(run_s)
            t.gc_s += m.get("JVM GC Time", 0) / 1000.0
            t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            stage_task_peaks[ev["Stage ID"]].append(m.get("Peak Execution Memory", 0))
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            block = info["Block ID"]
            if not block.startswith("rdd_"):
                continue
            level = info["Storage Level"]
            # a removal is logged with replication 0 (the size is kept)
            kept = level.get("Use Memory", False) and level.get("Replication", 1) > 0
            size = info.get("Memory Size", 0) if kept else 0
            # a block counts against the group that stored it, so a late
            # eviction of an earlier call's cache never lands in this one
            group, old = stored.pop(block, (current_group, 0))
            stored_by_group[group] += size - old
            if size:
                stored[block] = (group, size)
            t = totals[group]
            t.storage_mem_peak_bytes = max(t.storage_mem_peak_bytes, stored_by_group[group])
    return dict(totals)


def merge(parts: list[GroupTotals]) -> GroupTotals:
    """One total over several groups (e.g. every span of a traced call)."""
    out = GroupTotals()
    for p in parts:
        out.jobs += p.jobs
        out.stages += p.stages
        out.tasks += p.tasks
        out.failed_tasks += p.failed_tasks
        out.task_s += p.task_s
        out.gc_s += p.gc_s
        out.shuffle_write_bytes += p.shuffle_write_bytes
        out.spill_bytes += p.spill_bytes
        out.exec_mem_peak_bytes = max(out.exec_mem_peak_bytes, p.exec_mem_peak_bytes)
        out.storage_mem_peak_bytes = max(out.storage_mem_peak_bytes, p.storage_mem_peak_bytes)
        out.task_durations.extend(p.task_durations)
        out.job_times.extend(p.job_times)
    return out
