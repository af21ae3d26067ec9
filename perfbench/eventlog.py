"""Spark event log -> per-job-group task counters.

The traced run tags every layer call with ``setJobGroup(<span>)`` and
writes an uncompressed, non-rolling event log. ``SparkListenerJobStart``
carries the job group in its properties and lists the job's stages;
``SparkListenerTaskEnd`` carries each task's metrics and its stage id.
A stage belongs to the first job that lists it (later jobs list reused
stages as skipped ones, whose tasks never run again).
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Counters:
    jobs: int = 0
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    tasks_without_metrics: int = 0
    task_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_bytes: int = 0
    # (submission, completion) epoch ms of every finished job
    job_intervals: list[tuple[int, int]] = field(default_factory=list)

    def add(self, other: "Counters") -> None:
        self.jobs += other.jobs
        self.stages |= other.stages
        self.tasks += other.tasks
        self.tasks_without_metrics += other.tasks_without_metrics
        self.task_ms += other.task_ms
        self.gc_ms += other.gc_ms
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.peak_exec_bytes = max(self.peak_exec_bytes, other.peak_exec_bytes)
        self.job_intervals += other.job_intervals

    def task_skew(self) -> float:
        """Longest task over the median task (1.0 = no straggler)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med else 0.0

    def covered_ms(self, lo: float, hi: float) -> float:
        """Part of [lo, hi] during which at least one job ran."""
        spans = sorted(
            (max(a, lo), min(b, hi)) for a, b in self.job_intervals if b > lo and a < hi
        )
        total, end = 0.0, lo
        for a, b in spans:
            if b <= end:
                continue
            total += b - max(a, end)
            end = b
        return total


def _task(counters: Counters, stage_id: int, event: dict) -> None:
    counters.tasks += 1
    counters.stages.add(stage_id)
    info = event.get("Task Info") or {}
    if info.get("Finish Time") and info.get("Launch Time"):
        counters.task_ms.append(info["Finish Time"] - info["Launch Time"])
    m = event.get("Task Metrics")
    if not m:
        counters.tasks_without_metrics += 1
        return
    counters.gc_ms += m.get("JVM GC Time", 0)
    counters.spill_bytes += m.get("Disk Bytes Spilled", 0)
    counters.peak_exec_bytes = max(counters.peak_exec_bytes, m.get("Peak Execution Memory", 0))
    sw = m.get("Shuffle Write Metrics") or {}
    counters.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)


def parse_lines(lines) -> dict[str, Counters]:
    """Counters per job group; jobs without a group are ignored."""
    groups: dict[str, Counters] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            groups.setdefault(group, Counters()).jobs += 1
            job_start[ev["Job ID"]] = (group, ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            started = job_start.get(ev["Job ID"])
            if started is not None:
                group, t0 = started
                groups[group].job_intervals.append((t0, ev.get("Completion Time", t0)))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is not None:
                _task(groups[group], ev["Stage ID"], ev)
    return groups


def parse_file(path: str) -> dict[str, Counters]:
    with open(path, encoding="utf-8") as fh:
        return parse_lines(fh)


def combine(groups: dict[str, Counters], names) -> Counters:
    out = Counters()
    for name in names:
        if name in groups:
            out.add(groups[name])
    return out
