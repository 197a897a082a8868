"""Fold an uncompressed Spark event log into per-group counters.

Spark writes one JSON object per line (``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false``). Jobs carry the caller's job group in
their ``Properties``; stages carry their task metrics as accumulables on
``SparkListenerStageCompleted``. This module maps stage -> job -> group
and sums, per group: jobs, stages, tasks, executor run time, shuffle
write, input, spill and GC. Standard library only.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, fields

#: accumulable name -> (counter field, scale to the reported unit)
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.input.bytesRead": ("input_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
}


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0

    def add(self, other: "GroupCounters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class JobRecord:
    group: str | None
    submit_ms: int


def _natural(name: str):
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name)]


def read_events(path: str):
    """Yield the events of one log file, or of every file under a log dir
    (Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` files next to
    an empty ``appstatus_`` marker and hidden ``.crc`` checksums)."""
    paths = [path]
    if os.path.isdir(path):
        paths = sorted(
            (
                os.path.join(d, f)
                for d, _, files in os.walk(path)
                for f in files
                if not f.startswith((".", "appstatus_"))
            ),
            key=_natural,
        )
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(events) -> tuple[dict[str | None, GroupCounters], list[JobRecord]]:
    """Per-job-group counters plus the job list (for time-window binning).

    A stage shared by two jobs is charged to the first job that listed it,
    so no executor time is counted twice. Stages that never completed
    (skipped) add no tasks or metrics."""
    jobs: list[JobRecord] = []
    stage_group: dict[int, str | None] = {}
    stage_done: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs.append(JobRecord(group, int(ev.get("Submission Time", 0))))
            for s in ev.get("Stage IDs", ()):
                stage_group.setdefault(int(s), group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = int(info["Stage ID"])
            # a retried attempt replaces the earlier one
            stage_done[key] = info
    out: dict[str | None, GroupCounters] = {}
    for job in jobs:
        out.setdefault(job.group, GroupCounters()).jobs += 1
    for sid, info in stage_done.items():
        c = out.setdefault(stage_group.get(sid), GroupCounters())
        c.stages += 1
        c.tasks += int(info.get("Number of Tasks", 0))
        for acc in info.get("Accumulables", ()):
            target = _ACCUMULABLES.get(acc.get("Name"))
            if target is None:
                continue
            name, scale = target
            setattr(c, name, getattr(c, name) + float(acc.get("Value", 0)) * scale)
    return out, jobs


def jobs_in_windows(jobs: list[JobRecord], windows: list[tuple[int, int]]) -> list[int]:
    """Count jobs submitted inside each [start_ms, end_ms] window."""
    return [
        sum(1 for j in jobs if start <= j.submit_ms <= end) for start, end in windows
    ]


def charge_by_time(
    groups: dict[str | None, GroupCounters],
    jobs: list[JobRecord],
    windows: dict[str, tuple[int, int]],
) -> dict[str | None, GroupCounters]:
    """Fold groups that are not keys of ``windows`` into the key whose
    [start_ms, end_ms] window holds the group's first job.

    A streaming query runs its micro-batch jobs under a job group of its
    own (the query's run id), not the caller's; this charges them to the
    caller's tag. Groups whose first job falls in no window stay apart."""
    first: dict[str | None, int] = {}
    for j in jobs:
        if j.group not in windows:
            first[j.group] = min(first.get(j.group, j.submit_ms), j.submit_ms)
    out: dict[str | None, GroupCounters] = {}
    for g, c in groups.items():
        owner = g
        if g in first:
            owner = next(
                (tag for tag, (a, b) in windows.items() if a <= first[g] <= b), g
            )
        out.setdefault(owner, GroupCounters()).add(c)
    return out
