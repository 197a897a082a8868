"""The stdlib event-log fold, on a small log captured from Spark 4.1
(an untagged parquet write, a tagged parquet scan and a tagged shuffle
aggregation; trimmed to the events and accumulables the fold reads)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(__file__))))

from perfbench import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(__file__), "data")


def _fold():
    return eventlog.fold(eventlog.read_events(LOG))


def test_jobs_and_tasks_per_group():
    groups, jobs = _fold()
    assert groups["scan"].jobs == 2  # footer listing job + the scan
    assert groups["shuffle"].jobs == 1
    assert groups[None].jobs == 1
    assert sum(g.jobs for g in groups.values()) == len(jobs) == 4
    # scan: 1 + 3 tasks; shuffle: a 3-task map stage + a 2-task reduce
    assert (groups["scan"].stages, groups["scan"].tasks) == (2, 4)
    assert (groups["shuffle"].stages, groups["shuffle"].tasks) == (2, 5)
    assert groups["shuffle"].executor_run_s == pytest.approx((295 + 97) / 1000)


def test_metric_folds():
    groups, _ = _fold()
    shuffle = groups["shuffle"]
    assert shuffle.shuffle_write_mb > 0
    assert groups["scan"].shuffle_write_mb == 0
    assert groups["scan"].input_mb > 0
    for g in groups.values():
        assert g.executor_run_s >= 0 and g.gc_s >= 0 and g.spill_mb >= 0


def test_jobs_in_time_windows():
    _, jobs = _fold()
    first = min(j.submit_ms for j in jobs)
    last = max(j.submit_ms for j in jobs)
    assert eventlog.jobs_in_windows(jobs, [(first, last), (last + 1, last + 2)]) == [4, 0]


def test_group_counters_add():
    a = eventlog.GroupCounters(jobs=1, tasks=2, executor_run_s=0.5)
    a.add(eventlog.GroupCounters(jobs=2, tasks=3, executor_run_s=0.25))
    assert (a.jobs, a.tasks) == (3, 5)
    assert a.executor_run_s == pytest.approx(0.75)


def test_foreign_groups_charged_by_submission_time():
    groups = {
        "q#0": eventlog.GroupCounters(jobs=1, tasks=1),
        "run-id": eventlog.GroupCounters(jobs=2, tasks=6),
        "late": eventlog.GroupCounters(jobs=1, tasks=1),
    }
    jobs = [
        eventlog.JobRecord("q#0", 100),
        eventlog.JobRecord("run-id", 150),
        eventlog.JobRecord("run-id", 250),
        eventlog.JobRecord("late", 900),
    ]
    out = eventlog.charge_by_time(groups, jobs, {"q#0": (100, 200)})
    assert (out["q#0"].jobs, out["q#0"].tasks) == (3, 7)
    assert "run-id" not in out
    assert out["late"].jobs == 1
