"""Event-log parser on a small captured log.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log of a local[2]
session, trimmed to the fields the parser reads: one job without a job
group, two jobs tagged ``g.shuffle`` (an AQE shuffle: the second job
lists the first job's map stage again as a skipped stage) and one job
tagged ``g.scan``. One killed ``g.scan`` task without metrics was added
by hand.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def parsed():
    return eventlog.parse_file(LOG)


def test_jobs_without_a_group_are_ignored():
    assert set(parsed()) == {"g.shuffle", "g.scan"}


def test_stages_map_to_the_group_of_the_job_that_ran_them():
    groups = parsed()
    # stage 4 is job 3's skipped copy of stage 3: no tasks, not counted
    assert groups["g.shuffle"].stages == {3, 5}
    assert groups["g.shuffle"].jobs == 2
    assert groups["g.scan"].stages == {6}
    assert groups["g.scan"].jobs == 1


def test_task_end_fields():
    c = parsed()["g.shuffle"]
    assert c.tasks == 3
    assert c.tasks_without_metrics == 0
    assert c.gc_ms == 34 + 34
    assert c.shuffle_write_bytes == 182 + 182
    assert c.spill_bytes == 0
    assert c.peak_exec_bytes == 8650736
    assert sorted(c.task_ms) == [84, 284, 285]


def test_a_task_without_metrics_counts_only_as_a_task():
    c = parsed()["g.scan"]
    assert c.tasks == 3
    assert c.tasks_without_metrics == 1
    assert sorted(c.task_ms) == [10, 66, 75]


def test_job_intervals_and_covered_time():
    c = parsed()["g.shuffle"]
    assert sorted(c.job_intervals) == [
        (1792237631676, 1792237631990),
        (1792237632252, 1792237632377),
    ]
    assert c.covered_ms(1792237631600, 1792237632400) == 314 + 125
    # clipped to the span, overlaps counted once
    c = eventlog.Counters(job_intervals=[(0, 100), (50, 150), (300, 400)])
    assert c.covered_ms(20, 350) == 130 + 50


def test_combine_and_skew():
    groups = parsed()
    both = eventlog.combine(groups, ["g.shuffle", "g.scan", "g.absent"])
    assert both.tasks == 6
    assert both.jobs == 3
    assert both.stages == {3, 5, 6}
    assert both.peak_exec_bytes == 8650736
    assert groups["g.shuffle"].task_skew() == 285 / 284
    assert eventlog.Counters().task_skew() == 0.0
