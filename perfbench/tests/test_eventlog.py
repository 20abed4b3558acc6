"""The event-log parser on a small recorded log, and the arithmetic of
the union of job intervals behind ``plans.driver_gap_s``."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_two_groups.jsonl")


@pytest.mark.parametrize(
    "intervals, covered",
    [
        ([], 0),
        ([(0, 10)], 10),
        ([(0, 10), (20, 25)], 15),  # disjoint
        ([(0, 10), (5, 15)], 15),  # overlapping
        ([(0, 10), (10, 12)], 12),  # touching
        ([(0, 30), (5, 10), (12, 20)], 30),  # nested
        ([(20, 25), (0, 10), (8, 21)], 25),  # unsorted, chained
    ],
)
def test_union_ms(intervals, covered):
    assert eventlog.union_ms(intervals) == covered


def test_skew():
    assert eventlog.skew([]) == 1.0
    assert eventlog.skew([40]) == 1.0
    assert eventlog.skew([10, 10, 30]) == 3.0
    assert eventlog.skew([0, 0, 5]) == 1.0


def test_parse_recorded_log():
    """The log holds job group ``op0:write`` (a one-job parquet write),
    ``op1:agg`` (a three-job read and aggregation, one of its stages
    skipped) and two jobs outside any group."""
    log = eventlog.parse(LOG)
    assert {j: (job.group, job.end_ms - job.start_ms) for j, job in log.jobs.items()} == {
        0: ("op0:write", 1783),
        1: ("op1:agg", 203),
        2: ("op1:agg", 950),
        3: ("op1:agg", 179),
        4: ("", 96),
        5: ("", 62),
    }
    write = eventlog.op_metrics(log, {"op0:write"}, wall_s=2.0)
    assert (write["plans.jobs"], write["plans.stages"], write["plans.tasks"]) == (1, 1, 4)
    assert write["plans.driver_gap_s"] == pytest.approx(2.0 - 1.783)
    assert write["operators.task_s"] == pytest.approx(4.297)
    assert write["operators.gc_s"] == pytest.approx(0.088)
    assert write["sources.input_mb"] == write["sources.scan_task_s"] == 0  # range, not a file
    assert write["operators.task_skew"] == pytest.approx(1383 / 1353.5)
    agg = eventlog.op_metrics(log, {"op1:agg"}, wall_s=2.0)
    assert (agg["plans.jobs"], agg["plans.stages"], agg["plans.tasks"]) == (3, 3, 6)
    assert agg["plans.driver_gap_s"] == pytest.approx(2.0 - (203 + 950 + 179) / 1e3)
    assert agg["sources.input_mb"] == pytest.approx(3108e-6)
    assert agg["sources.input_rows"] == 1000
    assert agg["sources.scan_task_s"] == pytest.approx(2.922)
    assert agg["operators.task_s"] == pytest.approx(3.109)
    assert agg["operators.shuffle_write_mb"] == agg["operators.shuffle_read_mb"] == pytest.approx(921e-6)
    both = eventlog.op_metrics(log, {"op0:write", "op1:agg"}, wall_s=3.0)
    assert both["plans.tasks"] == 10
    assert both["plans.driver_gap_s"] == 0.0  # jobs never cover more than the wall
