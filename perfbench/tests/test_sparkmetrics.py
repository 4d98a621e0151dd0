"""Unit tests for the SQL-metric string parser and the span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.sparkmetrics import parse_metric, parse_quantity  # noqa: E402
from perfbench.tracing import Span, attach, self_times, union_len  # noqa: E402


@pytest.mark.parametrize("text, value", [
    ("11 ms", 0.011),
    ("0 ms", 0.0),
    ("1.2 s", 1.2),
    ("2.5 m", 150.0),
    ("1.50 h", 5400.0),
    ("5,000", 5000.0),
    ("1,234,567", 1234567.0),
    ("8", 8.0),
    ("0.0 B", 0.0),
    ("416.0 B", 416.0),
    ("1869.3 KiB", 1869.3 * 1024),
    ("2.7 MiB", 2.7 * 1024 ** 2),
    ("1.5 GiB", 1.5 * 1024 ** 3),
])
def test_single_values(text, value):
    assert parse_quantity(text) == pytest.approx(value)
    m = parse_metric(text)
    assert m.total == pytest.approx(value)
    assert m.min is None and m.stage_id is None


def test_task_distribution_with_total():
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "1.2 s (230 ms, 244 ms, 274 ms (stage 161.0: task 3))")
    assert m.total == pytest.approx(1.2)
    assert (m.min, m.med, m.max) == pytest.approx((0.23, 0.244, 0.274))
    assert (m.stage_id, m.stage_attempt, m.task_id) == (161, 0, 3)


def test_size_distribution():
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "678.6 KiB (164.1 KiB, 171.1 KiB, 174.0 KiB "
                     "(stage 128.0: task 267))")
    assert m.total == pytest.approx(678.6 * 1024)
    assert m.max == pytest.approx(174.0 * 1024)
    assert (m.stage_id, m.task_id) == (128, 267)


def test_stage_attempt_is_kept():
    m = parse_metric("total (min, med, max (stageId: taskId))\n"
                     "3 ms (0 ms, 1 ms, 2 ms (stage 7.2: task 40))")
    assert (m.stage_id, m.stage_attempt, m.task_id) == (7, 2, 40)


def test_average_form_has_no_total():
    m = parse_metric("(min, med, max (stageId: taskId)):\n"
                     "(1, 1, 1 (stage 128.0: task 267))")
    assert m.total is None
    assert (m.min, m.med, m.max) == (1.0, 1.0, 1.0)
    assert m.stage_id == 128


@pytest.mark.parametrize("bad", ["", "fast", "12 parsecs",
                                 "total (min, med, max)\n1 s (2 s)"])
def test_rejects_malformed(bad):
    with pytest.raises(ValueError):
        parse_metric(bad)


def test_union_len_merges_overlaps_and_clips():
    assert union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert union_len([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2)
    assert union_len([], 0, 10) == 0


class _Exec:
    def __init__(self, start, end):
        self.start_ms, self.end_ms = start * 1000, end * 1000


def test_self_times_sum_to_root_wall():
    spans = [Span(0, "pass", 0.0, 10.0, None, "r"),
             Span(1, "a", 1.0, 6.0, 0, "r"),
             Span(2, "b", 2.0, 3.0, 1, "r")]
    execs = [_Exec(2.2, 2.8), _Exec(4.0, 5.0), _Exec(7.0, 9.0)]
    att = attach(spans, execs)
    assert [p for _, p in att] == [2, 1, 0]
    selfs = self_times(spans, att)
    assert selfs == pytest.approx({0: 3.0, 1: 3.0, 2: 0.4})
    leaf = sum((e.end_ms - e.start_ms) / 1e3 for e, _ in att)
    assert sum(selfs.values()) + leaf == pytest.approx(spans[0].dur)
