"""Tests of the benchmark's metric math. Run from the checkout root:

    python3 -m pytest perfbench/test_metrics.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.metrics import (  # noqa: E402
    Span,
    failed_share,
    is_counted_py4j_command,
    median,
    nearest_rank,
    self_time,
    self_time_by_name,
    tail,
)


def test_tail_is_p90_with_100_samples():
    values = [float(i) for i in range(1, 101)]
    t = tail(values)
    assert (t.pct, t.value, t.beyond, t.n) == (90.0, 90.0, 10, 100)


def test_tail_keeps_ten_beyond_on_small_samples():
    values = [float(i) for i in range(40)]
    t = tail(values)
    assert t.pct == 75.0 and t.value == 29.0 and t.beyond == 10


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    assert tail([float(i) for i in range(11)]).beyond == 10


def test_tail_counts_only_strictly_greater_samples():
    # ties at the cut leave fewer than ten strictly beyond; the count says so
    t = tail([1.0] * 15 + [2.0] * 5)
    assert t.value == 1.0 and t.beyond == 5


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert tail(values) == tail(sorted(values))


def test_nearest_rank_and_median():
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    assert nearest_rank([1.0, 2.0, 3.0, 4.0], 90) == 4.0
    assert nearest_rank([7.0], 90) == 7.0
    assert median([1.0, 3.0]) == 2.0
    with pytest.raises(ValueError):
        median([])


def test_failed_share():
    assert failed_share(0, 25) == 0.0
    assert failed_share(1, 4) == 0.25
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(3, 2)


def test_py4j_filter_drops_only_memory_deletes():
    assert not is_counted_py4j_command("m\nd\no123\ne\n")
    assert is_counted_py4j_command("c\no0\ncount\ne\n")
    assert is_counted_py4j_command("m\nx\n")  # other memory subcommands count


def test_py4j_count_repeats_when_deletes_interleave():
    calls = ["c\no1\nfoo\ne\n", "r\nu\nFoo\ne\n", "c\no2\nbar\ne\n"]
    runs = [
        calls[:1] + ["m\nd\no9\ne\n"] + calls[1:],
        calls + ["m\nd\no3\ne\n", "m\nd\no4\ne\n"],
        calls,
    ]
    counts = {sum(map(is_counted_py4j_command, r)) for r in runs}
    assert counts == {3}


def _spans(*rows):
    return [Span(name, start, end, parent, "op1") for name, start, end, parent in rows]


def test_self_time_subtracts_children():
    spans = _spans(("op", 0.0, 10.0, None), ("build", 1.0, 4.0, 0), ("action", 5.0, 9.0, 0))
    assert self_time(spans, 0) == pytest.approx(3.0)
    assert self_time(spans, 1) == pytest.approx(3.0)


def test_self_time_counts_overlapping_children_once():
    spans = _spans(("op", 0.0, 10.0, None), ("a", 1.0, 6.0, 0), ("b", 4.0, 8.0, 0))
    assert self_time(spans, 0) == pytest.approx(3.0)


def test_self_time_clips_children_to_the_parent():
    spans = _spans(("op", 2.0, 6.0, None), ("late", 5.0, 9.0, 0))
    assert self_time(spans, 0) == pytest.approx(3.0)


def test_self_time_ignores_grandchildren():
    spans = _spans(("op", 0.0, 10.0, None), ("build", 0.0, 6.0, 0), ("io", 1.0, 3.0, 1))
    assert self_time(spans, 0) == pytest.approx(4.0)
    assert self_time_by_name(spans) == pytest.approx({"op": 4.0, "build": 4.0, "io": 2.0})
