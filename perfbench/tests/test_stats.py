"""Arithmetic the benchmark reports. Run: python3 -m pytest perfbench/tests -q"""

import math

import pytest

from perfbench import stats
from perfbench.common import READ, WRITE, Op, OpLog, summarize


def test_median_odd_even():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_needs_ten_samples_beyond():
    vals = list(range(1, 101))  # 100 samples
    pct, value, n = stats.tail(vals)
    # p90 leaves 10 samples above it; p95 would leave only 5
    assert (pct, value, n) == (90.0, 90.0, 100)
    assert stats.tail(list(range(15))) is None  # p50 leaves 7 beyond
    pct, _, _ = stats.tail(list(range(20)))
    assert pct == 50.0
    pct, value, _ = stats.tail(list(range(1, 1001)))
    assert (pct, value) == (99.0, 990.0)


def test_geomean():
    assert stats.geomean([1, 100]) == pytest.approx(10.0)
    assert stats.geomean([2, 8, 4]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1, 0])


def test_self_time_subtracts_union_of_children():
    # children overlap each other and stick out of the parent on the right
    kids = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert stats.covered(kids, 0.0, 10.0) == pytest.approx(4.0)
    assert stats.self_time(0.0, 10.0, kids) == pytest.approx(6.0)
    assert stats.self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert stats.self_time(5.0, 6.0, [(0.0, 100.0)]) == pytest.approx(0.0)


def test_space_amp():
    assert stats.space_amp(300, 100) == 3.0
    with pytest.raises(ValueError):
        stats.space_amp(1, 0)


def test_summarize_counts_failures_and_checks():
    log = OpLog()
    log.add(Op(READ, "load", 0.0, 0.010))
    log.add(Op(READ, "load", 0.0, 0.030))
    log.add(Op(WRITE, "commit", 0.0, 0.100))
    log.add(Op(WRITE, "commit", 0.0, 0.5, ok=False))
    log.fail_check("lost a commit")
    out = summarize(log, wall_s=2.0)
    assert out["ops_per_s"] == 1.5  # 3 completed ops in 2 s
    assert out["read_p50_ms"] == pytest.approx(20.0)
    assert out["write_p50_ms"] == pytest.approx(100.0)
    assert out["op_geomean_ms"] == pytest.approx(math.sqrt(20.0 * 100.0))
    assert log.failed == 2 and out["failed_ratio"] == 0.5
