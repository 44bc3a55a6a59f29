"""The percentile rule and self time."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_min_samples_leaves_ten_beyond():
    assert stats.min_samples(0.5) == 20
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.95) == 200
    assert stats.min_samples(0.99) == 1000


def test_percentile_refuses_too_few_samples():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(19)), 0.5)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 0.9)


def test_percentile_at_the_threshold():
    xs = list(range(1, 21))  # 20 samples: 10 lie above the median
    assert stats.percentile(xs, 0.5) == pytest.approx(10.5)
    assert sum(x > stats.percentile(xs, 0.5) for x in xs) == 10
    ys = list(range(100))
    p90 = stats.percentile(ys, 0.9)
    assert sum(y > p90 for y in ys) == 10


def test_median_needs_no_tail():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(stats.TooFewSamples):
        stats.median([])


def test_self_time_with_overlapping_children():
    # parent 0..10; children overlap each other (threads) and run past
    # the parent's end: covered = [1, 6] + [8, 10] = 7
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]) == pytest.approx(3.0)


def test_self_time_nested_and_disjoint_children():
    assert stats.self_time(0.0, 10.0, [(2.0, 8.0), (3.0, 4.0)]) == pytest.approx(4.0)
    assert stats.self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert stats.self_time(5.0, 6.0, [(0.0, 1.0), (7.0, 9.0)]) == pytest.approx(1.0)


def test_tracing_cost_weighs_kinds_by_their_count():
    # kind a: 3 samples, traced 2 s vs untraced 1 s; kind b: 1 + 1 samples
    # at 1 s each.  Untraced mix: 3*1 + 2*1 = 5 s; traced: 3*2 + 2*1 = 8 s.
    times = [("a", True, 2.0), ("a", False, 1.0), ("a", False, 1.0)]
    times += [("b", True, 1.0), ("b", False, 1.0)]
    assert stats.tracing_cost_pct(times) == pytest.approx((1 - 5 / 8) * 100)


def test_tracing_cost_leaves_out_one_sided_kinds():
    times = [("a", True, 1.0), ("a", False, 1.0), ("c", True, 9.0)]
    assert stats.tracing_cost_pct(times) == pytest.approx(0.0)
    with pytest.raises(stats.TooFewSamples):
        stats.tracing_cost_pct([("c", True, 9.0), ("d", False, 1.0)])
