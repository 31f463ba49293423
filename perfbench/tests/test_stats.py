"""Percentile and sample-count rule."""

from __future__ import annotations

import statistics

import pytest

from perfbench.stats import percentile, tail_percentile


def test_percentile_matches_inclusive_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(q2)
    assert percentile(xs, 75) == pytest.approx(q3)
    assert percentile(list(range(101)), 90) == 90


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n,q", [
    (0, None), (19, None),     # fewer than 10 samples beyond the median
    (20, 50), (99, 50),        # p90 needs 100 samples
    (100, 90), (999, 90),
    (1000, 99), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q
