import math

import pytest

from perfbench.stats import quartile_spread, tail, tail_percentile


@pytest.mark.parametrize("n,p", [(100, 90), (200, 95), (22, 54), (11, 9), (1000, 99)])
def test_tail_percentile_known_values(n, p):
    assert tail_percentile(n) == p


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_no_tail_without_more_than_ten_samples(n):
    assert tail_percentile(n) is None
    assert tail(list(range(n))) is None


@pytest.mark.parametrize("n", range(11, 400))
def test_tail_percentile_is_the_highest_with_ten_beyond(n):
    p = tail_percentile(n)
    assert n - math.ceil(p * n / 100) >= 10
    assert p == 100 or n - math.ceil((p + 1) * n / 100) < 10


def test_tail_value_is_nearest_rank():
    xs = [float(i) for i in range(100, 0, -1)]  # unsorted input
    p, v = tail(xs)
    assert (p, v) == (90, 90.0)
    assert sum(x > v for x in xs) == 10


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    vals = [9.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 11.0]
    assert quartile_spread(vals) == 0.0
    # exclusive-method quartiles of 1..4 are 1.25 and 3.75, median 2.5
    assert quartile_spread([1.0, 2.0, 3.0, 4.0]) == pytest.approx(1.0)
