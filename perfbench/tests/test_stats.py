"""The tail rule: the highest rank with at least ten samples above it."""

import pytest

from stats import TAIL_BEYOND, median, tail


def test_tail_rank_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
    xs = xs[::2] + xs[1::2]
    t = tail(xs)
    assert t["rank"] == 90 and t["n"] == 100
    assert t["value"] == 90.0
    assert t["percentile"] == 90.0
    assert sum(1 for x in xs if x > t["value"]) == TAIL_BEYOND


def test_tail_with_eleven_samples_is_the_minimum():
    xs = [5.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 10.0, 11.0]
    t = tail(xs)
    assert (t["rank"], t["value"]) == (1, 1.0)


def test_tail_counts_ties_by_position():
    xs = [1.0] * 15
    t = tail(xs)
    assert t["rank"] == 5 and t["value"] == 1.0


@pytest.mark.parametrize("n", [0, 1, TAIL_BEYOND])
def test_tail_refuses_too_few_samples(n):
    with pytest.raises(ValueError):
        tail([1.0] * n)


def test_median_even_count_averages_middle_pair():
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
