import pytest

import stats


def test_tail_needs_twenty_samples():
    assert stats.tail([1.0] * 19) is None


def test_tail_at_twenty_is_the_median_rank():
    values = [float(v) for v in range(20, 0, -1)]  # unsorted on purpose
    pct, value = stats.tail(values)
    assert pct == 50.0
    assert value == 10.0
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("n", [20, 37, 100, 1000])
def test_tail_leaves_exactly_ten_beyond(n):
    values = [float(v) for v in range(n)]
    pct, value = stats.tail(values)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_a_hundred_is_p90():
    pct, value = stats.tail([float(v) for v in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)
