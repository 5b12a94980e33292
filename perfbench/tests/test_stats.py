import pytest

import stats


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) is None
    assert stats.tail(list(range(11))) == (100.0 / 11, 0.0)


@pytest.mark.parametrize("n,pct", [(20, 50.0), (100, 90.0), (1000, 99.0)])
def test_tail_leaves_exactly_ten_beyond(n, pct):
    xs = [float(i) for i in range(n)][::-1]  # unsorted input
    got_pct, value = stats.tail(xs)
    assert got_pct == pytest.approx(pct)
    assert sum(x > value for x in xs) == 10
    assert value == stats.percentile(xs, pct)


def test_tail_with_ties_counts_positions():
    xs = [1.0] * 15 + [5.0] * 10
    assert stats.tail(xs) == (60.0, 1.0)


def test_percentile_is_nearest_rank():
    xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    assert stats.percentile(xs, 50) == 5
    assert stats.percentile(xs, 90) == 9
    assert stats.percentile(xs, 100) == 10
