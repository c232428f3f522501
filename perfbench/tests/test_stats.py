import math

import pytest

from perfbench import stats


@pytest.mark.parametrize("n", [20, 21, 30, 45, 100, 101, 250, 1000, 1001])
def test_tail_percentile_keeps_ten_samples_beyond_and_is_highest(n):
    pct = stats.tail_percentile(n)

    def beyond(p):
        return n - math.ceil(p * n / 100)

    assert beyond(pct) >= 10
    assert pct == 99 or beyond(pct + 1) < 10


def test_tail_percentile_examples():
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(30) == 66
    assert stats.tail_percentile(1000) == 99


@pytest.mark.parametrize("n", [1, 2, 10, 15, 19])
def test_too_few_samples_fall_back_to_the_median(n):
    assert stats.tail_percentile(n) == 50


def test_tail_value_is_the_nearest_rank_sample():
    values = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.tail(values) == (90.0, 90)
    assert stats.nearest_rank(values, 50) == 50.0


def test_iqr_share():
    assert stats.iqr_share([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.iqr_share([1, 2, 3, 4, 5]) == pytest.approx(
        (4.5 - 1.5) / 3
    )
