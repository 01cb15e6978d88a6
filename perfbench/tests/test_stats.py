"""The op_tail_s rule: the highest percentile with >= 10 samples beyond it."""

import pytest

from stats import tail


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(30, 0, -1)]  # 1..30, unsorted
    value, pct = tail(samples)
    assert value == 20.0
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_smallest_sample_count():
    value, pct = tail([5.0, 1.0, 4.0, 3.0, 2.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0])
    assert (value, pct) == (1.0, pytest.approx(100 / 11))


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)
