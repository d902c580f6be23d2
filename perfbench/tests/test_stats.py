import statistics

import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize("p", [0, 10, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(p):
    xs = [5.0, 1.0, 3.0, 2.0, 8.0, 13.0, 21.0]
    assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


@pytest.mark.parametrize("n, want", [(10, None), (11, 9), (20, 50), (40, 75),
                                     (100, 90), (1000, 99), (5000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    if p is not None:
        # at least ten of n samples lie above the p-th percentile rank
        assert n - n * p / 100 >= 10


def test_tail_reports_value_at_supported_percentile():
    xs = list(range(1, 101))
    p, v = stats.tail(xs)
    assert p == 90
    assert v == pytest.approx(np.percentile(xs, 90))
    assert stats.tail(xs[:10]) is None


def test_kind_median_weighs_each_kind_once():
    samples = {"a": [1.0, 2.0, 30.0], "b": [10.0, 10.0, 10.0, 10.0, 10.0]}
    assert stats.kind_median(samples) == pytest.approx((2.0 + 10.0) / 2)
    with pytest.raises(ValueError):
        stats.kind_median({"a": []})


def test_turns_per_s():
    assert stats.turns_per_s(400_000, 2.0) == 200_000
    with pytest.raises(ValueError):
        stats.turns_per_s(1, 0.0)


def test_iqr_share_uses_statistics_quantiles():
    xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.02, 0.98]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / q2)
