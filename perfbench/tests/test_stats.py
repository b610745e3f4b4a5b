"""Tests of the benchmark's percentile helper."""
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import percentile, spread  # noqa: E402


def test_p90_refused_with_fewer_than_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)


def test_p90_with_ten_samples_beyond_it():
    xs = list(range(100))
    assert percentile(xs, 0.9) == 89
    assert sum(1 for x in xs if x > percentile(xs, 0.9)) == 10


def test_p50_needs_twenty_samples():
    with pytest.raises(ValueError):
        percentile([1.0] * 19, 0.5)
    assert percentile([float(x) for x in range(20)], 0.5) == 9.0


def test_spread_is_iqr_over_median():
    assert spread([1.0] * 10) == 0.0
    assert spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) > 0
