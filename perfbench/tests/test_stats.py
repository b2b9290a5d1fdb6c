"""A reported percentile needs at least ten samples beyond it."""

import pytest

import stats


@pytest.mark.parametrize("q,need", [(50, 20), (90, 100), (99, 1000)])
def test_percentile_needs_ten_samples_beyond(q, need):
    assert stats.supported(need, q)
    assert not stats.supported(need - 1, q)
    stats.percentile(range(need), q)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(range(need - 1), q)


def test_weights_count_as_samples():
    # 4 batches of 250 events: 1,000 samples support p99
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 99, [250] * 4) == pytest.approx(4.0)
    with pytest.raises(stats.TooFewSamples):
        stats.percentile([1.0, 2.0, 3.0, 4.0], 99, [249] * 4)


def test_median_and_interpolation():
    assert stats.median([3, 1, 2]) == 2
    assert stats.percentile(range(101), 90) == pytest.approx(90.0)
    with pytest.raises(stats.TooFewSamples):
        stats.median([])
