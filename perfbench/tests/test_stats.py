from stats import MIN_BEYOND, median, percentile


def test_p90_needs_ten_samples_beyond_it():
    assert percentile(range(1, 100), 90) is None  # 9 samples beyond rank 90
    assert percentile(range(1, 101), 90) == 90.0  # exactly 10 beyond
    assert percentile(range(1, 201), 90) == 180.0


def test_p50_of_small_samples():
    assert percentile(range(1, 22), 50) == 11.0
    assert percentile([5.0] * (2 * MIN_BEYOND), 50) == 5.0
    assert percentile([], 50) is None
    assert median([3, 1, 2]) == 2.0
