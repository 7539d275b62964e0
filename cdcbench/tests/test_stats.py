import statistics

from cdcbench.stats import (median, min_samples_for, percentile,
                            tail_metrics, tail_percentile)


def test_p95_needs_200_samples_and_p90_needs_100():
    assert min_samples_for(0.95) == 200
    assert min_samples_for(0.90) == 100
    assert min_samples_for(0.50) == 20


def test_p95_is_omitted_not_guessed_below_200_samples():
    xs = [float(i) for i in range(199)]
    assert tail_percentile(xs, 0.95) is None
    xs.append(199.0)
    assert tail_percentile(xs, 0.95) == percentile(xs, 0.95)


def test_tail_metrics_reports_only_supported_percentiles():
    assert tail_metrics([1.0] * 199, [2.0] * 99) == {}
    out = tail_metrics([1.0] * 200, [2.0] * 100)
    assert out == {"commit_ms_p95": (1.0, "ms"), "lookup_ms_p90": (2.0, "ms")}
    assert set(tail_metrics([1.0] * 250, [2.0] * 10)) == {"commit_ms_p95"}


def test_percentile_interpolates_linearly():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0.0) == 1.0
    assert percentile(xs, 1.0) == 4.0
    assert percentile(xs, 0.5) == 2.5
    assert median([5.0, 1.0, 3.0]) == statistics.median([5.0, 1.0, 3.0])
    # numpy's default (linear) method: rank q * (n - 1)
    assert percentile([10.0, 20.0, 30.0, 40.0, 50.0], 0.95) == 48.0
