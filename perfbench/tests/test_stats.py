"""The reporting rule: median plus the highest percentile with at least
ten samples beyond it."""

import pytest

from perfbench.stats import median, percentile, summarize, tail


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(19))) is None  # 19 * 0.5 = 9.5 beyond p50
    p, v = tail(list(range(20)))
    assert p == 50.0 and v == pytest.approx(9.5)


@pytest.mark.parametrize(
    "n,p",
    [(40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
     (1000, 99.0), (10_000, 99.9)],
)
def test_tail_picks_highest_percentile(n, p):
    got, _ = tail([float(i) for i in range(n)])
    assert got == p


def test_summarize_reports_count_and_omits_tail_when_too_few():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"median": 2.0, "n": 3}


def test_percentile_interpolates():
    assert percentile([0.0, 10.0], 50) == 5.0
    assert percentile([4.0], 99) == 4.0
    assert median([1.0, 5.0, 2.0, 8.0]) == 3.5

