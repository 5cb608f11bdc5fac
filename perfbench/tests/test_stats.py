"""The reporting rule: median plus the highest percentile that still has
at least ten samples beyond it, and none when there are too few."""

import pytest

from perfbench.stats import percentile, summarize, tail_percentile, timing, union_length


@pytest.mark.parametrize(
    "n, want",
    [
        (0, None),
        (10, None),
        (39, None),  # p75 is rank 30: only 9 beyond
        (40, 75.0),  # p75 is rank 30: 10 beyond
        (99, 75.0),  # p90 is rank 90: 9 beyond
        (100, 90.0),
        (199, 90.0),  # p95 is rank 190: 9 beyond
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_needs_ten_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_is_an_observed_sample():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values[::-1], 90) == 90
    assert percentile([7.0], 99.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_tail_only_when_supported():
    small = summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}
    big = summarize([float(i) for i in range(100)])
    assert big["p50"] == 49.5 and big["tail_p"] == 90.0 and big["tail"] == 89.0


def test_timing_entry_names_its_percentile():
    entry = timing([float(i) for i in range(40)], "ms")
    assert entry == {"value": 19.5, "unit": "ms", "n": 40, "p75": 29.0}
    assert timing([1.0, 2.0], "s") == {"value": 1.5, "unit": "s", "n": 2}


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0
