"""Percentiles, sample-count rules and span arithmetic of the benchmark."""

import math
import statistics

import pytest

from perfbench.stats import (geomean, median, percentile, samples_beyond,
                             self_times, supports_percentile, union_length)


def test_percentile_matches_inclusive_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    for i, want in enumerate(q, start=1):
        assert percentile(xs, 10 * i) == pytest.approx(want)
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 10.0
    assert median(xs) == 4.0


def test_percentile_interpolates_and_rejects_bad_input():
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_samples_beyond_tail_percentiles():
    # rank 0.9 * 99 = 89.1 -> samples 90..99 lie beyond: ten of them
    assert samples_beyond(100, 90) == 10
    assert supports_percentile(100, 90)
    # n = 92: rank 0.9 * 91 = 81.9 -> samples 82..91 beyond; n = 91: nine
    assert supports_percentile(92, 90)
    assert not supports_percentile(91, 90)
    assert samples_beyond(0, 90) == 0
    # the query workload's 50 lookups: rank 0.8 * 49 = 39.2 -> ten beyond
    assert supports_percentile(50, 80) and not supports_percentile(50, 90)


def test_p50_needs_twenty_samples():
    assert supports_percentile(20, 50) and not supports_percentile(19, 50)


def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_union_length_counts_overlap_once_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 10)], clip=(2, 5)) == pytest.approx(3.0)
    assert union_length([(0, 1), (4, 5)], clip=(2, 3)) == 0.0
    assert union_length([]) == 0.0
    # nested and touching intervals
    assert union_length([(0, 4), (1, 2), (4, 6)]) == pytest.approx(6.0)


def span(sid, parent, start, end):
    return {"span_id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_child_coverage():
    spans = [span("root", None, 0.0, 10.0),
             span("a", "root", 1.0, 4.0),
             span("b", "root", 3.0, 6.0),      # overlaps a: 1..6 covered
             span("a1", "a", 1.5, 2.0),        # grandchild: only a's
             span("late", "root", 9.0, 12.0)]  # runs past root's end
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx(3.0 - 0.5)
    assert st["b"] == pytest.approx(3.0)
    assert st["a1"] == pytest.approx(0.5)
    assert st["late"] == pytest.approx(3.0)
    assert all(v >= 0 for v in st.values())


def test_self_time_of_leaf_is_its_duration():
    st = self_times([span("x", None, 2.0, 2.5)])
    assert math.isclose(st["x"], 0.5)
