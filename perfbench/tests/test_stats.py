"""The tail rule: the highest percentile with at least ten samples beyond it."""

from perfbench.stats import median, tail


def test_tail_needs_more_samples_than_beyond():
    assert tail(range(10)) is None
    value, pct, n = tail(range(11))
    assert (value, n) == (0, 11)
    assert abs(pct - 100 / 11) < 1e-12


def test_tail_leaves_exactly_ten_samples_above():
    values = [float(v) for v in range(1, 101)]
    value, pct, n = tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for v in values if v > value) == 10


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail(values) == tail(sorted(values))
    assert tail(values, beyond=3)[0] == 9.0


def test_median():
    assert median([3, 1, 2]) == 2.0
    assert median([4.0, 1.0]) == 2.5
