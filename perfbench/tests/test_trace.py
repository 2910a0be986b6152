"""Span bookkeeping: self time on nested spans and the non-lexical spans."""

import random

import pytest

from perfbench.trace import Tracer, union_length


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_child_cover():
    clock = FakeClock()
    t = Tracer(clock)
    op = t.open("op", "op")           # 0 .. 10
    clock.now = 1.0
    a = t.open("a", "plans")          # 1 .. 4
    clock.now = 2.0
    with t.span("inner", "catalyst"):  # 2 .. 3
        clock.now = 3.0
    clock.now = 4.0
    t.close(a)
    clock.now = 6.0
    with t.span("b", "exec"):         # 6 .. 9
        clock.now = 9.0
    clock.now = 10.0
    t.close(op)
    assert t.self_time(op) == pytest.approx(10 - 3 - 3)
    assert t.self_time(a) == pytest.approx(3 - 1)
    assert t.layer_self_times() == pytest.approx(
        {"op": 4.0, "plans": 2.0, "catalyst": 1.0, "exec": 3.0})
    # self times partition the root span
    assert sum(t.layer_self_times().values()) == pytest.approx(10.0)


def test_closing_an_outer_span_closes_inner_ones():
    clock = FakeClock()
    t = Tracer(clock)
    op = t.open("op", "op")
    table = t.open("prices", "pipeline.table")
    t.open("write", "pipeline.write")
    clock.now = 2.0
    t.close(table)
    assert t.top() == op
    assert all(s.end == 2.0 for s in t.spans[1:])
    with pytest.raises(ValueError):
        t.close(table)


def test_total_counts_nested_same_layer_once():
    clock = FakeClock()
    t = Tracer(clock)
    with t.span("q1", "plans"):
        clock.now = 1.0
        with t.span("q0", "plans"):
            clock.now = 3.0
        clock.now = 4.0
    assert t.total("plans") == 4.0
    assert t.count("plans") == 2


def test_self_time_never_exceeds_span_on_random_trees():
    rng = random.Random(7)
    for _ in range(50):
        clock = FakeClock()
        t = Tracer(clock)
        for _ in range(40):
            clock.now += rng.random()
            if t.top() is not None and rng.random() < 0.45:
                t.close(t.top())
            else:
                t.open("s", rng.choice(["a", "b", "c"]))
        while t.top() is not None:
            clock.now += rng.random()
            t.close(t.top())
        for i, s in enumerate(t.spans):
            assert -1e-12 <= t.self_time(i) <= s.end - s.start + 1e-12
