"""Output checks: a forced oracle mismatch must count as a failed op."""

import datetime
import os
import types

import pytest

from perfbench import oracle, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def check_oracle():
    return oracle.load_check_oracle(ROOT)


class Recorded(workloads.Workload):
    """A workload whose op outputs are given rows, checked like the real ones."""

    name = "recorded"

    def check_op(self, day_dir, out):
        got_cols, got, want_cols, want = out
        return self.checker.check(day_dir, got_cols, got, lambda: (want_cols, want))


def make(check_oracle, cache=None):
    engine = types.SimpleNamespace(plans=None, pipeline=None, check_oracle=check_oracle)
    return Recorded(engine, oracle.Checker(check_oracle.df_multiset, cache), work_dir="unused")


COLS = ["symbol", "date", "close_pr"]
ROWS = [("1", datetime.date(2001, 9, 1), 10.25), ("2", datetime.date(2001, 9, 1), 3.5)]


def test_matching_rows_in_any_order_and_column_order_pass(check_oracle):
    wl = make(check_oracle)
    swapped = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    wl.pending = [("day1", (COLS, ROWS, ["close_pr", "symbol", "date"], swapped))]
    assert wl.check() == (1, 0)
    assert wl.checker.mismatches == []


def test_forced_mismatch_counts_one_failed_op(check_oracle):
    wl = make(check_oracle)
    off_by_ulp = [ROWS[0], ("2", datetime.date(2001, 9, 1), 3.5000000000000004)]
    wl.pending = [
        ("day1", (COLS, ROWS, COLS, ROWS)),
        ("day2", (COLS, ROWS, COLS, off_by_ulp)),
        ("day3", (COLS, ROWS, COLS[:2], [r[:2] for r in ROWS])),
    ]
    checked, failed = wl.check()
    assert (checked, failed) == (3, 2)
    assert [m["why"] for m in wl.checker.mismatches] == ["rows", "columns"]
    assert wl.pending == []


def test_duplicate_rows_are_a_multiset_difference(check_oracle):
    wl = make(check_oracle)
    wl.pending = [("day1", (COLS, ROWS + ROWS[:1], COLS, ROWS))]
    assert wl.check() == (1, 1)


def test_cached_oracle_digest_still_catches_a_mismatch(check_oracle, tmp_path):
    checker = oracle.Checker(check_oracle.df_multiset, oracle.OracleCache(str(tmp_path)))
    key = oracle.OracleCache.key("input", "SELECT 1")
    calls = []

    def want():
        calls.append(1)
        return COLS, ROWS

    assert checker.check("first", COLS, ROWS, want, key)
    assert checker.check("hit", COLS, list(reversed(ROWS)), want, key)
    assert (len(calls), checker.cache_hits) == (1, 1)
    # a wrong output misses the cached digest, so the oracle runs and the
    # row-level comparison reports it
    wrong = [ROWS[0], ("2", datetime.date(2001, 9, 2), 3.5)]
    assert not checker.check("miss", COLS, wrong, want, key)
    assert len(calls) == 2 and checker.mismatches[-1]["check"] == "miss"
