"""Event-log parsing on a small log recorded from a Spark run: one job with
a shuffle and an applyInPandas stage."""

import os

from perfbench.trace import parse_event_log

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")


def lines():
    with open(LOG) as fh:
        return fh.readlines()


def test_window_around_everything_counts_all_jobs():
    out = parse_event_log(lines(), [(0, 2**62)])
    assert out["jobs"] == 1
    assert out["stages"] == 2
    assert out["tasks"] == 5
    assert out["pandas_stages"] == 1
    assert out["shuffle_write_bytes"] > 0
    assert out["shuffle_read_bytes"] == out["shuffle_write_bytes"]
    assert out["pandas_bytes_sent"] > 0 and out["pandas_bytes_returned"] > 0
    assert 0 < out["pandas_stage_s"] <= out["job_wall_s"]
    assert out["task_run_s"] > 0


def test_jobs_outside_the_windows_are_ignored():
    out = parse_event_log(lines(), [(0, 1)])
    assert out["jobs"] == out["stages"] == out["tasks"] == 0
    assert out["job_wall_s"] == 0 and out["task_run_s"] == 0
