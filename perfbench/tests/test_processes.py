"""The wait for the processes a run started: nothing may outlive the run."""

import os
import subprocess
import sys

from perfbench.trace import descendants, wait_ended


def _spawn(code: str) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", code])


def test_descendants_include_grandchildren():
    # the child starts a grandchild, prints its pid and waits for it
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys; p = subprocess.Popen(['sleep', '30']);"
         " print(p.pid, flush=True); p.wait()"],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        grandchild = int(child.stdout.readline())
        pids = {p for p, _start in descendants(os.getpid())}
        assert {child.pid, grandchild} <= pids
    finally:
        os.kill(grandchild, 9)
        child.kill()
        child.wait()


def test_wait_ended_kills_what_outlives_the_timeout():
    proc = _spawn("import time; time.sleep(60)")
    started = [(p, s) for p, s in descendants(os.getpid()) if p == proc.pid]
    assert started
    assert wait_ended(started, timeout=0.2) == [proc.pid]
    assert not os.path.exists(f"/proc/{proc.pid}")  # killed and reaped


def test_wait_ended_waits_for_zombies_to_be_reaped():
    proc = _spawn("pass")
    started = [(p, s) for p, s in descendants(os.getpid()) if p == proc.pid]
    assert started
    assert wait_ended(started, timeout=5) == []  # reaps its own zombie child
    assert not os.path.exists(f"/proc/{proc.pid}")
