"""Tracing for the traced run, the process-memory sampler and the wait for
the processes a run started.

Everything here observes the engine from outside: spans are recorded around
calls the benchmark makes (or patches in for the duration of a traced op),
stage/task metrics come from Spark's own event log, streaming phases from a
``StreamingQueryListener``, and memory from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import threading
import time
from dataclasses import dataclass


# --- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None


class Tracer:
    """Spans kept in memory: name, layer, start, end and the index of the
    enclosing span. ``open``/``close`` allow spans that do not nest
    lexically in the caller (the per-table spans of the daily batch)."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, self.clock(), None, parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        while self._stack:  # closing a span closes any left open inside it
            top = self._stack.pop()
            self.spans[top].end = self.clock()
            if top == idx:
                return
        raise ValueError(f"span {idx} is not open")

    def top(self) -> int | None:
        """Index of the innermost open span."""
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer)
        try:
            yield idx
        finally:
            self.close(idx)

    def children(self, idx: int | None) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the part of the interval that child spans cover."""
        s = self.spans[idx]
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in (self.spans[i] for i in self.children(idx))
        )
        return (s.end - s.start) - covered

    def layer_self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(i)
        return out

    def total(self, layer: str) -> float:
        """Summed duration of a layer's spans; a span nested inside another
        span of the same layer is not counted twice."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.layer == layer and not self._has_ancestor(s, layer)
        )

    def count(self, layer: str) -> int:
        return sum(1 for s in self.spans if s.layer == layer)

    def _has_ancestor(self, s: Span, layer: str) -> bool:
        p = s.parent
        while p is not None:
            if self.spans[p].layer == layer:
                return True
            p = self.spans[p].parent
        return False


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark event log -----------------------------------------------------

PANDAS_SCOPE = "FlatMapGroupsInPandas"
ARROW_SENT = "data sent to Python workers"
ARROW_RETURNED = "data returned from Python workers"


def _scopes(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


def parse_event_log(lines, windows) -> dict:
    """Sum stage/task metrics of the jobs submitted inside ``windows``
    (``(start_ms, end_ms)`` epoch pairs, one per timed op).

    Returns counts, times in seconds and bytes; the ``pandas_*`` keys cover
    only stages that run a ``FlatMapGroupsInPandas`` (applyInPandas) node."""
    jobs: dict[int, tuple[int, int | None]] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = (ev["Submission Time"], None)
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            start, _ = jobs.get(ev["Job ID"], (ev["Completion Time"], None))
            jobs[ev["Job ID"]] = (start, ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    def in_window(ms) -> bool:
        return any(a <= ms <= b for a, b in windows)

    kept_jobs = {j for j, (start, _) in jobs.items() if in_window(start)}
    kept_stages = {s for s, j in stage_job.items() if j in kept_jobs and s in stages}
    out = dict.fromkeys(
        (
            "jobs", "stages", "tasks", "task_run_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_rows",
            "pandas_stages", "pandas_stage_s", "pandas_bytes_sent", "pandas_bytes_returned",
        ),
        0,
    )
    out["jobs"] = len(kept_jobs)
    out["stages"] = len(kept_stages)
    out["job_wall_s"] = union_length(
        (a, b) for j, (a, b) in jobs.items() if j in kept_jobs and b is not None
    ) / 1000.0
    arrow: dict[int, list[int]] = {}  # stage -> [bytes sent, bytes returned]
    for ev in tasks:
        sid = ev["Stage ID"]
        if sid not in kept_stages:
            continue
        m = ev.get("Task Metrics") or {}
        out["tasks"] += 1
        out["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sr = m.get("Shuffle Read Metrics", {})
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics", {})
        out["input_bytes"] += inp.get("Bytes Read", 0)
        out["input_rows"] += inp.get("Records Read", 0)
        for acc in ev.get("Task Info", {}).get("Accumulables", []):
            if acc.get("Name") in (ARROW_SENT, ARROW_RETURNED):
                pair = arrow.setdefault(sid, [0, 0])
                pair[acc["Name"] == ARROW_RETURNED] += int(acc.get("Update", 0))
    # a stage that reads a cached result still lists the pandas node in its
    # lineage; count only stages whose Python workers received data
    for sid, (sent, returned) in arrow.items():
        if sent and PANDAS_SCOPE in _scopes(stages[sid]):
            info = stages[sid]
            out["pandas_stages"] += 1
            out["pandas_stage_s"] += (info["Completion Time"] - info["Submission Time"]) / 1000.0
            out["pandas_bytes_sent"] += sent
            out["pandas_bytes_returned"] += returned
    return out


def read_event_logs(log_dir: str) -> list[str]:
    """Lines of every finished event log under ``log_dir`` (Spark 4 writes
    ``eventlog_v2_<app>/events_<n>_<app>`` per application)."""
    lines: list[str] = []
    for root, _dirs, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith((".", "appstatus")) or name.endswith(".inprogress"):
                continue
            with open(os.path.join(root, name)) as fh:
                lines.extend(fh)
    return lines


# --- streaming progress --------------------------------------------------

PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps start/progress/termination
    events; ``drain`` waits until every started query has terminated,
    because progress events reach Python after the query call returns."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: list[str] = []
            self.terminated: set[str] = set()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started.append(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append(
                    {"durationMs": dict(p.durationMs), "numInputRows": p.numInputRows}
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.id))

        def drain(self, timeout: float = 30.0) -> bool:
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if set(self.started) <= self.terminated:
                        return True
                time.sleep(0.05)
            return False

        def mark(self) -> tuple[int, int]:
            with self.lock:
                return len(self.started), len(self.progress)

        def since(self, mark: tuple[int, int]) -> dict:
            with self.lock:
                return {
                    "queries_started": len(self.started) - mark[0],
                    "progress": list(self.progress[mark[1]:]),
                }

    return Listener()


# --- memory --------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _start_time(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks, or None once it is gone. A
    zombie still counts: it stays in the process table until its parent
    (for an orphan, init) reaps it."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[19])
    except OSError:
        return None


def descendants(root: int) -> list[tuple[int, int]]:
    """``(pid, start time)`` of every descendant of ``root``; the start
    time tells a process from a later one that reuses its pid."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        start = _start_time(pid)
        if start is not None:
            out.append((pid, start))
    return out


def wait_ended(procs: list[tuple[int, int]], timeout: float) -> list[int]:
    """Wait until every process of ``procs`` is gone; after ``timeout``
    seconds kill the ones left and wait for them too. Returns the pids that
    had to be killed."""

    def alive():
        for pid, _s in procs:  # reap the ones that are our own children
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        return [(p, s) for p, s in procs if _start_time(p) == s]

    def wait(seconds):
        deadline = time.monotonic() + seconds
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)

    wait(timeout)
    killed = [p for p, _s in alive()]
    for pid in killed:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    wait(10.0)  # a killed process ends once the kernel has torn it down
    return killed


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss(root: int) -> dict[str, int]:
    """Proportional set size of ``root`` and all its descendants (the Python
    driver, the driver JVM it launched and the Python workers the JVM forks),
    summed per executable name. PSS splits pages shared between forked
    processes, which RSS would count once per process."""
    kids = _children_map()
    out: dict[str, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            name = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            pss = _pss_bytes(pid)
        except OSError:  # the process ended meanwhile
            continue
        out[name] = out.get(name, 0) + pss
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of ``root``
    and all its descendants."""
    kids = _children_map()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


class MemorySampler:
    """Samples the process tree's PSS on a thread; ``peak`` is the largest
    total seen and ``peak_parts`` its split by executable name."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_pss(os.getpid())
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
