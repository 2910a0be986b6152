"""Benchmark of the spark-graft engine: one workload per invocation.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 10 --trace 0
    python3 -m pytest perfbench/tests -q        # the benchmark's self-tests

Run from the repository root. The run generates its inputs (``inputs.py``;
``--seed`` picks the as-of days), pins Spark to ``local[<cores>]``, starts
the session several times to measure set-up, then runs the workload's ops
one after another (a closed loop with one client) until ``--seconds`` of op
time have been measured, checks every op's outputs against the registered
DuckDB oracles, and prints two JSON lines: a detail record, then the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
they are the per-layer ones, from spans around the calls into each layer,
Spark's event log, a streaming-query listener and the block manager.
``DESIGN.json`` records what each metric means and should move.

Everything the run writes stays under ``.perfbench_work/`` in the checkout:
the run's own directory is removed at exit, the oracle digest cache stays.
On every way out, a SIGTERM included, the run stops Spark and the driver JVM
and waits until each process it started has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
import types
import zipfile
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ccirecommenderdatapipeline_spark"

SF = 0.005  # 50 symbols x ~525 price rows, 30k lineitem rows, 5k events
BASE_SEED = 42  # generator seed of the table contents; --seed picks the days
SETUPS = 3  # session starts per run; setup_s is their median
TRACED_MIN_OPS = 3  # untraced (cold), traced, untraced


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str, cpus: int, trace: bool) -> str:
    """Pin Spark to this host's cores and keep every scratch file inside
    ``work``. Must run before pyspark launches the JVM; returns the event
    log directory."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    submit = [
        f"--driver-java-options '{java_opts}'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return events


def load_engine(work: str):
    """Import the engine and point its fixed scratch paths into ``work``."""
    from ccirecommenderdatapipeline_spark import pipeline, plans, session
    from ccirecommenderdatapipeline_spark.streaming import jobs, protobuf_compat

    from perfbench import oracle

    jobs.STAGE_ROOT = os.path.join(work, "stage")
    shim_zip = os.path.join(work, "protobuf_shim.zip")

    def shim_zip_path():
        # the engine builds this zip, with the same layout, under /tmp
        if not os.path.exists(shim_zip):
            vendor = protobuf_compat._VENDOR
            with zipfile.ZipFile(shim_zip, "w", zipfile.ZIP_DEFLATED) as zf:
                zf.writestr("google/__init__.py", protobuf_compat._NS_INIT)
                for root, _dirs, files in os.walk(vendor):
                    for fn in sorted(f for f in files if f.endswith(".py")):
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.relpath(full, vendor))
        return shim_zip

    protobuf_compat._shim_zip_path = shim_zip_path
    return types.SimpleNamespace(
        plans=plans,
        pipeline=pipeline,
        session=session,
        check_oracle=oracle.load_check_oracle(ROOT),
    )


def warm_up(spark, path: str) -> None:
    """Fixed warm-ups: a shuffle, and a parquet write plus read-back. Python
    workers start in the first op, as they would in a fresh daily job."""
    spark.range(2000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").sum("v").collect()
    spark.range(100).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()


def start_sessions(engine, work: str):
    """Start the session ``SETUPS`` times (stopping the previous one), each
    followed by the fixed warm-ups; the first start also launches the JVM.
    Returns the last session, the session-start times and the set-up times."""
    spark, starts, setups = None, [], []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = engine.session.get_spark("perfbench")
        t1 = time.perf_counter()
        warm_up(spark, os.path.join(work, "warmup", str(i)))
        setups.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
    return spark, starts, setups


def input_sizes(day_dir: str) -> dict:
    import duckdb

    from ccirecommenderdatapipeline_spark import schemas

    li = os.path.join(day_dir, "lineitem.parquet")
    with duckdb.connect() as con:
        symbols, price_rows = con.execute(
            "SELECT count(DISTINCT l_suppkey), count(DISTINCT (l_suppkey, l_shipdate::DATE)) "
            f"FROM '{li}'"
        ).fetchone()
        events = con.execute(
            f"SELECT count(*) FROM '{os.path.join(day_dir, 'events.parquet')}'"
        ).fetchone()[0]
    combos = (
        len(schemas.GRID_HOLDING_DAYS) * len(schemas.GRID_TARGET_RETURN)
        * len(schemas.GRID_BUY_THRESHOLD) * len(schemas.GRID_STOP_THRESHOLD)
    )
    return {"symbols": symbols, "price_rows": price_rows, "grid_combos": combos,
            "event_rows": events}


def cache_state(spark) -> dict:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        "persisted_rdds": sum(1 for i in infos if i.numCachedPartitions() > 0),
        "memory_bytes": sum(i.memSize() for i in infos),
        "disk_bytes": sum(i.diskSize() for i in infos),
    }


@dataclass
class Loop:
    """What the measured loop saw."""

    ops: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    cache: dict = field(default_factory=dict)
    peak_pss: int = 0
    peak_parts: dict = field(default_factory=dict)
    steal: float = 0.0


def measure(spark, wl, next_day, seconds: float, tracer, listener) -> Loop:
    """Run ops back to back, each on ``next_day()``'s input, until
    ``seconds`` of op time are measured. With a tracer, every second op is
    traced."""
    from perfbench import trace as tr

    loop, measured = Loop(), 0.0
    min_ops = TRACED_MIN_OPS if tracer is not None else 1
    ticks = tr.cpu_ticks()
    with tr.MemorySampler() as mem:
        while measured < seconds or len(loop.ops) < min_ops:
            day = next_day()
            traced = tracer is not None and len(loop.ops) % 2 == 1
            mark = listener.mark() if traced else None
            counters, ok = {}, True
            loop.attempted += 1
            w0, t0, c0 = time.time(), time.perf_counter(), tr.tree_cpu_s(os.getpid())
            try:
                if traced:
                    with tracer.span(os.path.basename(day), "op"), wl.traced(tracer):
                        counters = wl.run_op(spark, day)
                else:
                    counters = wl.run_op(spark, day)
            except Exception:  # a failed op is counted and the loop goes on
                traceback.print_exc()
                loop.failed += 1
                ok = False
            dt = time.perf_counter() - t0
            cpu = tr.tree_cpu_s(os.getpid()) - c0
            measured += dt
            if mark is not None:
                listener.drain()
                counters["stream"] = listener.since(mark)
            loop.ops.append({"day": os.path.basename(day), "s": dt, "cpu_s": cpu,
                             "traced": traced, "ok": ok,
                             "window_ms": (w0 * 1000.0, time.time() * 1000.0), **counters})
            if loop.failed >= 3 and loop.failed == loop.attempted:
                break
        loop.cache = cache_state(spark)
    loop.peak_pss, loop.peak_parts = mem.peak, mem.peak_parts
    loop.steal = tr.steal_share(ticks, tr.cpu_ticks())
    return loop


def run(args, cpus: int, work: str):
    from perfbench import inputs, oracle, stats, trace as tr
    from perfbench.metrics import end_to_end, per_layer
    from perfbench.workloads import WORKLOADS

    load_start = os.getloadavg()
    phases, clock = {}, [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    events_dir = pin_environment(work, cpus, bool(args.trace))
    engine = load_engine(work)
    phase("import")

    base = os.path.join(work, "base")
    base_rows = inputs.generate_base(base, BASE_SEED, SF, cpus)
    days = inputs.day_sequence(args.seed)
    con = inputs.connect(cpus)

    def next_day() -> str:
        day = next(days)
        path = os.path.join(work, "days", f"{day:%Y%m%d}")
        inputs.cut_day(con, base, path, day)
        return path

    phase("inputs")
    checker = oracle.Checker(
        engine.check_oracle.df_multiset,
        oracle.OracleCache(os.path.join(ROOT, ".perfbench_work", "oracle-cache")),
    )
    wl = WORKLOADS[args.workload](engine, checker, work)
    spark, starts, setups = start_sessions(engine, work)
    host = {
        "nproc": os.cpu_count(),
        "cpus": cpus,
        "loadavg_start": load_start,
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": spark._jvm.System.getProperty("java.version"),
    }
    phase("setup")

    tracer = listener = None
    if args.trace:
        tracer = tr.Tracer()
        listener = tr.make_stream_listener()
        spark.streams.addListener(listener)
    loop = measure(spark, wl, next_day, args.seconds, tracer, listener)
    con.close()
    phase("measure")

    n_checked, n_bad = wl.check()
    failed = loop.failed + n_bad
    phase("checks")
    spark.stop()
    phase("stop")

    sizes = input_sizes(os.path.join(work, "days", loop.ops[0]["day"]))
    untraced = [o["s"] for o in loop.ops if o["ok"] and not o["traced"]]
    op_tail = stats.tail(untraced)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**host, "loadavg_end": os.getloadavg(), "cpu_steal_share": loop.steal},
        "inputs": {**sizes, "scale_factor": SF, "base_seed": BASE_SEED, "base_rows": base_rows},
        "phases_s": phases,
        "setup_s": setups,
        "session_start_s": starts,
        "ops": [{k: v for k, v in o.items() if k not in ("window_ms", "stream")}
                for o in loop.ops],
        "op_s_median": stats.median(untraced) if untraced else None,
        "op_s_tail": None if op_tail is None else dict(zip(("value", "percentile", "n"), op_tail)),
        "peak_pss_parts_mb": {k: v / 2**20 for k, v in loop.peak_parts.items()},
        "error_rate": failed / loop.attempted,
        "checks": {"ops_checked": n_checked, "comparisons": checker.checked,
                   "oracle_cache_hits": checker.cache_hits,
                   "mismatches": checker.mismatches[:5]},
    }
    if args.trace:
        lines = tr.read_event_logs(events_dir)
        metrics, detail["trace"] = per_layer(
            wl, tracer, loop.ops, lines, loop.cache, starts, cpus, sizes)
        # the first op is cold: compare the traced ops with the later untraced ones
        traced = [o["s"] for o in loop.ops if o["ok"] and o["traced"]]
        warm = [o["s"] for o in loop.ops[1:] if o["ok"] and not o["traced"]]
        if traced and warm:
            detail["trace"]["overhead_s"] = stats.median(traced) - stats.median(warm)
    else:
        metrics = end_to_end(setups, untraced, loop.peak_pss)
    result = {
        "correct": failed == 0,
        "attempted": loop.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def stop_processes() -> list[int]:
    """Stop Spark and the driver JVM pyspark launched, and wait until every
    process the run started has ended. A stopped SparkContext leaves the JVM
    running, and once Python has exited the JVM takes a while longer to go.
    Returns the pids that had to be killed."""
    from perfbench import trace as tr

    started = tr.descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        with contextlib.suppress(Exception):
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    return tr.wait_ended(started, timeout=30)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    missing = [p for p in (PACKAGE, os.path.join("tools", "check_oracle.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not in this checkout (missing {missing})",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # a terminated run still stops what it started, on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result, detail = run(args, cpus, work)
    finally:
        killed = stop_processes()
        with contextlib.suppress(OSError):
            shutil.rmtree(work)
    detail["killed_pids"] = killed
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
