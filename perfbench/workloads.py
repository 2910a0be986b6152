"""The benchmark's workloads. Each op reads a fresh as-of day directory.

- ``daily_batch``: one op is ``pipeline.run_daily_batch`` for the next day,
  writing all twelve parquet tables into a fresh directory; the session
  stays up across days as a scheduler process would.
- ``order_stream``: one op is one reconciliation cycle: the execution feed
  (three incremental ``availableNow`` runs over one checkpoint), the
  two-phase-commit ledger writer, the foreachBatch upsert and the
  transformWithState user stats, each read back.

A workload's ``run_op`` is the timed region; ``check`` compares the op's
outputs with the registered DuckDB oracles afterwards. In the traced run,
``traced`` wraps the calls into each layer with spans.
"""

from __future__ import annotations

import contextlib
import os

from . import oracle
from .trace import Tracer

STREAM_JOBS = (
    "stream_execution_feed",
    "order_ledger_roundtrip",
    "stream_merge_upsert",
    "stream_tws_user_stats",
)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def plan_nodes(df) -> int:
    """Lines of the executed plan's tree string, about one per node."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    return sum(1 for line in tree.splitlines() if line.strip())


@contextlib.contextmanager
def patched(obj, name: str, make):
    """Temporarily replace ``obj.name`` with ``make(original)``."""
    orig = getattr(obj, name)
    setattr(obj, name, make(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


@contextlib.contextmanager
def traced_queries(plans, tracer: Tracer, on_call=None):
    """Wrap every ``plans.QUERIES`` entry in a ``plans`` span."""
    orig = dict(plans.QUERIES)

    def wrap(name, fn):
        def wrapped(spark, sf_dir):
            if on_call is not None:
                on_call(name)
            with tracer.span(f"build:{name}", "plans"):
                return fn(spark, sf_dir)

        return wrapped

    plans.QUERIES.update({n: wrap(n, f) for n, f in orig.items()})
    try:
        yield
    finally:
        plans.QUERIES.update(orig)


def timed_plan(tracer: Tracer, df, stats: dict) -> None:
    """Force optimize + physical planning on the DataFrame's own (fresh)
    QueryExecution inside a ``catalyst`` span and record the plan size."""
    with tracer.span("plan", "catalyst"):
        stats["plan_nodes"] = stats.get("plan_nodes", 0) + plan_nodes(df)


class Workload:
    name = ""

    def __init__(self, engine, checker: oracle.Checker, work_dir: str):
        self.plans = engine.plans
        self.pipeline = engine.pipeline
        self.co = engine.check_oracle
        self.checker = checker
        self.work_dir = work_dir
        self.pending: list = []  # (day_dir, outputs) awaiting the oracle check
        self.stats: dict = {}  # counters not carried by spans or op records
        self.tracer: Tracer | None = None

    def run_op(self, spark, day_dir: str):
        """The timed region; returns per-op counters for the traced run."""
        raise NotImplementedError

    @contextlib.contextmanager
    def traced(self, tracer: Tracer):
        self.tracer = tracer
        try:
            with traced_queries(self.plans, tracer):
                yield
        finally:
            self.tracer = None

    def collect(self, df, label: str):
        if self.tracer is None:
            return df.collect()
        timed_plan(self.tracer, df, self.stats)
        with self.tracer.span(label, "exec"):
            return df.collect()

    def check(self) -> tuple[int, int]:
        """Check every pending op; return (ops checked, ops that failed)."""
        failed = 0
        for day_dir, out in self.pending:
            failed += 0 if self.check_op(day_dir, out) else 1
        n = len(self.pending)
        self.pending = []
        return n, failed

    def check_op(self, day_dir: str, out) -> bool:
        raise NotImplementedError

    def check_one(self, con, input_digest: str, label: str, query: str, cols, rows) -> bool:
        """Check one output against ``query``'s oracle over the day's input
        (``con`` has its tables, ``input_digest`` identifies its files)."""
        sql = self.plans.ORACLES[query]
        key = oracle.OracleCache.key(input_digest, sql)
        return self.checker.check(label, cols, rows, lambda: oracle.oracle_rows(con, sql), key)


class DailyBatch(Workload):
    name = "daily_batch"

    def tables(self) -> dict[str, str]:
        p = self.pipeline
        return {**p.E1_TABLES, **p.E2_TABLES, **p.E3_TABLES}

    def run_op(self, spark, day_dir):
        out = os.path.join(self.work_dir, "out", os.path.basename(day_dir))
        counts = self.pipeline.run_daily_batch(spark, day_dir, out)
        self.pending.append((day_dir, out))
        return {"rows_written": sum(counts.values())}

    def check_op(self, day_dir, out):
        self.stats.setdefault("bytes_written", {})[os.path.basename(day_dir)] = dir_bytes(out)
        con, digest = self.co.duck_connect(day_dir), oracle.files_digest(day_dir)
        try:
            return all([
                self.check_one(con, digest, f"{self.name}:{table}", query,
                               *oracle.parquet_rows(con, os.path.join(out, table)))
                for table, query in self.tables().items()
            ])
        finally:
            con.close()

    @contextlib.contextmanager
    def traced(self, tracer):
        """Per-table spans: the loop in run_daily_batch builds a table's
        query, writes it and counts it back, so a table's span runs from its
        query build to the next table's build (or the end of the op)."""
        from pyspark.sql import DataFrameReader, DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        table_of = {q: t for t, q in self.tables().items()}
        op_span = tracer.top()

        def close_table():
            top = tracer.top()
            if top is not None and tracer.spans[top].layer == "pipeline.table":
                tracer.close(top)

        def on_call(name):
            if name in table_of:  # nested builds have a plans span on top
                close_table()
                if tracer.top() == op_span:
                    tracer.open(table_of[name], "pipeline.table")

        def write(orig):
            def parquet(writer, path, *a, **kw):
                with tracer.span("write", "pipeline.write"):
                    timed_plan(tracer, writer._df, self.stats)
                    return orig(writer, path, *a, **kw)

            return parquet

        def read(orig):
            def parquet(reader, *paths, **kw):
                with tracer.span("read", "pipeline.recount"):
                    return orig(reader, *paths, **kw)

            return parquet

        def count(orig):
            def cnt(df):
                with tracer.span("count", "pipeline.recount"):
                    return orig(df)

            return cnt

        with traced_queries(self.plans, tracer, on_call), patched(
            DataFrameWriter, "parquet", write
        ), patched(DataFrameReader, "parquet", read), patched(DataFrame, "count", count):
            try:
                yield
            finally:
                close_table()


class OrderStream(Workload):
    name = "order_stream"

    def run_op(self, spark, day_dir):
        outs = {}
        for job in STREAM_JOBS:
            df = self.plans.QUERIES[job](spark, day_dir)
            outs[job] = (df.columns, self.collect(df, f"readback:{job}"))
        self.pending.append((day_dir, outs))
        return {}

    def check_op(self, day_dir, outs):
        con, digest = self.co.duck_connect(day_dir), oracle.files_digest(day_dir)
        try:
            return all([
                self.check_one(con, digest, f"{self.name}:{job}", job, cols, rows)
                for job, (cols, rows) in outs.items()
            ])
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (DailyBatch, OrderStream)}
