"""Structured Streaming semantics tests (SURVEY.md §2.9 T1-T6):
- watermark append mode withholds exactly the windows not yet closed;
- two-phase incremental ingestion through a foreachBatch MERGE equals the
  one-shot batch result (T2/T3);
- applyInPandasWithState carries state across micro-batches (T6).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ccirecommenderdatapipeline_spark.sources.tables import load_table
from ccirecommenderdatapipeline_spark.streaming.jobs import (
    events_stream,
    read_upsert_target,
    run_stream,
    run_to_memory,
    stage_events_dir,
    stateful_user_counts,
    tumbling_agg_plan,
    upsert_foreach_batch,
)
from tests.conftest import SF_SMALL


def test_watermark_append_withholds_open_windows(spark):
    staged = stage_events_dir(spark, SF_SMALL)
    sdf = events_stream(spark, staged).withWatermark("ts", "1 hour")
    appended = run_to_memory(tumbling_agg_plan(sdf), "append").toPandas()

    batch = tumbling_agg_plan(load_table(spark, SF_SMALL, "events")).toPandas()
    max_us = load_table(spark, SF_SMALL, "events").agg(
        F.max(F.unix_micros("ts"))
    ).first()[0]
    watermark_us = max_us - 3_600_000_000
    closed = batch[batch["w_end_us"] <= watermark_us]
    open_ = batch[batch["w_end_us"] > watermark_us]
    assert len(open_) > 0  # the fixture does leave windows open
    got = set(appended["w_start_us"])
    assert got == set(closed["w_start_us"])


def test_incremental_foreach_batch_upsert_equals_oneshot(spark):
    ev = load_table(spark, SF_SMALL, "events")
    cut_hi = ev.approxQuantile("event_id", [0.6], 0.0)[0]
    cut_lo = ev.approxQuantile("event_id", [0.4], 0.0)[0]
    work = tempfile.mkdtemp()
    src, target, ckpt = f"{work}/src", f"{work}/target", f"{work}/ckpt"

    # phase 1: first 60% of events arrive
    ev.filter(F.col("event_id") <= cut_hi).write.mode("overwrite").parquet(src)

    def run_phase():
        run_stream(
            events_stream(spark, src),
            foreach_batch=upsert_foreach_batch(target),
            checkpoint=ckpt,
        )

    run_phase()
    n_phase1 = read_upsert_target(spark, target).count()

    # phase 2: an OVERLAPPING batch arrives (40%..100% — the 40-60% band is
    # re-delivered, as in the reference's overlapping re-fetch, T3); the
    # file source only picks up NEW files, the MERGE view dedups re-delivery
    overlap = tempfile.mkdtemp()
    ev.filter(F.col("event_id") >= cut_lo).write.mode("overwrite").parquet(overlap)
    for i, f in enumerate(glob.glob(f"{overlap}/part-*.parquet")):
        shutil.copy(f, f"{src}/late-{i}.parquet")
    run_phase()

    merged = read_upsert_target(spark, target)
    assert merged.count() == ev.count() > n_phase1
    assert merged.select(F.sum("event_id")).first()[0] == ev.select(F.sum("event_id")).first()[0]


def test_stateful_counts_across_microbatches(spark):
    staged = stage_events_dir(spark, SF_SMALL, n_files=4)
    ckpt = tempfile.mkdtemp()
    got = {
        r["user_id"]: r["n_events"]
        for r in stateful_user_counts(spark, staged, ckpt).collect()
    }
    expected = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_stateful_cci_stream_equals_batch(spark):
    """T6 as true streaming: the stateful rolling-CCI operator over 3
    date-ordered micro-batches must equal the batch CCI computation row for
    row (state carries the 19-row lookback across batch boundaries)."""
    from ccirecommenderdatapipeline_spark.plans.cci import cci_view
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stage_price_batches,
        stateful_cci_stream,
    )

    staged = stage_price_batches(spark, SF_SMALL, n_batches=3)
    got = (
        stateful_cci_stream(spark, staged, tempfile.mkdtemp())
        .toPandas()
        .sort_values(["symbol", "date"])
    )
    exp = (
        cci_view(spark, SF_SMALL)
        .select("symbol", "date", "open_cci", "close_cci")
        .toPandas()
        .sort_values(["symbol", "date"])
    )
    assert len(got) == len(exp) > 0
    m = got.merge(exp, on=["symbol", "date"], suffixes=("", "_b"))
    assert len(m) == len(exp)
    for c in ["open_cci", "close_cci"]:
        both_null = m[c].isna() & m[f"{c}_b"].isna()
        diff = (m[c] - m[f"{c}_b"]).abs() < 1e-9
        assert (both_null | diff).all(), c


def test_tws_user_stats_matches_batch(spark):
    """transformWithStateInPandas running per-user stats == batch GROUP BY.

    Runs everywhere since r11: ensure_protobuf() (called inside the
    registered query) prefers a native google.protobuf and otherwise
    ships the vendored pure-Python wire shim to driver and workers —
    the last pytest skip in the suite is gone."""
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        stream_tws_user_stats,
    )
    from ccirecommenderdatapipeline_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    ensure_protobuf(spark)
    from ccirecommenderdatapipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    got = stream_tws_user_stats(spark, SF_SMALL)
    want = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.max(F.unix_micros("ts")).alias("max_ts_us"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_session_append_equals_batch_builtin(spark):
    """APPEND-mode streaming session windows must emit exactly the batch
    session_window result — every session once, none retained, sentinel
    excluded."""
    from ccirecommenderdatapipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    stream = {
        (r["user_id"], r["w_start_us"]): r
        for r in QUERIES["stream_session_agg"](spark, sf).collect()
    }
    batch = {
        (r["user_id"], r["w_start_us"]): r
        for r in QUERIES["session_window_builtin"](spark, sf).collect()
    }
    assert stream.keys() == batch.keys()
    for k, b in batch.items():
        s = stream[k]
        assert (s["w_end_us"], s["n_events"], s["sum_value"]) == (
            b["w_end_us"], b["n_events"], b["sum_value"]
        )
    assert all(uid >= 0 for uid, _ in stream)


def test_staging_rejects_reserved_sentinel_key(spark):
    """The sentinel strip is safe only because SENTINEL_USER is reserved:
    staging must refuse a source that already carries it (r6 ADVICE —
    previously the sentinel was -1 and a legitimate -1 user would have
    been silently dropped)."""
    import pytest

    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        SENTINEL_USER,
        _assert_sentinel_free,
    )

    ev = load_table(spark, SF_SMALL, "events")
    _assert_sentinel_free(ev)  # real data is clean
    # a LEGITIMATE negative id must NOT trip the guard (only the reserved key)
    _assert_sentinel_free(
        ev.limit(3).withColumn("user_id", F.lit(-1).cast("long"))
    )
    poisoned = ev.limit(1).withColumn(
        "user_id", F.lit(SENTINEL_USER).cast("long")
    )
    with pytest.raises(ValueError, match="reserved sentinel"):
        _assert_sentinel_free(ev.unionByName(poisoned))


def test_file_min_ts_key_orders_empty_files_first(spark, tmp_path):
    """repartitionByRange can emit an EMPTY partition; its staged file has
    min(ts)=NULL and must sort (first), not crash the None<Timestamp
    comparison inside the delivery-order ranking (r6 ADVICE)."""
    from ccirecommenderdatapipeline_spark.streaming.jobs import _file_min_ts_key

    ev = load_table(spark, SF_SMALL, "events").select("ts")
    full = os.path.join(tmp_path, "full")
    empty = os.path.join(tmp_path, "empty")
    ev.limit(5).coalesce(1).write.parquet(full)
    ev.limit(0).coalesce(1).write.parquet(empty)
    f_full = glob.glob(os.path.join(full, "part-*.parquet"))[0]
    f_empty = glob.glob(os.path.join(empty, "part-*.parquet"))[0]
    ranked = sorted([f_full, f_empty], key=lambda f: _file_min_ts_key(spark, f))
    assert ranked == [f_empty, f_full]


def test_stream_outer_join_equals_batch_left_join(spark):
    from ccirecommenderdatapipeline_spark import plans
    from ccirecommenderdatapipeline_spark.streaming.jobs import (
        outer_attribution_join_plan,
    )
    from ccirecommenderdatapipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL

    got = plans.QUERIES["stream_outer_join"](spark, SF_SMALL)
    ev = load_table(spark, SF_SMALL, "events")
    want = outer_attribution_join_plan(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the semantic the inner join never exercises: null-extended rows exist
    assert got.filter(F.col("click_id").isNull()).count() > 0


def test_run_stream_is_the_only_stream_start_site():
    """One runner: ``.writeStream`` and ``awaitTermination`` appear in the
    engine package only inside ``streaming/jobs.py:run_stream``, so a new
    job cannot paste in its own start/checkpoint/await block. Spark-free:
    an AST scan (docstrings and comments do not count)."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ccirecommenderdatapipeline_spark",
    )
    hits = []

    class Sites(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.stack = rel, []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Attribute(self, node):
            if node.attr in ("writeStream", "awaitTermination"):
                hits.append((self.rel, ".".join(self.stack), node.attr))
            self.generic_visit(node)

    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    tree = ast.parse(f.read())
                Sites(os.path.relpath(path, pkg)).visit(tree)
    assert {attr for _, _, attr in hits} == {"writeStream", "awaitTermination"}
    outside = [h for h in hits if h[:2] != ("streaming/jobs.py", "run_stream")]
    assert not outside, f"stream start outside run_stream: {outside}"


def test_run_stream_deletes_only_the_checkpoints_it_generates(spark, tmp_path):
    """A generated checkpoint can never be resumed, so run_stream removes
    it once the query terminates: a run_to_memory call leaves
    STAGE_ROOT/ckpt as it found it. A checkpoint the caller passes in is
    the caller's to resume and is kept."""
    from ccirecommenderdatapipeline_spark.streaming import jobs

    staged = stage_events_dir(spark, SF_SMALL)
    ckpt_root = os.path.join(jobs.STAGE_ROOT, "ckpt")
    os.makedirs(ckpt_root, exist_ok=True)
    before = sorted(os.listdir(ckpt_root))
    out = run_to_memory(tumbling_agg_plan(events_stream(spark, staged)))
    assert out.count() > 0
    assert sorted(os.listdir(ckpt_root)) == before

    kept = str(tmp_path / "ckpt")
    run_to_memory(tumbling_agg_plan(events_stream(spark, staged)), checkpoint=kept)
    assert os.path.isdir(os.path.join(kept, "offsets"))


def test_staging_keys_on_the_absolute_source_path(spark, tmp_path, monkeypatch):
    """Two fixtures that share a basename must not share a staged copy —
    keyed on the basename, the second would silently stream the first
    one's events."""
    from ccirecommenderdatapipeline_spark.streaming import jobs

    monkeypatch.setattr(jobs, "STAGE_ROOT", str(tmp_path / "stage"))
    ev = load_table(spark, SF_SMALL, "events").orderBy("event_id")
    dirs = []
    for sub, n in (("a", 10), ("b", 20)):
        sf_dir = tmp_path / sub / "sf0.001"
        ev.limit(n).write.parquet(str(sf_dir / "events.parquet"))
        dirs.append(str(sf_dir))
    staged = [stage_events_dir(spark, d) for d in dirs]
    assert staged[0] != staged[1]
    assert [spark.read.parquet(s).count() for s in staged] == [10, 20]
    # idempotent per source: a second call reuses the staged copy
    assert stage_events_dir(spark, dirs[0] + "/") == staged[0]


@pytest.mark.parametrize(
    "job", ["stateful_user_counts", "stateful_cci_stream", "tws_user_stats"]
)
def test_restart_from_checkpoint_equals_oneshot(spark, tmp_path, job):
    """Exactly-once across a restart: run a stateful job on the first half
    of the staged files, deliver the rest (mtime order preserved), rerun
    on the SAME checkpoint, and the final state must equal one run over
    all files. (For TWS the resumed run's result is the per-user max over
    the capture both runs appended to.)"""
    from ccirecommenderdatapipeline_spark.streaming import jobs

    run = getattr(jobs, job)
    if job == "stateful_cci_stream":
        staged = jobs.stage_price_batches(spark, SF_SMALL, n_batches=3)
    else:
        staged = stage_events_dir(spark, SF_SMALL)
    files = sorted(
        glob.glob(os.path.join(staged, "*.parquet")),
        key=lambda f: (os.path.getmtime(f), f),
    )
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()
    half = len(files) // 2
    assert 0 < half < len(files)

    def deliver(batch):
        for f in batch:  # copy2 keeps the mtime, i.e. the delivery order
            shutil.copy2(f, src / os.path.basename(f))

    deliver(files[:half])
    run(spark, str(src), ckpt)
    deliver(files[half:])
    resumed = run(spark, str(src), ckpt)
    oneshot = run(spark, staged, str(tmp_path / "oneshot_ckpt"))
    got = sorted(map(tuple, resumed.collect()))
    assert got == sorted(map(tuple, oneshot.collect()))
    assert len(got) > 0
    # the rerun resumed: one committed micro-batch per file across both
    # runs, none replayed from scratch
    commits = [c for c in os.listdir(os.path.join(ckpt, "commits")) if c.isdigit()]
    assert sorted(map(int, commits)) == list(range(len(files)))


@pytest.mark.parametrize(
    "name",
    ["stream_stateful_counts", "stream_execution_feed", "order_ledger_roundtrip"],
)
def test_registered_jobs_leave_no_scratch_dirs(spark, tmp_path, monkeypatch, name):
    """A registered job owns its checkpoint, capture, staging or ledger dir:
    the call leaves TMPDIR and STAGE_ROOT as it found them (the staged
    inputs, made before the snapshot, aside), and the result it returns
    is still readable once those dirs are gone."""
    from ccirecommenderdatapipeline_spark.plans import QUERIES
    from ccirecommenderdatapipeline_spark.streaming import jobs

    tmp, stage = tmp_path / "tmp", tmp_path / "stage"
    tmp.mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(jobs, "STAGE_ROOT", str(stage))
    stage_events_dir(spark, SF_SMALL)

    def tree():
        return sorted(
            os.path.join(root, d)
            for top in (tmp, stage)
            for root, dirs, _files in os.walk(top)
            for d in dirs
        )

    before = tree()
    out = QUERIES[name](spark, SF_SMALL)
    assert tree() == before
    assert out.count() > 0
