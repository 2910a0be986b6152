"""Turn one run's measurements into the metrics of ``BENCHMARK.json``.

Per-layer values are per traced op (sums over the traced ops divided by
their number), so they do not depend on how many ops fit in a run. A layer
that a workload does not exercise reads 0; ``DESIGN.json`` says where each
metric is expected to move.
"""

from __future__ import annotations

from .stats import median
from .trace import PHASES, Tracer, parse_event_log

PIPELINE_TABLES = (
    "symbol_list", "prices", "cci", "best_win", "best_return", "best_return_per_days_held",
    "reco_revenue", "reco_win", "reco_revenue_per_days_held", "buy_candidates",
    "sell_decisions", "order_reconciliation",
)


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setups, op_times, peak_pss_bytes: int) -> dict:
    return {
        "setup_s": _m(median(setups), "s"),
        "op_s": _m(median(op_times), "s"),
        "peak_pss_mb": _m(peak_pss_bytes / 2**20, "MB"),
    }


def _children_of_layer(tracer: Tracer, layer: str, parent_layer: str) -> float:
    return sum(
        s.end - s.start
        for s in tracer.spans
        if s.layer == layer and s.parent is not None
        and tracer.spans[s.parent].layer == parent_layer
    )


def streaming_metrics(traced_ops: list[dict], n: int) -> dict:
    progress = [p for o in traced_ops for p in o.get("stream", {}).get("progress", [])]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    out = {
        "streaming.queries_started": _m(
            sum(o.get("stream", {}).get("queries_started", 0) for o in traced_ops) / n, "count"),
        "streaming.batches": _m(len(progress) / n, "count"),
        "streaming.input_rows": _m(sum(p["numInputRows"] for p in progress) / n, "count"),
        "streaming.trigger_ms_p50": _m(median(trig) if trig else 0.0, "ms"),
    }
    for phase in PHASES:
        name = "streaming." + "".join(
            "_" + c.lower() if c.isupper() else c for c in phase
        ) + "_ms"
        out[name] = _m(sum(p["durationMs"].get(phase, 0) for p in progress) / n, "ms")
    overhead = [
        o["s"] - sum(p["durationMs"].get("triggerExecution", 0) for p in o["stream"]["progress"]) / 1000
        for o in traced_ops if o.get("stream", {}).get("queries_started")
    ]
    out["streaming.start_overhead_s"] = _m(sum(overhead) / n, "s")
    return out


def per_layer(wl, tracer: Tracer, ops, event_lines, cache, starts, cpus, sizes):
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    ev = parse_event_log(event_lines, [o["window_ms"] for o in traced])
    m = {
        "session.start_s": _m(median(starts), "s"),
        "plans.build_s": _m(tracer.total("plans") / n, "s"),
        "plans.build_calls": _m(tracer.count("plans") / n, "count"),
        "catalyst.plan_s": _m(tracer.total("catalyst") / n, "s"),
        "catalyst.plan_nodes": _m(wl.stats.get("plan_nodes", 0) / n, "count"),
        "exec.wall_s": _m(ev["job_wall_s"] / n, "s"),
        "exec.jobs": _m(ev["jobs"] / n, "count"),
        "exec.stages": _m(ev["stages"] / n, "count"),
        "exec.tasks": _m(ev["tasks"] / n, "count"),
        "exec.task_run_s": _m(ev["task_run_s"] / n, "s"),
        "exec.gc_s": _m(ev["gc_s"] / n, "s"),
        "exec.shuffle_read_bytes": _m(ev["shuffle_read_bytes"] / n, "bytes"),
        "exec.shuffle_write_bytes": _m(ev["shuffle_write_bytes"] / n, "bytes"),
        "exec.spill_bytes": _m(ev["spill_bytes"] / n, "bytes"),
        "exec.cpu_busy_ratio": _m(
            ev["task_run_s"] / (ev["job_wall_s"] * cpus) if ev["job_wall_s"] else 0.0, "ratio"),
        "sources.bytes_read": _m(ev["input_bytes"] / n, "bytes"),
        "sources.rows_read": _m(ev["input_rows"] / n, "count"),
        "simulator_pandas.stage_s": _m(ev["pandas_stage_s"] / n, "s"),
        "simulator_pandas.arrow_bytes_sent": _m(ev["pandas_bytes_sent"] / n, "bytes"),
        "simulator_pandas.arrow_bytes_returned": _m(ev["pandas_bytes_returned"] / n, "bytes"),
        # one group per symbol each time an applyInPandas stage runs
        "simulator_pandas.groups": _m(sizes["symbols"] * ev["pandas_stages"] / n, "count"),
    }
    for table in PIPELINE_TABLES:
        m[f"pipeline.table_s.{table}"] = _m(
            sum(s.end - s.start for s in tracer.spans
                if s.layer == "pipeline.table" and s.name == table) / n, "s")
    m["pipeline.build_s"] = _m(_children_of_layer(tracer, "plans", "pipeline.table") / n, "s")
    m["pipeline.write_s"] = _m(tracer.total("pipeline.write") / n, "s")
    m["pipeline.recount_s"] = _m(
        _children_of_layer(tracer, "pipeline.recount", "pipeline.table") / n, "s")
    m["pipeline.rows_written"] = _m(sum(o.get("rows_written", 0) for o in traced) / n, "count")
    written = wl.stats.get("bytes_written", {})
    m["pipeline.bytes_written"] = _m(sum(written.get(o["day"], 0) for o in traced) / n, "bytes")
    m["cache.persisted_rdds"] = _m(cache["persisted_rdds"], "count")
    m["cache.memory_bytes"] = _m(cache["memory_bytes"], "bytes")
    m["cache.disk_bytes"] = _m(cache["disk_bytes"], "bytes")
    m.update(streaming_metrics(traced, n))

    self_times = [tracer.self_time(i) for i in range(len(tracer.spans))]
    extra = {
        "traced_ops": len(traced),
        "spans": len(tracer.spans),
        "layer_self_s": {k: v / n for k, v in tracer.layer_self_times().items()},
        "self_time_within_span": all(
            -1e-9 <= st <= (s.end - s.start) + 1e-9 for st, s in zip(self_times, tracer.spans)
        ),
        "event_log": {k: v for k, v in ev.items()},
    }
    return m, extra
