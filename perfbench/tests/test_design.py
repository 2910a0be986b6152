"""BENCHMARK.json, DESIGN.json and the emitted metrics name the same things."""

import json
import os

from perfbench import metrics
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load(path):
    with open(os.path.join(ROOT, path)) as fh:
        return json.load(fh)


class NoStats:
    stats: dict = {}


def emitted_per_layer():
    cache = {"persisted_rdds": 0, "memory_bytes": 0, "disk_bytes": 0}
    m, _ = metrics.per_layer(NoStats(), Tracer(), [], [], cache, [1.0], 4, {"symbols": 1})
    return m


def test_every_declared_metric_is_emitted_with_its_unit():
    bench = load("BENCHMARK.json")
    layer = emitted_per_layer()
    assert [d["name"] for d in bench["per_layer"]] == list(layer)
    for d in bench["per_layer"]:
        assert layer[d["name"]]["unit"] == d["unit"]
    e2e = metrics.end_to_end([1.0, 2.0, 3.0], [4.0], 2**20)
    assert [d["name"] for d in bench["end_to_end"]] == list(e2e)
    for d in bench["end_to_end"]:
        assert e2e[d["name"]]["unit"] == d["unit"]
        assert 0 < d["bound"] <= 0.25


def test_design_record_covers_benchmark():
    bench, design = load("BENCHMARK.json"), load("perfbench/DESIGN.json")
    assert {w["name"] for w in bench["workloads"]} == set(design["workloads"])
    assert {d["name"] for d in bench["end_to_end"]} == set(design["end_to_end"])
    assert [d["name"] for d in bench["per_layer"]] == list(design["per_layer"])
    e2e = set(design["end_to_end"])
    for name, d in design["per_layer"].items():
        assert d["moves"], name
        for move in d["moves"]:
            assert move["metric"] in e2e, name
            assert set(move["workloads"]) <= set(design["workloads"]), name
    setup = next(d for d in bench["end_to_end"] if d["name"] == "setup_s")
    assert setup["bound"] == max(d["bound"] for d in bench["end_to_end"])
