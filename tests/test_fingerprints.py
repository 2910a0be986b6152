"""Plan-regression tripwire, wired into pytest (VERDICT r8 item 8).

Rebuilds every registered batch query's physical-plan fingerprint at the
SF the committed baseline was taken at and fails on ANY node-count drift
— a broadcast silently degrading to sort-merge, an extra exchange, a
cache that stopped matching. This catches the r8-verdict class of
finding (unadjudicated plan drift) at commit time instead of at the
judge's audit.

Runs at the baseline's recorded SF (plans are SF-dependent: static size
estimates cross ``autoBroadcastJoinThreshold`` between SFs — tpch_q7 is
BHJx5 at sf0.001 but SMJx1/BHJx4 at sf0.01+, the r9 adjudication of the
r8 "drift" report). Streaming-wrapped queries are skipped here exactly
as in the CLI tool's default mode; their baselines are refreshed with
``--run-streaming`` once per round.
"""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

BASELINE = os.path.join(ROOT, "PLAN_FINGERPRINTS.json")


@pytest.mark.slow
def test_no_physical_plan_drift(spark, tmp_path):
    from audit_plans import fingerprint

    with open(BASELINE) as f:
        base = json.load(f)
    sf_dir = base.pop("__meta__", {}).get("sf_dir", "/root/testdata/sf0.01")
    out = str(tmp_path / "fp.json")
    fingerprint(sf_dir, out, run_streaming=False)
    with open(out) as f:
        now = json.load(f)
    now.pop("__meta__", None)

    drift = {}
    for name in sorted(set(base) & set(now)):
        b, c = base[name], now[name]
        if b == c:
            continue
        # a streaming-skip marker vs a --run-streaming baseline is a
        # mode difference, not plan drift
        if "__streaming_skipped__" in b or "__streaming_skipped__" in c:
            continue
        keys = sorted(set(b) | set(c))
        drift[name] = {
            k: (b.get(k, 0), c.get(k, 0)) for k in keys if b.get(k) != c.get(k)
        }
    assert not drift, (
        f"physical-plan drift vs PLAN_FINGERPRINTS.json at {sf_dir} — "
        "explain each line, then refresh with "
        f"audit_plans --fingerprint --only <names>: {drift}"
    )
    # every registered query must be baselined (new ops must run
    # audit_plans --fingerprint --only as part of landing)
    missing = sorted(set(now) - set(base))
    assert not missing, f"queries with no fingerprint baseline: {missing}"


def test_freshness_gate_no_orphaned_verdicts():
    """VERDICT r11 item 6: a driver verdict must never silently predate
    the plan it vouches for. Every registered name's CURRENT fingerprint
    must equal the one its newest driver verdict attached to
    (VERIFIED_FINGERPRINTS.json), unless the name is queued in the next
    driver window (plans._PRIORITY). Fast — pure JSON, no Spark."""
    from freshness_gate import _load, stale_names

    from ccirecommenderdatapipeline_spark.plans import QUERIES, _PRIORITY

    stale = stale_names(
        _load(os.path.join(ROOT, "PLAN_FINGERPRINTS.json")),
        _load(os.path.join(ROOT, "VERIFIED_FINGERPRINTS.json")),
        _PRIORITY,
        list(QUERIES),
    )
    assert not stale, (
        "replanned (or never-verified) without queueing for a driver "
        f"verdict — add to plans/__init__.py _PRIORITY: {stale}"
    )


def test_freshness_gate_trips_on_planted_regression():
    """The gate must actually fire: change one non-queued name's
    fingerprint (and separately, add a never-verified name) and assert
    both surface as stale; the same change IN the window is exempt."""
    from freshness_gate import _load, stale_names

    current = _load(os.path.join(ROOT, "PLAN_FINGERPRINTS.json"))
    verified = _load(os.path.join(ROOT, "VERIFIED_FINGERPRINTS.json"))
    from ccirecommenderdatapipeline_spark.plans import QUERIES, _PRIORITY

    victim = next(n for n in QUERIES if n not in _PRIORITY)
    planted = dict(current)
    planted[victim] = {**(current.get(victim) or {}), "Exchange": 999}
    planted["brand_new_op"] = {"Scan parquet": 1}
    registry = list(QUERIES) + ["brand_new_op"]

    stale = stale_names(planted, verified, _PRIORITY, registry)
    assert victim in stale and "brand_new_op" in stale

    exempted = stale_names(
        planted, verified, list(_PRIORITY) + [victim, "brand_new_op"], registry
    )
    assert victim not in exempted and "brand_new_op" not in exempted


def test_freshness_gate_refresh_advances_only_green(tmp_path, monkeypatch):
    """--refresh advances verified fingerprints for green verdict rows
    only; red/errored names keep their old snapshot."""
    import freshness_gate as fg

    cur = {"a": {"Exchange": 2}, "b": {"Exchange": 3}, "c": {"Exchange": 4}}
    ver = {"__meta__": {}, "a": {"Exchange": 1}, "b": {"Exchange": 1},
           "c": {"Exchange": 1}}
    rows = {
        "a": {"rows_match": True, "schema_match": True, "hash_match": True,
              "err": None},
        "b": {"rows_match": True, "schema_match": True, "hash_match": False,
              "err": None},
        "c": {"rows_match": None, "schema_match": None, "hash_match": None,
              "err": "boom"},
    }
    cur_p, ver_p, rows_p = (
        tmp_path / "cur.json", tmp_path / "ver.json", tmp_path / "rows.json"
    )
    import json as _json
    cur_p.write_text(_json.dumps(cur))
    ver_p.write_text(_json.dumps(ver))
    rows_p.write_text(_json.dumps(rows))
    monkeypatch.setattr(fg, "CURRENT", str(cur_p))
    monkeypatch.setattr(fg, "VERIFIED", str(ver_p))
    fg.refresh(str(rows_p))
    out = _json.loads(ver_p.read_text())
    assert out["a"] == {"Exchange": 2}          # green -> advanced
    assert out["b"] == {"Exchange": 1}          # hash red -> kept
    assert out["c"] == {"Exchange": 1}          # errored -> kept
    assert out["__meta__"]["last_refresh"] == "rows.json"


def test_canonical_hash_normalizes_session_variance():
    """The literal hash must be stable across SparkSessions (exprIds
    restart and shift with registry build order; staging paths are
    mkdtemp-random) and across core counts (partition counts taken from
    the core count) while remaining sensitive to literal-only changes —
    the r11 nano-nat class the structural counts cannot see."""
    from audit_plans import canonical_hash

    a = (
        "*(1) Project [n_name#1, (n_nationkey#0 + 7) AS k#4]\n"
        "+- FileScan parquet [n_nationkey#0,n_name#1] Location: "
        "InMemoryFileIndex(1 paths)[file:/root/testdata/sf0.01/nation.parquet]"
    )
    # same plan, later session: shifted exprIds, different fixture path
    b = (
        "*(1) Project [n_name#9, (n_nationkey#8 + 7) AS k#12]\n"
        "+- FileScan parquet [n_nationkey#8,n_name#9] Location: "
        "InMemoryFileIndex(1 paths)[file:/tmp/fp_stage_x8ab/nation.parquet]"
    )
    # literal-only replan: 7 -> 8
    c = a.replace("+ 7", "+ 8")
    # exprId BINDING change: ordinal renumbering preserves which
    # references resolve to the same definition, so x+x and x+y hash
    # differently even though a blind #-strip would conflate them
    d1 = "Project [(price#3 + price#3) AS two_x#7]"
    d2 = "Project [(price#3 + price#4) AS two_x#7]"
    assert canonical_hash(a) == canonical_hash(b)
    assert canonical_hash(a) != canonical_hash(c)
    assert canonical_hash(d1) != canonical_hash(d2)

    # fan_out's repartition(defaultParallelism, key) and spark.range's
    # default splits carry the host's core count: the same plan at 4 and
    # at 32 cores hashes equal...
    f4 = (
        "Join Cross\n"
        ":- Project [(price#3 + 7) AS k#7]\n"
        ":  +- RepartitionByExpression [symbol#1], 4\n"
        ":     +- Relation [symbol#1,price#3] parquet\n"
        "+- Range (0, 10, step=1, splits=Some(4))"
    )
    f32 = f4.replace("], 4", "], 32").replace("Some(4)", "Some(32)")
    assert canonical_hash(f4, 4) == canonical_hash(f32, 32)
    # ...while any other literal change still moves the hash
    assert canonical_hash(f4, 4) != canonical_hash(f4.replace("+ 7", "+ 8"), 4)
    # a count that is not the session's core count stays a literal
    assert canonical_hash(f4, 32) != canonical_hash(f32, 32)
    m8 = "RepartitionByExpression [media_id#2], 8"
    assert canonical_hash(m8, 4) == canonical_hash(m8, 32)
    assert canonical_hash(m8, 4) != canonical_hash(m8.replace(", 8", ", 16"), 4)
    # known limit: the plan text cannot tell a hard-coded count from a
    # core count, so on an 8-core host the fixed 8 reads as <parallelism>
    # and hashes like a fan_out count at any other host's core count
    assert canonical_hash(m8, 8) == canonical_hash(m8.replace(", 8", ", 32"), 32)
    assert canonical_hash(m8, 8) != canonical_hash(m8, 4)


def test_freshness_gate_trips_on_literal_only_drift():
    """VERDICT r12 item 2's done condition: a fingerprint whose node
    counts are unchanged but whose __lit_md5__ moved (a constant-only
    replan) must surface as stale unless queued."""
    from freshness_gate import stale_names

    verified = {"q": {"Exchange": 2, "__lit_md5__": "aaaaaaaaaaaa"}}
    planted = {"q": {"Exchange": 2, "__lit_md5__": "bbbbbbbbbbbb"}}
    assert stale_names(planted, verified, [], ["q"]) == ["q"]
    assert stale_names(planted, verified, ["q"], ["q"]) == []


def test_freshness_gate_adopt_migrates_only_matching(tmp_path, monkeypatch):
    """--adopt copies new fingerprint dimensions into VERIFIED only for
    names whose previously-recorded dimensions match; a real replan
    (old dimensions differ) is left stale."""
    import json as _json

    import freshness_gate as fg

    cur = {
        "same": {"Exchange": 2, "__lit_md5__": "abc"},
        "replanned": {"Exchange": 5, "__lit_md5__": "def"},
        "marker": {"Exchange": 1, "__prefold__": 1, "__lit_md5__": "ghi"},
    }
    ver = {
        "__meta__": {},
        "same": {"Exchange": 2},
        "replanned": {"Exchange": 2},
        "marker": {"__eager_local_result__": 1},
    }
    cur_p, ver_p = tmp_path / "cur.json", tmp_path / "ver.json"
    cur_p.write_text(_json.dumps({**cur, "__meta__": {"sf_dir": "x"}}))
    ver_p.write_text(_json.dumps(ver))
    monkeypatch.setattr(fg, "CURRENT", str(cur_p))
    monkeypatch.setattr(fg, "VERIFIED", str(ver_p))
    fg.adopt()
    out = _json.loads(ver_p.read_text())
    assert out["same"] == cur["same"]            # schema migration
    assert out["replanned"] == {"Exchange": 2}   # real replan -> untouched
    assert out["marker"] == {"__eager_local_result__": 1}  # repr change -> untouched
