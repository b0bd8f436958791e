"""Bench orchestrator invariants that need no SparkSession: the child
protocol round-trips, budgets cover exactly the benched set, and the
query names are real suite entries (a typo here would silently bench
nothing)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_budgets_cover_exactly_the_benched_set():
    b = _load_bench()
    budget_keys = set(b.BUDGETS_SF01)
    bench_keys = set(b.BENCH_QUERIES) | {"q01_cache_miss", "q01_cache_hit"}
    assert budget_keys == bench_keys, (
        budget_keys ^ bench_keys,
        "every benched entry needs a budget and vice versa",
    )


def test_bench_names_are_real_suite_queries():
    sys.path.insert(0, ROOT)
    from elusion_spark.suite import QUERIES

    b = _load_bench()
    missing = [n for n in b.BENCH_QUERIES + b.SF1_QUERIES
               if n not in QUERIES]
    assert not missing, missing


def test_groups_partition_the_query_list():
    b = _load_bench()
    groups = [b.BENCH_QUERIES[i:i + b.GROUP_SIZE]
              for i in range(0, len(b.BENCH_QUERIES), b.GROUP_SIZE)]
    flat = [q for g in groups for q in g]
    assert flat == b.BENCH_QUERIES
    assert all(len(g) <= b.GROUP_SIZE for g in groups)


def test_child_sentinel_parsing(monkeypatch):
    b = _load_bench()

    class FakeProc:
        returncode = 0
        stderr = ""
        stdout = ("some spark INFO noise\n"
                  + b._SENTINEL + json.dumps({"times": {"q": 1.0}}) + "\n")

    monkeypatch.setattr(b.subprocess, "run",
                        lambda *a, **k: FakeProc())
    assert b._spawn({"queries": ["q"], "sf_dir": "x"}) == {
        "times": {"q": 1.0}}

    class DeadProc:
        returncode = 1
        stderr = "boom"
        stdout = "no sentinel here"

    monkeypatch.setattr(b.subprocess, "run",
                        lambda *a, **k: DeadProc())
    import pytest

    with pytest.raises(RuntimeError, match="boom"):
        b._spawn({"queries": ["q"], "sf_dir": "x"})


# ---------------------------------------------------------------------
# Contention guard (VERDICT r6 ask #1): synthetic-contention scenarios
# against the parent-side decision logic — a uniformly slowed group is
# flagged for rerun and its violations carry the canary evidence; a
# single-query regression is NOT rerun and survives annotation as a
# real violation.
# ---------------------------------------------------------------------

_BUDGETS = {"qa": 1.0, "qb": 1.0, "qc": 1.0, "qd": 1.0}


def test_group_drift_computation():
    b = _load_bench()
    # idle host: canary at/below floor -> clamped to 1.0
    assert b._group_drift({"start": b.CANARY_FLOOR * 0.8,
                           "end": b.CANARY_FLOOR}) == 1.0
    # contended host: 1.8x slowed canary -> drift ~1.8
    d = b._group_drift({"start": b.CANARY_FLOOR * 1.8,
                        "end": b.CANARY_FLOOR * 1.8})
    assert abs(d - 1.8) < 0.01
    # missing canary (old child / dead parse) degrades to no adjustment
    assert b._group_drift(None) == 1.0
    # the round-7 blind spot: CPU canary idle but the SHUFFLE canary
    # caught IO/scheduler interference -> the worse drift wins
    d = b._group_drift({
        "start": b.CANARY_FLOOR * 0.6, "end": b.CANARY_FLOOR * 0.6,
        "shuffle_start": b.SHUFFLE_CANARY_FLOOR * 1.7,
        "shuffle_end": b.SHUFFLE_CANARY_FLOOR * 1.7,
    })
    assert abs(d - 1.7) < 0.01
    # both idle -> clamp holds with the shuffle keys present
    assert b._group_drift({
        "start": b.CANARY_FLOOR * 0.6, "end": b.CANARY_FLOOR * 0.6,
        "shuffle_start": b.SHUFFLE_CANARY_FLOOR * 0.9,
        "shuffle_end": b.SHUFFLE_CANARY_FLOOR,
    }) == 1.0
    # the round-8 closure of the last blind spot: CPU and shuffle
    # canaries idle, write-fsync IO canary caught disk writeback
    d = b._group_drift({
        "start": b.CANARY_FLOOR * 0.6, "end": b.CANARY_FLOOR * 0.6,
        "shuffle_start": b.SHUFFLE_CANARY_FLOOR * 0.8,
        "shuffle_end": b.SHUFFLE_CANARY_FLOOR * 0.8,
        "io_start": b.IO_CANARY_FLOOR * 2.2,
        "io_end": b.IO_CANARY_FLOOR * 2.2,
    })
    assert abs(d - 2.2) < 0.01
    # all three idle -> clamp still holds
    assert b._group_drift({
        "start": b.CANARY_FLOOR, "end": b.CANARY_FLOOR,
        "shuffle_start": b.SHUFFLE_CANARY_FLOOR,
        "shuffle_end": b.SHUFFLE_CANARY_FLOOR,
        "io_start": b.IO_CANARY_FLOOR * 0.9,
        "io_end": b.IO_CANARY_FLOOR,
    }) == 1.0


def test_synthetic_contention_triggers_group_rerun():
    b = _load_bench()
    # the BENCH_r06 pattern: every entry in the group ~1.8x its budget
    contended = {n: 1.8 for n in _BUDGETS}
    assert b._should_rerun(contended, budgets=_BUDGETS)
    # a single regressed query does NOT look like contention
    one_bad = {"qa": 5.0, "qb": 0.5, "qc": 0.5, "qd": 0.5}
    assert not b._should_rerun(one_bad, budgets=_BUDGETS)
    # exactly half violating is the boundary: rerun (>= fraction)
    half = {"qa": 1.5, "qb": 1.5, "qc": 0.5, "qd": 0.5}
    assert b._should_rerun(half, budgets=_BUDGETS)
    # a group with <2 budgeted entries can't establish a pattern
    assert not b._should_rerun({"qa": 9.9}, budgets=_BUDGETS)
    # round 8: a single violation WITH canary drift is host-attributed
    # -> re-measure instead of shipping an annotated number
    one_bad = {"qa": 5.0, "qb": 0.5, "qc": 0.5, "qd": 0.5}
    assert b._should_rerun(one_bad, budgets=_BUDGETS,
                           drift=b.RERUN_DRIFT + 0.1)
    # ...but drifted canaries with ZERO violations never rerun
    clean = {n: 0.5 for n in _BUDGETS}
    assert not b._should_rerun(clean, budgets=_BUDGETS, drift=2.0)
    # and the single-entry group rule is overridden by drift+violation
    assert b._should_rerun({"qa": 9.9}, budgets=_BUDGETS, drift=2.0)


def test_io_canary_runs_and_is_fast():
    """The IO canary is a real write+fsync (non-negative wall, file
    cleaned up) — smoke, not a timing assertion."""
    import glob

    b = _load_bench()
    t = b._canary_io_time()
    assert t >= 0.0
    assert not glob.glob("/tmp/bench_io_canary_*")


def test_merge_min_keeps_best_pass():
    b = _load_bench()
    first = {"qa": 1.8, "qb": 1.9}
    second = {"qa": 0.7, "qb": 2.5}
    assert b._merge_min(first, second) == {"qa": 0.7, "qb": 1.9}
    # a query missing from the rerun keeps its first-pass time
    assert b._merge_min({"qa": 1.0}, {}) == {"qa": 1.0}


def test_violation_annotation_separates_contention_from_regression():
    b = _load_bench()
    # one contended block (drift 1.9) and one idle block (drift 1.0)
    v = {**b._annotate_violations({"qa": 1.8, "qb": 0.5}, 1.9,
                                  budgets=_BUDGETS),
         **b._annotate_violations({"qc": 3.0}, 1.0, budgets=_BUDGETS)}
    # qa violates raw but its drift-adjusted wall is within budget
    assert v["qa"]["contention_suspect"] is True
    assert v["qa"]["canary_drift"] == 1.9
    assert v["qa"]["adjusted_sec"] == round(1.8 / 1.9, 3)
    # qb is under budget: no entry
    assert "qb" not in v
    # qc violates on an idle group: a REAL regression, not suspect
    assert v["qc"]["contention_suspect"] is False
    assert v["qc"]["canary_drift"] == 1.0


def test_floor_bound_annotation():
    b = _load_bench()
    budgets = {"q77_containment_pairs": 1.0, "qa": 1.0}
    v = b._annotate_violations(
        {"q77_containment_pairs": 1.5, "qa": 1.5}, 1.0, budgets=budgets)
    assert v["q77_containment_pairs"]["floor_bound"] is True
    assert v["qa"]["floor_bound"] is False


def test_slim_stdout_keeps_contract_and_drops_provenance():
    """Round 11 (VERDICT r10 ask #1/#3): stdout must stay short enough
    to survive the driver's line capture — the contract keys and the
    violation/scaling evidence stay, the per-run provenance / canary
    brackets / methodology prose move to BENCH_local.json only."""
    b = _load_bench()
    full = {
        "metric": "suite_seconds", "value": 1.5, "unit": "sec",
        "queries": {"q01": 1.0, "sf1_q01": 0.5}, "sf": 0.1,
        "methodology": {"isolation": "x"},
        "canaries": {"group_0": {"start": 0.1}},
        "provenance": {"group_0": {"runs": []}},
        "cache_stats": {"hits": 2, "misses": 1},
        "budget_violations": {"q01": {"sec": 1.0, "budget": 0.9}},
        "sf1": {"queries": {"q01": 0.5}, "total": 0.5,
                "canary": {"drift": 1.3, "start": 0.2}, "note": "long"},
        "floor_bound_10x": {"queries": {"q77": 1.9}, "violations": {},
                            "canary": {"drift": 1.0},
                            "provenance": {"runs": []}, "note": "long"},
    }
    slim = b._slim_stdout(full)
    # contract keys intact (the driver parses these)
    assert slim["metric"] == "suite_seconds" and slim["unit"] == "sec"
    assert slim["queries"] == full["queries"] and slim["sf"] == 0.1
    assert slim["budget_violations"] == full["budget_violations"]
    assert slim["cache_stats"] == full["cache_stats"]
    # scaling blocks keep queries+drift, shed notes/canary brackets
    assert slim["sf1"] == {"queries": {"q01": 0.5}, "total": 0.5,
                           "drift": 1.3}
    assert slim["floor_bound_10x"] == {"queries": {"q77": 1.9},
                                       "violations": {}, "drift": 1.0}
    # the bulk (what truncated BENCH_r09) is gone from stdout
    for k in ("methodology", "canaries", "provenance"):
        assert k not in slim
    # a failed sf1 block still reports its error compactly
    slim2 = b._slim_stdout({**full, "sf1": {"error": "boom"}})
    assert slim2["sf1"] == {"error": "boom"}


def test_methodology_string_matches_timed_passes():
    """ADVICE r6: the emitted protocol description must match the
    actual pass count (r6 said 'min of 2' while running 3)."""
    b = _load_bench()
    import inspect

    # the one child runner times exactly the spec's pass count, and the
    # sf0.1 group spec takes that count from the constant
    src = inspect.getsource(b._run_block)
    assert 'range(spec["passes"])' in src
    assert b._group_spec(["q"], "x")["passes"] == b.TIMED_PASSES
    # the parent derives the string from the same constant and specs
    main_src = inspect.getsource(b.main)
    assert 'f"min of {TIMED_PASSES} timed passes"' in main_src
    assert "SF1_SPEC['passes']" in main_src
    assert "FLOOR10X_SPEC['passes']" in main_src


def test_block_specs_pin_warm_dirs_and_passes():
    """Each block keeps the protocol its budgets were calibrated on:
    sf0.1 groups warm at sf0.001 then at the target (min-of-3), sf1
    warms twice (min-of-3), floor10x warms once (min-of-2)."""
    b = _load_bench()
    sf01 = "testdata/sf0.1"
    grp = b._group_spec(["q01_pricing_summary", "q05_window_rank"], sf01)
    assert grp["warm_dirs"] == [b.WARM_DIR, sf01]
    assert b.WARM_DIR.endswith("/sf0.001")
    assert grp["passes"] == 3 and grp["cache_pair"] is True
    assert b._group_spec(["q05_window_rank"], sf01)["cache_pair"] is False
    assert b.SF1_SPEC["warm_dirs"] == ["/tmp/sf1", "/tmp/sf1"]
    assert b.SF1_SPEC["passes"] == 3
    assert b.SF1_SPEC["queries"] == b.SF1_QUERIES
    assert b.FLOOR10X_SPEC["warm_dirs"] == ["/tmp/scale10"]
    assert b.FLOOR10X_SPEC["passes"] == 2
    assert b.FLOOR10X_SPEC["queries"] == b.FLOOR10X_QUERIES
    # every spec reaches the child as JSON on argv
    for spec in (grp, b.SF1_SPEC, b.FLOOR10X_SPEC):
        assert json.loads(json.dumps(spec)) == spec


def _fake_child(b, times, drift):
    """A child result whose three canaries all read `drift` x floor."""
    return {"times": dict(times), "canary": {
        "start": b.CANARY_FLOOR * drift, "end": b.CANARY_FLOOR * drift,
        "shuffle_start": b.SHUFFLE_CANARY_FLOOR,
        "shuffle_end": b.SHUFFLE_CANARY_FLOOR,
        "io_start": b.IO_CANARY_FLOOR, "io_end": b.IO_CANARY_FLOOR}}


def _spawn_sequence(monkeypatch, b, results):
    calls = []

    def fake_spawn(spec, timeout=1800):
        calls.append(spec)
        return results[len(calls) - 1]

    monkeypatch.setattr(b, "_spawn", fake_spawn)
    return calls


def test_block_without_budgets_reruns_on_drift_alone(monkeypatch):
    """The sf1 block has no budgets, so drift is its only evidence: it
    reruns once at drift >= RERUN_DRIFT and not below it."""
    b = _load_bench()
    t = {"q01_pricing_summary": 2.0}
    assert b._should_rerun(t, budgets={}, drift=b.RERUN_DRIFT)
    assert not b._should_rerun(t, budgets={}, drift=b.RERUN_DRIFT - 0.01)
    assert not b._should_rerun(t, budgets={})

    # through the one adjudication path: drifted first run -> rerun,
    # per-query min, the better run's canaries and drift kept
    calls = _spawn_sequence(monkeypatch, b, [
        _fake_child(b, {"q01_pricing_summary": 3.0, "q05": 1.0}, 1.5),
        _fake_child(b, {"q01_pricing_summary": 2.0, "q05": 1.2}, 1.0)])
    errors = {}
    blk = b._adjudicate("sf1", b.SF1_SPEC, {}, errors)
    assert len(calls) == 2 and calls[0] is b.SF1_SPEC and not errors
    assert blk["times"] == {"q01_pricing_summary": 2.0, "q05": 1.0}
    assert blk["canary"]["drift"] == 1.0
    assert blk["violations"] == {}
    runs = blk["provenance"]["runs"]
    assert [r["drift"] for r in runs] == [1.5, 1.0]
    assert runs[1]["rerun_reason"] == "canary_drift"
    assert blk["provenance"]["chosen"] == "per_query_min_of_runs"

    # just under the threshold: one run, shipped as measured
    drift = b.RERUN_DRIFT - 0.01
    calls = _spawn_sequence(monkeypatch, b, [
        _fake_child(b, {"q01_pricing_summary": 3.0}, drift)])
    blk = b._adjudicate("sf1", b.SF1_SPEC, {}, {})
    assert len(calls) == 1
    assert blk["provenance"] == {"runs": [
        {"run": 1, "drift": drift, "violations": [],
         "times": {"q01_pricing_summary": 3.0}}], "chosen": "single_run"}
    # a run whose budgets are off (e.g. sf0.01) never reruns
    calls = _spawn_sequence(monkeypatch, b, [
        _fake_child(b, {"q01_pricing_summary": 3.0}, 2.0)])
    b._adjudicate("group_0", b._group_spec(["q01_pricing_summary"], "x"),
                  {}, {}, rerun=False)
    assert len(calls) == 1


def test_floor10x_violation_is_annotated_like_every_other(monkeypatch):
    """VERDICT r11 #2: floor10x violations come from the same
    annotation as the sf0.1 groups, drift evidence and floor_bound
    included, after the same rerun rule."""
    b = _load_bench()
    slow = {"q77_containment_pairs": 2.0,
            "q46_training_corpus": b.BUDGETS_FLOOR10X[
                "q46_training_corpus"] + 1.0}
    # one of two budgeted entries over -> the mass-violation rerun; the
    # rerun is no faster, so the violation survives at drift 1.1
    calls = _spawn_sequence(monkeypatch, b, [
        _fake_child(b, slow, 1.1), _fake_child(b, slow, 1.1)])
    blk = b._adjudicate("floor_bound_10x", b.FLOOR10X_SPEC,
                        b.BUDGETS_FLOOR10X, {}, timeout=2400)
    assert len(calls) == 2
    assert blk["provenance"]["runs"][1]["rerun_reason"] == "mass_violation"
    v = blk["violations"]
    assert set(v) == {"q46_training_corpus"}
    q46 = v["q46_training_corpus"]
    sec = slow["q46_training_corpus"]
    assert q46 == {"sec": sec,
                   "budget": b.BUDGETS_FLOOR10X["q46_training_corpus"],
                   "canary_drift": 1.1,
                   "adjusted_sec": round(sec / 1.1, 3),
                   "contention_suspect": False, "floor_bound": True}

    # a failed rerun keeps the first run and records the error
    def spawn_then_die(spec, timeout=1800):
        if not calls2:
            calls2.append(spec)
            return _fake_child(b, slow, 1.0)
        raise RuntimeError("child died")

    calls2 = []
    monkeypatch.setattr(b, "_spawn", spawn_then_die)
    errors = {}
    blk = b._adjudicate("floor_bound_10x", b.FLOOR10X_SPEC,
                        b.BUDGETS_FLOOR10X, errors)
    assert "child died" in errors["floor_bound_10x_rerun"]
    assert blk["provenance"]["chosen"] == "single_run"
    assert blk["violations"]["q46_training_corpus"]["canary_drift"] == 1.0


def test_host_block_records_the_machine():
    b = _load_bench()
    host = b._host(0.1)
    assert set(host) == {"nproc", "spark_graft_cpus", "git_sha",
                         "spark_version", "sf"}
    assert isinstance(host["nproc"], int) and host["nproc"] >= 1
    assert host["sf"] == 0.1 and host["spark_version"]
