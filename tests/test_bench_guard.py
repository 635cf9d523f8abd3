"""The bench calibration guard's decision logic, tested without timing
sensitivity: thresholds come from env overrides so a pass and a fail are
both forced deterministically, and a broken calibration query must degrade
to diagnostics — never an exception (the artifact-zeroing failure mode the
r3 warmup bug taught). Round 11: the guard carries TWO lanes (JVM q01 +
Arrow q_tfidf) because the r10 autopsy showed them degrading independently."""

from __future__ import annotations

import os
import sys


def _bench():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    return bench


def _idle(monkeypatch):
    # pytest itself keeps 32 threads busy — force the idle gate open so the
    # calibration-lane tests don't stall on the suite's own load
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_LOADAVG", "1e9")


def test_guard_passes_with_generous_tolerance(spark, sf_dir, monkeypatch):
    bench = _bench()
    _idle(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD_PCT", "100000")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD_ATTEMPTS", "1")
    info = bench._window_guard(spark, sf_dir)
    assert info["degraded"] is False
    # both lanes measured, each once
    assert set(info["cal_queries"]) == set(bench._CAL_QUERIES)
    for name, entry in info["cal_queries"].items():
        assert entry["ref_sec"] == bench._CAL_QUERIES[name]
        assert entry["min_sec"] > 0
        assert len(entry["attempts"]) == 1
        assert entry["ratio"] > 0
        assert entry["degraded"] is False
    # legacy summary fields track the worst lane
    assert info["cal_query"] in bench._CAL_QUERIES
    assert info["cal_min_sec"] == info["cal_queries"][info["cal_query"]]["min_sec"]
    assert len(info["loadavg_start"]) == 3
    assert info["mem_available_gb"] > 0


def test_guard_degrades_with_impossible_tolerance(spark, sf_dir, monkeypatch):
    # tolerance -100% => threshold 0 s => any real measurement is "degraded";
    # attempts=2 also pins the retry loop (two recorded attempts per lane,
    # no raise)
    bench = _bench()
    _idle(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD_PCT", "-100")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD_ATTEMPTS", "2")
    monkeypatch.setattr("time.sleep", lambda s: None)
    info = bench._window_guard(spark, sf_dir)
    assert info["degraded"] is True
    for entry in info["cal_queries"].values():
        assert entry["degraded"] is True
        assert len(entry["attempts"]) == 2
        assert entry["min_sec"] == min(entry["attempts"])


def test_guard_skips_clean_lane_on_retry(spark, sf_dir, monkeypatch):
    # One lane forced degraded (ref 0) while the other passes: the retry
    # loop must re-measure ONLY the degraded lane, and the overall verdict
    # is degraded with the clean lane left at one attempt.
    bench = _bench()
    _idle(monkeypatch)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD_PCT", "100000")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GUARD_ATTEMPTS", "2")
    monkeypatch.setattr("time.sleep", lambda s: None)
    names = list(bench._CAL_QUERIES)
    rigged = dict(bench._CAL_QUERIES)
    rigged[names[1]] = 1e-9  # ~zero threshold even at huge tolerance => degraded
    monkeypatch.setattr(bench, "_CAL_QUERIES", rigged)
    info = bench._window_guard(spark, sf_dir)
    assert info["degraded"] is True
    assert info["cal_queries"][names[0]]["degraded"] is False
    assert len(info["cal_queries"][names[0]]["attempts"]) == 1
    assert info["cal_queries"][names[1]]["degraded"] is True
    assert len(info["cal_queries"][names[1]]["attempts"]) == 2
    # worst-lane summary points at the degraded lane
    assert info["cal_query"] == names[1]


def test_guard_never_raises_on_broken_calibration(spark, sf_dir, monkeypatch):
    # unknown calibration query => guard_error diagnostics, degraded stays
    # False so the sweep still runs and the artifact is not zeroed
    bench = _bench()
    _idle(monkeypatch)
    monkeypatch.setattr(bench, "_CAL_QUERIES", {"q_does_not_exist": 1.0})
    info = bench._window_guard(spark, sf_dir)
    assert info["degraded"] is False
    assert "guard_error" in info


def test_abort_record_never_touches_reference_artifact(tmp_path, monkeypatch):
    # r11 regression: the degraded-window abort wrote its record to
    # BENCH_FULL.json, which was ALSO the reference — the committed
    # clean-window per-query map used for like-for-like reconciliation — so
    # a later clean run in the same tree reconciled against {}. The abort
    # must go to BENCH_ABORT.json and leave the reference byte-identical.
    import json

    bench = _bench()
    assert bench._ABORT_RECORD != bench._ref_bench_name(32)
    ref = tmp_path / bench._ref_bench_name(32)
    ref.write_text('{"queries": {"q01_pricing_summary": 1.0}}')
    before = ref.read_bytes()
    monkeypatch.setattr(bench, "_ARTIFACT_DIR", str(tmp_path))
    bench._write_abort_record({"metric": "degraded_window_abort", "value": -1})
    assert ref.read_bytes() == before
    rec = json.loads((tmp_path / bench._ABORT_RECORD).read_text())
    assert rec["metric"] == "degraded_window_abort"


def test_degraded_window_emits_timings_by_default():
    # r14 failure mode: the guard aborted the driver's 32-core sweep at cal
    # ratio 1.101 and the round lost its only same-core ground truth. The
    # r15 contract: a degraded window suppresses timings ONLY under the
    # explicit legacy opt-in (SPARK_GRAFT_BENCH_GUARD=abort); the default
    # and "off" modes always proceed to the sweep.
    bench = _bench()
    degraded = {"degraded": True, "cal_ratio": 1.52}
    clean = {"degraded": False}
    assert bench._should_abort(degraded, "on") is False
    assert bench._should_abort(degraded, "off") is False
    assert bench._should_abort(degraded, "abort") is True
    assert bench._should_abort(clean, "abort") is False
    assert bench._should_abort(clean, "on") is False


def test_compact_guard_preserves_degraded_flag_and_ratios():
    # the stdout line is size-capped; the compacted guard block must keep
    # the verdict and per-lane ratios so a degraded flag always survives
    bench = _bench()
    info = {
        "degraded": True,
        "degraded_reason": "idle gate: loadavg never drained",
        "cal_queries": {
            "q01_pricing_summary": {"ref_sec": 1.4, "ratio": 1.52, "attempts": [2.1]},
            "q_tfidf": {"ref_sec": 1.7, "ratio": 0.92, "attempts": [1.56]},
        },
        "idle_gate": {"samples": [{"waited_sec": 0.0, "loadavg": [9, 9, 9]}] * 30},
    }
    import json

    out = bench._compact_guard(info)
    assert out["degraded"] is True
    assert out["degraded_reason"].startswith("idle gate")
    assert out["cal_ratios"] == {"q01_pricing_summary": 1.52, "q_tfidf": 0.92}
    assert "idle_gate" not in out  # bulky diagnostics live in the artifact
    assert len(json.dumps(out)) < 300
    # skipped guard keeps its marker
    assert bench._compact_guard({"skipped": "x", "degraded": False}) == {
        "degraded": False,
        "skipped": "x",
    }


def test_artifact_and_reference_paths_are_cpu_aware(tmp_path, monkeypatch):
    # r14 failure mode: the driver's 8-core run overwrote the committed
    # 32-core rolling reference because output and reference shared one
    # path. Output now encodes the core count; the reference is a separate
    # read-only file bench.py never writes.
    import json

    bench = _bench()
    assert bench._full_artifact_name(32) != bench._full_artifact_name(8)
    assert bench._ref_bench_name(32) != bench._ref_bench_name(8)
    assert bench._full_artifact_name(32) != bench._ref_bench_name(32)
    monkeypatch.setattr(bench, "_ARTIFACT_DIR", str(tmp_path))
    (tmp_path / bench._ref_bench_name(32)).write_text(
        '{"queries": {"q01_pricing_summary": 1.0, "q_x": 2.0}}'
    )
    (tmp_path / bench._ref_bench_name(8)).write_text(
        '{"queries": {"q01_pricing_summary": 9.0}}'
    )
    out32 = bench._vs_reference({"q01_pricing_summary": 1.5, "q_x": 2.0}, 32)
    assert out32["reference"] == bench._ref_bench_name(32)
    assert out32["n_common"] == 2
    assert out32["ref_total_sec"] == 3.0
    out8 = bench._vs_reference({"q01_pricing_summary": 1.5}, 8)
    assert out8["reference"] == bench._ref_bench_name(8)
    assert out8["ref_total_sec"] == 9.0
    # missing reference degrades to diagnostics, never raises
    out4 = bench._vs_reference({"q01_pricing_summary": 1.5}, 4)
    assert "error" in out4


def test_idle_gate_rejects_busy_box(monkeypatch):
    # r13 failure mode: loadavg 12 at sweep start, calibration min-of-3
    # still passed, five untouched queries recorded >30% slower. The gate
    # must refuse the window BEFORE burning calibration attempts.
    bench = _bench()
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_LOADAVG", "2.0")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_WAIT_SEC", "40")
    monkeypatch.setattr(bench, "_loadavg", lambda: [12.0, 6.2, 10.5])
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    info = bench._window_guard(None, "/nonexistent")  # spark unused pre-gate
    assert info["degraded"] is True
    assert info["degraded_reason"].startswith("idle gate")
    assert info["idle_gate"]["passed"] is False
    # bounded wait: samples at 0/20/40s then give up
    assert info["idle_gate"]["waited_sec"] >= 40
    # calibration never ran — no attempts burned on a rejected window
    for entry in info["cal_queries"].values():
        assert entry["attempts"] == []


def test_idle_gate_waits_for_draining_box(monkeypatch):
    # busy, busy, then idle: the gate must sleep-retry and pass, recording
    # each sample and the total wait
    bench = _bench()
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_LOADAVG", "2.0")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_WAIT_SEC", "600")
    seq = iter([[5.0, 4.0, 3.0], [3.1, 3.5, 3.2], [0.4, 2.1, 2.8]])
    monkeypatch.setattr(bench, "_loadavg", lambda: next(seq))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    gate = bench._await_idle_window()
    assert gate["passed"] is True
    assert len(gate["samples"]) == 3
    assert gate["waited_sec"] == 40.0


def test_idle_gate_passes_open_on_unreadable_loadavg(monkeypatch):
    # the gate is a tripwire, not a new single point of failure: if
    # /proc/loadavg is unreadable the gate passes immediately
    bench = _bench()
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_LOADAVG", "2.0")
    monkeypatch.setattr(bench, "_loadavg", lambda: [])
    gate = bench._await_idle_window()
    assert gate["passed"] is True
    assert gate["waited_sec"] == 0.0
