"""Spark-free pins for bench.py's derived op lists and its 10x-probe
gate/escalation decision. The lists are derived from a previous sidecar,
so each test feeds a small fake one."""

from __future__ import annotations

import bench

BENCHED = ["a", "b", "c", "d", "e"]
PRIOR = {
    "queries": {"a": 0.1, "b": 0.2, "c": 0.3, "d": 0.4},
    "serial_top": {"c": 2.0, "a": 0.5, "zz_gone": 9.0, "d": 1.5},
}


def test_launch_order_heaviest_serial_first_then_registry_order():
    assert bench.launch_order(BENCHED, PRIOR) == ["c", "d", "a", "b", "e"]


def test_launch_order_without_prior_is_registry_order():
    assert bench.launch_order(BENCHED, {}) == BENCHED


def test_first_round_probe_is_ops_missing_from_last_probed_list():
    # A plain run rewrites "queries" for every benched op, so it cannot
    # tell a new op; only the probe's own benched list can.
    prior = {
        "queries": {n: 0.1 for n in BENCHED},
        "probe_selection": {"benched": ["a", "b", "c", "zz_gone"]},
    }
    assert bench.first_round_probe(BENCHED, prior) == ["d", "e"]
    # no probe has recorded its benched list: no history, probe nothing
    assert bench.first_round_probe(BENCHED, PRIOR) == []
    assert bench.first_round_probe(BENCHED, {}) == []


def test_sf1_headline_keeps_previous_ops_still_benched():
    serial = {"e": 9.0, "d": 8.0, "a": 0.1}
    prior = {"sf1_headline": {"ops": {"b": 3.0, "zz_gone": 5.0, "c": 4.0}}}
    # the previous set, not this run's noisy serial ranking
    assert bench.sf1_headline_set(BENCHED, serial, prior) == ["b", "c"]
    # no previous headline (or none of it still benched): serial top 20
    assert bench.sf1_headline_set(BENCHED, serial, {}) == ["e", "d", "a"]
    gone = {"sf1_headline": {"ops": {"zz_gone": 5.0}}}
    assert bench.sf1_headline_set(BENCHED, serial, gone) == ["e", "d", "a"]


def test_sf10_set_is_serial_head_plus_highest_probe_ratios():
    serial = {f"s{i}": float(20 - i) for i in range(12)}
    probe_ops = {
        "s0": {"ratio": 9.0},  # already in the serial head: not re-added
        "p1": {"ratio": 1.1},
        "p2": {"ratio": 4.0},
        "p3": {"ratio": 3.0},
        "p4": {"ratio": 2.0},
        "p5": {"ratio": 1.5},
        "p6": {"ratio": 1.2},
    }
    got = bench.sf10_set(serial, probe_ops)
    assert got == [f"s{i}" for i in range(10)] + ["p2", "p3", "p4", "p5", "p6"]
    assert bench.sf10_set({"x": 1.0}, {}) == ["x"]


def test_probe_record_ratios():
    oq = next(iter(sorted(bench.OUTPUT_QUADRATIC)))
    per = bench.probe_record(
        oq, {"sf01": [2.0, 1.0], "sf1": [4.0]}, {"sf01": 10, "sf1": 100}
    )
    assert per["sf01_sec"] == 1.0 and per["sf1_walls"] == [4.0]
    assert per["ratio"] == 4.0
    assert per["ratio_per_output_row"] == 0.4
    plain = bench.probe_record(
        "plain_op", {"sf01": [1.0], "sf1": [3.0]}, {"sf01": 1, "sf1": 1}
    )
    assert "ratio_per_output_row" not in plain


def test_gate_metric_per_op_class():
    oq = next(iter(sorted(bench.OUTPUT_QUADRATIC)))
    assert bench.gate_tripped("plain_op", {"ratio": 2.6})
    assert not bench.gate_tripped("plain_op", {"ratio": 2.4})
    # output-quadratic: judged per emitted row, not by the raw ratio
    assert not bench.gate_tripped(oq, {"ratio": 7.0, "ratio_per_output_row": 0.5})
    assert bench.gate_tripped(oq, {"ratio": 2.0, "ratio_per_output_row": 3.0})
    # no per-row figure (a side emitted no rows): raw ratio decides
    assert bench.gate_tripped(oq, {"ratio": 3.0})


def _fake_measure(walls_by_dir, rows_by_dir, calls):
    def fake(spark, name, sf_dir, passes=1, clear=True):
        calls.append((sf_dir, passes))
        return [walls_by_dir[sf_dir]] * passes, rows_by_dir[sf_dir]

    return fake


SIDES = (("sf01", "small", 2), ("sf1", "big", 2))


def test_tripped_output_quadratic_op_escalates(monkeypatch):
    oq = next(iter(sorted(bench.OUTPUT_QUADRATIC)))
    calls = []
    # per-row ratio (10/10) / (1/100) = 100 > gate
    fake = _fake_measure({"small": 1.0, "big": 10.0}, {"small": 100, "big": 10}, calls)
    monkeypatch.setattr(bench, "measure", fake)
    per = bench.scale_probe_op(None, oq, SIDES, escalate=True)
    assert per["escalated_passes"] == bench.ESCALATE_PASSES
    n_walls = 2 + bench.ESCALATE_PASSES
    assert len(per["sf01_walls"]) == len(per["sf1_walls"]) == n_walls
    assert calls == [("small", 2), ("big", 2), ("small", 2), ("big", 2)]


def test_output_quadratic_op_in_gate_does_not_escalate(monkeypatch):
    oq = next(iter(sorted(bench.OUTPUT_QUADRATIC)))
    calls = []
    # raw ratio 10 trips a plain op, but per row (10/1000)/(1/100) = 1.0
    rows = {"small": 100, "big": 1000}
    fake = _fake_measure({"small": 1.0, "big": 10.0}, rows, calls)
    monkeypatch.setattr(bench, "measure", fake)
    per = bench.scale_probe_op(None, oq, SIDES, escalate=True)
    assert "escalated_passes" not in per and len(calls) == 2
    plain = bench.scale_probe_op(None, "plain_op", SIDES, escalate=True)
    assert plain["escalated_passes"] == bench.ESCALATE_PASSES


def test_escalation_off_for_sf10_tier(monkeypatch):
    calls = []
    fake = _fake_measure({"small": 1.0, "big": 500.0}, {"small": 1, "big": 1}, calls)
    monkeypatch.setattr(bench, "measure", fake)
    sides = (("sf01", "small", 2), ("sf10", "big", 1))
    per = bench.scale_probe_op(None, "plain_op", sides, escalate=False)
    assert "escalated_passes" not in per and per["ratio"] == 500.0
    assert calls == [("small", 2), ("big", 1)]
