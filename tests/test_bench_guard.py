"""Pin what remains of bench judging: the fan-out bench's burst pick, and
the alternating A/B rule that is the repo's only regression judge.

bench.py measures and reports; it calls no regression. A regression is
attributed by ``python tools/probe_queries.py --ab COMMIT q1 q2 ...``:
alternating HEAD/baseline probe windows, each a fresh process, judged
by ``ab_verdict`` (head floor > 1.15x baseline floor) with self-
escalation to 6 windows (``needs_escalation``) when a regression verdict
is under-powered or drift-suspect.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def test_fanout_burst_selection_excludes_warmup():
    """The fan-out warmup burst absorbs first-tick costs and must never
    set the headline rate — even when it is the fastest or the only
    complete burst."""
    from bench import pick_burst

    warm = {"warmup": True, "complete": True, "events_per_sec_per_sub": 99999.0, "sec": 0.1}
    slow = {"warmup": False, "complete": True, "events_per_sec_per_sub": 17000.0, "sec": 1.2}
    fast = {"warmup": False, "complete": True, "events_per_sec_per_sub": 24000.0, "sec": 0.8}
    assert pick_burst([warm, slow, fast]) is fast
    # no complete measured burst: best PARTIAL measured rate, never the
    # warmup, never a fabricated zero
    p1 = {"warmup": False, "complete": False, "events_per_sec_per_sub": 9000.0, "sec": 2.0}
    p2 = {"warmup": False, "complete": False, "events_per_sec_per_sub": 12000.0, "sec": 1.5}
    assert pick_burst([warm, p1, p2]) is p2


def test_ab_verdict_attributes_engine_vs_host():
    """The A/B attribution rule (tools/probe_queries.py --ab):
    min-of-windows on both sides, engine regression iff the HEAD floor is
    >1.15x the baseline floor. The r9 shape: identical old code slow in
    one window (host burst) must NOT convict HEAD when another baseline
    window was fast; a HEAD that is slow in EVERY window while the
    baseline floor stays low is the engine."""
    from tools.probe_queries import ab_verdict

    windows = {
        "W1_head": {"side": "head", "queries": {"q_host": 1.2, "q_eng": 2.0}},
        "W2_baseline": {"side": "base", "queries": {"q_host": 1.25, "q_eng": 1.0}},
        "W3_head": {"side": "head", "queries": {"q_host": 0.95, "q_eng": 2.1}},
        "W4_baseline": {"side": "base", "queries": {"q_host": 0.9, "q_eng": 1.05}},
    }
    v = ab_verdict(windows)
    # q_host: both sides oscillate together; floors 0.95 vs 0.9 -> host
    assert not v["q_host"]["engine_regression"], v
    # q_eng: head floor 2.0 vs baseline floor 1.0 -> engine
    assert v["q_eng"]["engine_regression"], v
    assert v["q_eng"]["ratio"] == 2.0
    # boundary: exactly at the factor does not convict
    at = ab_verdict({
        "W1": {"side": "head", "queries": {"q": 1.15}},
        "W2": {"side": "base", "queries": {"q": 1.0}},
    })
    assert not at["q"]["engine_regression"], at


def test_ab_verdict_self_reports_low_power():
    """r12: a 2+2-window run convicted two metrics on paths with zero
    changed code (min-of-2 floors flip easily on a noisy host); the 3+3
    rerun cleared both. A regression verdict resting on <3 windows per
    side must say so."""
    from tools.probe_queries import ab_verdict

    two_by_two = {
        "W1_head": {"side": "head", "queries": {"q": 1.4}},
        "W2_baseline": {"side": "base", "queries": {"q": 1.0}},
        "W3_head": {"side": "head", "queries": {"q": 1.45}},
        "W4_baseline": {"side": "base", "queries": {"q": 1.05}},
    }
    v = ab_verdict(two_by_two)
    assert v["q"]["engine_regression"] and v["q"].get("low_power") is True, v
    three_by_three = dict(two_by_two)
    three_by_three["W5_head"] = {"side": "head", "queries": {"q": 1.42}}
    three_by_three["W6_baseline"] = {"side": "base", "queries": {"q": 1.02}}
    v3 = ab_verdict(three_by_three)
    assert v3["q"]["engine_regression"], v3
    assert "low_power" not in v3["q"], "3 windows/side is full power"
    # a non-regression never carries the annotation
    clear = ab_verdict({
        "W1_head": {"side": "head", "queries": {"q": 1.0}},
        "W2_baseline": {"side": "base", "queries": {"q": 1.0}},
    })
    assert "low_power" not in clear["q"], clear


def test_ab_verdict_flags_monotone_drift():
    """Monotone host drift with early baseline arms inflates the floor
    ratio while every TIME-ADJACENT head/baseline pair stays near 1 —
    the pairwise median must expose it as drift_suspect. A true engine
    regression (head slower in every adjacent pair too) must NOT carry
    the annotation."""
    from tools.probe_queries import ab_verdict

    # session slows 1.0 -> 2.2 uniformly; arms alternate base-first, so
    # the baseline floor samples the fast early span
    drift = {
        "W1_baseline": {"side": "base", "queries": {"q": 1.0}},
        "W2_head": {"side": "head", "queries": {"q": 1.2}},
        "W3_baseline": {"side": "base", "queries": {"q": 1.5}},
        "W4_head": {"side": "head", "queries": {"q": 1.7}},
        "W5_baseline": {"side": "base", "queries": {"q": 2.0}},
        "W6_head": {"side": "head", "queries": {"q": 2.2}},
    }
    v = ab_verdict(drift)
    assert v["q"]["engine_regression"], v  # floor rule: 1.2 vs 1.0
    assert v["q"].get("drift_suspect") is True, v
    genuine = {
        "W1_baseline": {"side": "base", "queries": {"q": 1.0}},
        "W2_head": {"side": "head", "queries": {"q": 1.5}},
        "W3_baseline": {"side": "base", "queries": {"q": 1.05}},
        "W4_head": {"side": "head", "queries": {"q": 1.55}},
        "W5_baseline": {"side": "base", "queries": {"q": 0.98}},
        "W6_head": {"side": "head", "queries": {"q": 1.52}},
    }
    g = ab_verdict(genuine)
    assert g["q"]["engine_regression"], g
    assert "drift_suspect" not in g["q"], (
        "a head slower in every adjacent pair is the engine, not drift"
    )


def test_pair_ratio_median_is_unbiased_for_even_pair_counts():
    """ADVICE r12 #4: taking the upper-middle element for an even number
    of adjacent pairs biased the drift check toward the LARGER ratio
    (less likely to annotate drift). The true median averages the two
    middle elements."""
    from tools.probe_queries import ab_verdict

    # 5 alternating windows -> 4 adjacent pairs with ratios
    # [1.0, 1.2, 1.2, 1.0]: true median 1.1, biased upper-middle 1.2
    windows = {
        "W1_head": {"side": "head", "queries": {"q": 1.0}},
        "W2_baseline": {"side": "base", "queries": {"q": 1.0}},
        "W3_head": {"side": "head", "queries": {"q": 1.2}},
        "W4_baseline": {"side": "base", "queries": {"q": 1.0}},
        "W5_head": {"side": "head", "queries": {"q": 1.0}},
    }
    v = ab_verdict(windows)
    assert v["q"]["pair_ratio_median"] == 1.1, v


def test_ab_verdict_rate_direction():
    """Rate metrics (*_per_sec) attribute in the throughput direction:
    best = MAX across windows on both sides, ratio = baseline/head, so a
    HEAD whose best rate is >1.15x below the baseline's best rate is the
    engine, while rates that dip together are the host — the same
    A/B rule the queries get."""
    from tools.probe_queries import ab_verdict

    windows = {
        "W1_head": {"side": "head", "queries": {"host_r_per_sec": 20000.0, "eng_r_per_sec": 10000.0}},
        "W2_base": {"side": "base", "queries": {"host_r_per_sec": 19000.0, "eng_r_per_sec": 21000.0}},
        "W3_head": {"side": "head", "queries": {"host_r_per_sec": 26000.0, "eng_r_per_sec": 11000.0}},
        "W4_base": {"side": "base", "queries": {"host_r_per_sec": 26500.0, "eng_r_per_sec": 22000.0}},
    }
    v = ab_verdict(windows)
    # r_host: both sides reach ~26k in their best window -> host weather
    assert not v["host_r_per_sec"]["engine_regression"], v
    assert v["host_r_per_sec"]["head_best"] == 26000.0 and v["host_r_per_sec"]["baseline_best"] == 26500.0
    # r_eng: head tops out at 11k while baseline reaches 22k -> engine
    assert v["eng_r_per_sec"]["engine_regression"], v
    assert v["eng_r_per_sec"]["ratio"] == 2.0
    # boundary: exactly at the factor does not convict
    at = ab_verdict({
        "W1": {"side": "head", "queries": {"r_per_sec": 100.0}},
        "W2": {"side": "base", "queries": {"r_per_sec": 115.0}},
    })
    assert not at["r_per_sec"]["engine_regression"], at


def test_needs_escalation_rule():
    """VERDICT r12 #5: a regression verdict annotated low_power or
    drift_suspect self-escalates (run_ab extends the alternating run
    toward 6 windows) instead of relying on the operator to read the
    flag — the r12 window-4 incident showed the 4-window verdict gets
    believed. At 6+ windows the verdict stands either way."""
    from tools.probe_queries import needs_escalation

    low = {"q": {"engine_regression": True, "low_power": True}}
    drift = {"q": {"engine_regression": True, "drift_suspect": True}}
    clean_reg = {"q": {"engine_regression": True}}
    no_reg = {"q": {"engine_regression": False, "low_power": True}}
    assert needs_escalation(low, 4)
    assert needs_escalation(drift, 4)
    assert not needs_escalation(clean_reg, 4), "a full-power clean verdict stands"
    assert not needs_escalation(no_reg, 4), "no regression -> nothing to escalate"
    assert not needs_escalation(low, 6), "6 windows is the escalation ceiling"
    # mixed verdicts: any annotated regression escalates the whole run
    mixed = {
        "a": {"engine_regression": False},
        "b": {"engine_regression": True, "drift_suspect": True},
    }
    assert needs_escalation(mixed, 4)


def test_ab_windows_forward_measurement_flags(monkeypatch):
    """Every A/B window runs with the flags the A/B was started with: an
    ``--ab X --sf1 --no-warmup`` run must not silently measure both sides
    at the base SF or with warmup."""
    import json
    import subprocess
    from types import SimpleNamespace

    from tools import probe_queries

    calls = []

    def fake_run(cmd, **kw):
        calls.append(cmd)
        return SimpleNamespace(returncode=0, stdout=json.dumps({"queries": {}}) + "\n", stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    args = SimpleNamespace(
        sf_dir="/data/sf0.1", runs=3, sf1=True, no_warmup=True, queries=["q1", "q3"]
    )
    assert probe_queries._run_window("/tree", args) == {"queries": {}}
    cmd = calls[-1]
    assert cmd[1] == os.path.join("/tree", "tools", "probe_queries.py")
    assert cmd[2:] == [
        "--sf-dir", "/data/sf0.1", "--runs", "3", "--sf1", "--no-warmup", "q1", "q3"
    ]
    probe_queries._run_window("/tree", SimpleNamespace(**{**vars(args), "sf1": False, "no_warmup": False}))
    assert "--sf1" not in calls[-1] and "--no-warmup" not in calls[-1]
