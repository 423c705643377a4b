"""The bench's cross-round regression self-gate (r11 verdict task 1).

The driver's ``BENCH_r{N}.json`` artifacts have carried ``parsed: null``
since round 5 and their ``tail`` is front-truncated, so for seven rounds
the gate compared against ``{}`` — vacuously empty.  ``bench.py`` now
persists its own parsed payload per round in ``BENCH_SELF.json`` and
gates against the newest round strictly before its own at the same sf.
These tests feed a synthetic history through the selection AND the
comparison logic — no Spark, no disk beyond a tmpdir.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


# ------------------------------------------------------------ gate math
def test_regression_gate_thresholds():
    base = {"q_a": 2.0, "q_b": 2.0, "q_c": 0.2}
    # >1.5x AND >1s absolute: flags
    out = bench._regressions({"q_a": 3.6}, base)
    assert out == {"q_a": {"now": 3.6, "baseline": 2.0, "ratio": 1.8}}
    # >1.5x but within the 1s absolute floor: sub-second jitter, no flag
    assert bench._regressions({"q_c": 0.9}, base) == {}
    # big but <=1.5x: no flag
    assert bench._regressions({"q_b": 2.9}, base) == {}
    # unknown names, and a query that also failed in the baseline: skipped
    assert bench._regressions({"q_new": 9.0, "q_gone": -1.0}, {"q_gone": -1.0}) == {}


def test_crash_of_a_baselined_query_is_a_failure():
    """A query that ran in the baseline and crashes now (the -1.0
    sentinel) is flagged; it must not drop out of the gate and the total
    and read as a faster round (r15 printed `"regressions": {}` over three
    crashed queries)."""
    base = {"q_a": 2.0, "q_b": 1.5, "q_c": -1.0}
    now = {"q_a": 2.1, "q_b": -1.0, "q_c": -1.0, "q_new": -1.0}
    assert bench._regressions(now, base) == {
        "q_b": {"now": -1.0, "baseline": 1.5, "failed": True}
    }
    # however the host drifted
    assert "q_b" in bench._regressions(now, base, 0.5)
    assert "q_b" in bench._regressions(now, base, 3.0)
    # the raw total drops q_b; the common total compares like with like
    assert bench._common_total(now, base) == {"queries": 1, "now": 2.1, "baseline": 2.0}


def test_host_ratio_is_one_sided():
    base = {"q_a": 2.0}
    # slower host (ratio 1.3) inflates the baseline: 3.6 < 1.5*2.6 → no flag
    assert bench._regressions({"q_a": 3.6}, base, 1.3) == {}
    # ...but 4.2 > 1.5*2.6 still flags
    assert bench._regressions({"q_a": 4.2}, base, 1.3) != {}
    # FASTER host (ratio < 1) must NOT shrink the baseline (fixed costs
    # don't scale with the probe): raw-base comparison stands
    assert bench._regressions({"q_a": 2.9}, base, 0.5) == {}
    assert bench._regressions({"q_a": 3.6}, base, 0.5) != {}


# --------------------------------------------------- history selection
def _driver_artifact(d, n, parsed=None):
    with open(os.path.join(d, f"BENCH_r{n:02d}.json"), "w") as f:
        json.dump({"n": n, "rc": 0, "tail": "...", "parsed": parsed}, f)


def _self_history(d, rounds: dict):
    with open(os.path.join(d, bench._SELF_FILE), "w") as f:
        json.dump({"rounds": rounds}, f)


def test_baseline_prefers_self_history_and_skips_current_round(tmp_path):
    d = str(tmp_path)
    _driver_artifact(d, 11)  # parsed: null — the real post-r5 shape
    _self_history(
        d,
        {
            "10": {"sf": 0.1, "queries": {"q_a": 1.0}, "calibration_sec": 0.4},
            "11": {"sf": 0.1, "queries": {"q_a": 1.5}, "calibration_sec": 0.5},
            # an entry for the CURRENT round (12) — an earlier local run
            # this round — must never become its own baseline
            "12": {"sf": 0.1, "queries": {"q_a": 9.9}, "calibration_sec": 9.9},
        },
    )
    assert bench._driver_round(d) == 11
    rnd, base = bench._baseline_artifact(d, sf=0.1)
    assert rnd == 11 and base["queries"] == {"q_a": 1.5}


def test_baseline_filters_by_sf_and_falls_back_to_driver_parsed(tmp_path):
    d = str(tmp_path)
    # self history exists but at the wrong sf (local sf0.01 iteration)
    _self_history(d, {"11": {"sf": 0.01, "queries": {"q_a": 0.1}}})
    _driver_artifact(d, 11)  # parsed null
    _driver_artifact(
        d, 4, parsed={"sf": 0.1, "queries": {"q_a": 7.0}, "calibration_sec": 0.6}
    )
    rnd, base = bench._baseline_artifact(d, sf=0.1)
    assert rnd == 4 and base["queries"] == {"q_a": 7.0}  # pre-r5 driver fallback

    # the driver fallback is sf-filtered too: a 0.1-sf record must not
    # gate a 0.001-sf local run (caught live on the r12 smoke run)
    assert bench._baseline_artifact(d, sf=0.001) == (0, {})

    # nothing usable at all → visibly vacuous, not an error
    empty = str(tmp_path / "empty")
    os.mkdir(empty)
    assert bench._baseline_artifact(empty, sf=0.1) == (0, {})


def test_persist_self_merges_and_bounds_history(tmp_path):
    d = str(tmp_path)
    _driver_artifact(d, 11)  # current round = 12
    _self_history(d, {str(r): {"sf": 0.1, "queries": {}} for r in range(1, 12)})
    bench._persist_self({"sf": 0.1, "queries": {"q_a": 2.0}, "calibration_sec": 0.4}, d)
    hist = json.load(open(os.path.join(d, bench._SELF_FILE)))["rounds"]
    assert hist["12"]["0.1"]["queries"] == {"q_a": 2.0}
    assert len(hist) == 8 and "4" not in hist  # bounded, oldest dropped
    # a second run at the SAME (round, sf) overwrites (last wins — the
    # driver's official run is last, so round 13 gates on official numbers)
    bench._persist_self({"sf": 0.1, "queries": {"q_a": 2.5}, "calibration_sec": 0.5}, d)
    hist = json.load(open(os.path.join(d, bench._SELF_FILE)))["rounds"]
    assert hist["12"]["0.1"]["queries"] == {"q_a": 2.5}
    # main() resolves the round once and threads it — a driver artifact
    # landing mid-run must not shift the record to the wrong round
    bench._persist_self({"sf": 0.1, "queries": {}}, d, current_round=12)
    _driver_artifact(d, 12)  # lands "mid-run"
    bench._persist_self({"sf": 0.1, "queries": {"q_a": 3.0}}, d, current_round=12)
    hist = json.load(open(os.path.join(d, bench._SELF_FILE)))["rounds"]
    assert hist["12"]["0.1"]["queries"] == {"q_a": 3.0} and "13" not in hist
    # ...and the gate skips the current round even when threaded
    rnd, _ = bench._baseline_artifact(d, sf=0.1, current_round=12)
    assert rnd < 12


def test_persist_self_keys_by_sf_no_cross_sf_clobber(tmp_path):
    """r12 advice (medium): a local sf0.01 iteration run executed AFTER
    the round's official sf0.1 bench must NOT overwrite the official
    record — with round-only keying the next round's sf0.1 gate found no
    matching-sf entry and went vacuous."""
    d = str(tmp_path)
    _driver_artifact(d, 12)  # current round = 13
    # official sf0.1 run, then a later local sf0.01 iteration run
    bench._persist_self({"sf": 0.1, "queries": {"q_a": 2.0}, "calibration_sec": 0.4}, d)
    bench._persist_self({"sf": 0.01, "queries": {"q_a": 0.1}}, d)
    hist = json.load(open(os.path.join(d, bench._SELF_FILE)))["rounds"]
    assert hist["13"]["0.1"]["queries"] == {"q_a": 2.0}  # survived
    assert hist["13"]["0.01"]["queries"] == {"q_a": 0.1}
    # round 14's sf0.1 gate still finds the official record
    rnd, base = bench._baseline_artifact(d, sf=0.1, current_round=14)
    assert rnd == 13 and base["queries"] == {"q_a": 2.0}
    # ...and an sf0.01 local run next round gates against its own sf
    rnd, base = bench._baseline_artifact(d, sf=0.01, current_round=14)
    assert rnd == 13 and base["queries"] == {"q_a": 0.1}


def test_persist_self_renests_legacy_flat_round_entry(tmp_path):
    """A pre-r13 flat entry for the current round (payload directly under
    the round key) is re-nested under its own sf instead of being merged
    into as if it were an sf map."""
    d = str(tmp_path)
    _driver_artifact(d, 12)
    _self_history(d, {"13": {"sf": 0.1, "queries": {"q_a": 5.0}}})
    bench._persist_self({"sf": 0.01, "queries": {"q_a": 0.2}}, d)
    hist = json.load(open(os.path.join(d, bench._SELF_FILE)))["rounds"]
    assert hist["13"]["0.1"]["queries"] == {"q_a": 5.0}
    assert hist["13"]["0.01"]["queries"] == {"q_a": 0.2}
    # and the read side understands BOTH shapes (legacy rounds untouched)
    _self_history(
        d,
        {
            "11": {"sf": 0.1, "queries": {"q_old": 1.0}},  # legacy flat
            "12": {"0.1": {"sf": 0.1, "queries": {"q_new": 2.0}}},  # nested
        },
    )
    rnd, base = bench._baseline_artifact(d, sf=0.1, current_round=13)
    assert rnd == 12 and base["queries"] == {"q_new": 2.0}
    rnd, base = bench._baseline_artifact(d, sf=0.1, current_round=12)
    assert rnd == 11 and base["queries"] == {"q_old": 1.0}


def test_baseline_skips_stray_artifact_names(tmp_path):
    d = str(tmp_path)
    with open(os.path.join(d, "BENCH_rerun.json"), "w") as f:
        f.write("{}")  # glob-matching, regex-failing stray — must not crash
    assert bench._driver_round(d) == 0
    assert bench._baseline_artifact(d, sf=0.1) == (0, {})


# ------------------------------------------------------- gate properties
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    base=st.floats(0.01, 100, allow_nan=False),
    t1=st.floats(0.0, 200, allow_nan=False),
    bump=st.floats(0.0, 50, allow_nan=False),
    ratio=st.floats(0.1, 5, allow_nan=False),
)
def test_gate_monotone_in_measured_time(base, t1, bump, ratio):
    """If a time flags, any LARGER time (same baseline, same host
    ratio) must also flag — the gate can never be escaped by getting
    slower."""
    name = "q_prop"
    b = {name: base}
    r1 = name in bench._regressions({name: t1}, b, ratio)
    r2 = name in bench._regressions({name: t1 + bump}, b, ratio)
    assert not (r1 and not r2)


@settings(max_examples=200, deadline=None)
@given(
    base=st.floats(0.01, 100, allow_nan=False),
    t=st.floats(0.0, 200, allow_nan=False),
    fast=st.floats(0.1, 1.0, allow_nan=False),
)
def test_gate_fast_host_never_tightens(base, t, fast):
    """A host ratio < 1 (faster host than the baseline's) must gate
    exactly like ratio = 1 — fixed costs don't scale with the probe, so
    a fast round must not flag queries that are absolutely no slower."""
    name = "q_prop"
    b = {name: base}
    assert bench._regressions({name: t}, b, fast) == bench._regressions(
        {name: t}, b, 1.0
    )


@settings(max_examples=200, deadline=None)
@given(
    base=st.floats(0.01, 100, allow_nan=False),
    t=st.floats(0.0, 200, allow_nan=False),
    slow=st.floats(1.0, 5, allow_nan=False),
)
def test_gate_never_flags_absolutely_faster_runs(base, t, slow):
    """A raw time at or below the raw baseline never flags, whatever
    the host ratio claims — while an error sentinel always does."""
    name = "q_prop"
    if t <= base:
        assert bench._regressions({name: t}, {name: base}, slow) == {}
    assert bench._regressions({name: -1.0}, {name: base}, slow)[name]["failed"]


def test_live_repo_gate_is_armed():
    """The repo's own BENCH_SELF.json must give the NEXT bench run a
    non-empty baseline — the gate stays dead if this ever regresses."""
    rnd, base = bench._baseline_artifact(sf=0.1)
    assert rnd >= 11
    assert len(base.get("queries") or {}) >= 40
    assert bench._baseline_calibration(base) > 0


def test_scale10_rows_feed_the_same_regression_gate(tmp_path):
    """r12 verdict task 5: the HOT-set scale rows ride in the payload's
    ``scale10`` key and run through the SAME _regressions math as the
    sf0.1 queries — a 10× plan-shape regression (r11's hyperplane bug
    class) flags the round instead of waiting for a BENCH_SCALE refresh."""
    base_scale = {"scale10:embed_lsh_pairs": 10.0, "scale10:serve_incremental": 2.0}
    # a 10x blow-up (the r11 bug shape) flags...
    out = bench._regressions({"scale10:embed_lsh_pairs": 100.0}, base_scale)
    assert out["scale10:embed_lsh_pairs"]["ratio"] == 10.0
    # ...ordinary jitter does not
    assert bench._regressions(
        {"scale10:embed_lsh_pairs": 11.0, "scale10:serve_incremental": 2.4},
        base_scale,
    ) == {}
    # the (round, sf) self-history carries the scale rows so the next
    # round's gate has a baseline for them
    d = str(tmp_path)
    _driver_artifact(d, 12)
    bench._persist_self(
        {"sf": 0.1, "queries": {"q_a": 1.0}, "scale10": base_scale}, d
    )
    _, base = bench._baseline_artifact(d, sf=0.1, current_round=14)
    assert base["scale10"] == base_scale


def test_scale10_compacted_serve_row_is_gated(tmp_path):
    """r14 verdict task 1: the compacted-serve row rides the same gate.
    The round it first appears it has no baseline and must not flag
    (nor crash); once a prior round recorded it, a blow-up — e.g. a
    compaction layout change that re-fragments buckets, or a pruned-read
    regression over the compacted store — fails the round."""
    # first appearance: no baseline entry for the new row → silent
    assert bench._regressions(
        {"scale10:serve_compacted": 1.9},
        {"scale10:serve_incremental": 2.0},
    ) == {}
    # later rounds: baselined and gated like any other row
    base = {"scale10:serve_compacted": 1.9, "scale10:serve_incremental": 2.0}
    out = bench._regressions({"scale10:serve_compacted": 12.0}, base)
    assert out["scale10:serve_compacted"]["ratio"] > 6
    assert bench._regressions({"scale10:serve_compacted": 2.2}, base) == {}
    # a row that ran in the baseline and fails now (-1 sentinel) flags
    out = bench._regressions({"scale10:serve_compacted": -1.0}, base)
    assert out["scale10:serve_compacted"]["failed"]


def test_scale10_marker_three_state_protocol(tmp_path):
    """r14 review: an UNREADABLE marker must read as 'skip this
    section', not 'rebuild' — a persistently unreadable marker
    otherwise re-runs a minutes-long build every round forever."""
    m = str(tmp_path / "marker")
    assert bench._marker_state(m) is False  # missing → rebuild
    assert bench._marker_write(m, "note")
    assert bench._marker_state(m) is True  # fresh → reuse
    with open(m, "w") as f:
        f.write("v0-ancient: something else")
    assert bench._marker_state(m) is False  # stale layout → rebuild
    d = str(tmp_path / "marker_dir")
    import os

    os.mkdir(d)
    assert bench._marker_state(d) is None  # unreadable → skip
    assert bench._marker_write(d, "x") is False  # unwritable → not fresh
