"""Replay the recorded round-16 bench-detail chain through the round-17
flag machinery (VERDICT r16 #5).

The r16 driver run flagged seven >=1.3x "regressions" on IDENTICAL code
(bench history records the exact inputs — tests/fixtures/bench_r16_replay
.json): the end-probe normalizer (1.0555) disagreed with the suite-wide
median raw ratio (0.9755) just enough to manufacture flags, and the
single-sample baseline was itself a noisy cross-session draw. These tests
pin that the median-anchored, median-of-last-3-baseline candidate stage
dissolves five of the seven on the recorded data, and that the in-session
retime stage (simulated here with steady-state retime values; live bench
re-times for real) clears the remainder — zero confirmed flags on a
no-code-change round. Pure-function tests: no Spark session."""

from __future__ import annotations

import json
import os

import pytest

import bench

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "bench_r16_replay.json")

R16_PROBE_FLAGS = {
    "q116_knn_batch",
    "q120_multi_phrase",
    "q33_token_stats",
    "q74_bpe_merges",
    "q75_bpe_token_budget",
    "q77_tfidf_terms",
    "q82_dsir_importance",
}


@pytest.fixture(scope="module")
def replay():
    with open(FIXTURE) as f:
        return json.load(f)


def _chain(details):
    """Run the ``recent``-chain machinery forward over recorded details
    (oldest first), exactly as successive bench sessions would have:
    each step prepends that session's fresh times and re-scales older
    entries by the pair's suite-median ratio."""
    recent: dict[str, list[float]] = {}
    prev = None
    for d in details:
        fresh = {
            n: t
            for n, t in d["queries"].items()
            if n not in set(d.get("carried", []))
        }
        if prev is None:
            m = 1.0
        else:
            m = bench.suite_median_ratio(
                fresh, prev["queries"], set(prev.get("carried", []))
            )
        recent = bench.updated_recent(fresh, recent, m)
        prev = d
    return recent, prev


def test_recorded_probe_flags_are_the_seven(replay):
    """Guard the fixture: the r16 driver detail really recorded the seven
    probe-normalized flags this machinery exists to prevent."""
    rec = replay["r16_driver"]["drift"]["normalized_regressions_ge_1p3"]
    assert set(rec) == R16_PROBE_FLAGS


def test_median_anchor_on_recorded_pair(replay):
    """The suite-median ratio of the recorded r16 pair is the 0.9755 the
    r16 verdict adjudicated by hand — computed mechanically here."""
    cur, prev = replay["r16_driver"], replay["r16_builder"]
    m = bench.suite_median_ratio(
        {n: t for n, t in cur["queries"].items() if n not in set(cur["carried"])},
        prev["queries"],
        set(prev.get("carried", [])),
    )
    assert m == pytest.approx(0.9755, abs=0.002)
    # and it disagrees with the recorded probe factor by the ~8% that
    # manufactured the flags
    assert cur["drift"]["drift_factor"] / m > 1.05


def test_candidate_stage_dissolves_five_of_seven(replay):
    """Median anchor + median-of-last-3 baseline on the RECORDED chain:
    the five moderate flags (q33/q74/q75/q77/q82/q120 minus the one kept)
    are not even candidates; only genuinely-extreme single-session draws
    survive to the retime stage."""
    details = [
        replay["r15_builder"],
        replay["r15_driver"],
        replay["r16_builder"],
    ]
    prev_recent, prev = _chain(details)
    cur = replay["r16_driver"]
    cur_fresh = {
        n: t for n, t in cur["queries"].items() if n not in set(cur["carried"])
    }
    m = bench.suite_median_ratio(
        cur_fresh, prev["queries"], set(prev.get("carried", []))
    )
    baselines = bench.robust_baselines(
        prev["queries"], prev_recent, m, set(prev.get("carried", []))
    )
    candidates = bench.flag_candidates(cur_fresh, baselines)
    # the five moderate spurious flags do not survive the candidate stage
    dissolved = {
        "q33_token_stats",
        "q74_bpe_merges",
        "q75_bpe_token_budget",
        "q77_tfidf_terms",
        "q82_dsir_importance",
    }
    assert not (set(candidates) & dissolved), candidates
    # the extreme single-session draws (q116 ran 1.74x its robust
    # baseline, q120 1.30x — judge's standalone retimes cleared both)
    # correctly remain candidates for the retime stage, and the candidate
    # set stays small
    assert "q116_knn_batch" in candidates
    assert len(candidates) <= 4, candidates


def test_retime_stage_clears_surviving_candidates(replay):
    """Zero CONFIRMED flags on the recorded no-code-change round: feeding
    the retime stage steady-state re-measurements (the judge's standalone
    min-of-3 retimes normalized every flagged query back to ~1.0, i.e. to
    baseline) clears every candidate — the full pipeline reports nothing."""
    details = [
        replay["r15_builder"],
        replay["r15_driver"],
        replay["r16_builder"],
    ]
    prev_recent, prev = _chain(details)
    cur = replay["r16_driver"]
    cur_fresh = {
        n: t for n, t in cur["queries"].items() if n not in set(cur["carried"])
    }
    m = bench.suite_median_ratio(
        cur_fresh, prev["queries"], set(prev.get("carried", []))
    )
    baselines = bench.robust_baselines(
        prev["queries"], prev_recent, m, set(prev.get("carried", []))
    )
    candidates = bench.flag_candidates(cur_fresh, baselines)
    confirmed = {}
    for name in candidates:
        retime = baselines[name]  # steady-state re-measurement
        t_final = min(cur_fresh[name], retime)
        if t_final / baselines[name] >= bench.FLAG_THRESHOLD:
            confirmed[name] = t_final / baselines[name]
    assert confirmed == {}


def test_real_regression_still_flags(replay):
    """The machinery must not be a flag suppressor: a genuine 2x
    slowdown present in BOTH the first timing and the retime survives
    every stage."""
    details = [
        replay["r15_builder"],
        replay["r15_driver"],
        replay["r16_builder"],
    ]
    prev_recent, prev = _chain(details)
    cur = replay["r16_driver"]
    cur_fresh = {
        n: t for n, t in cur["queries"].items() if n not in set(cur["carried"])
    }
    victim = "q03_revenue_by_nation"
    cur_fresh[victim] = round(cur_fresh[victim] * 2.0, 3)
    m = bench.suite_median_ratio(
        cur_fresh, prev["queries"], set(prev.get("carried", []))
    )
    baselines = bench.robust_baselines(
        prev["queries"], prev_recent, m, set(prev.get("carried", []))
    )
    candidates = bench.flag_candidates(cur_fresh, baselines)
    assert victim in candidates
    # retime reproduces the slowdown -> confirmed
    t_final = min(cur_fresh[victim], cur_fresh[victim])
    assert t_final / baselines[victim] >= bench.FLAG_THRESHOLD


def test_bootstrap_without_recent_chain(replay):
    """First round after the machinery lands: prev detail has no
    ``recent`` map — baselines fall back to the single previous value and
    the candidate computation still runs (no KeyError, sane ratios)."""
    prev = replay["r16_builder"]
    cur = replay["r16_driver"]
    cur_fresh = {
        n: t for n, t in cur["queries"].items() if n not in set(cur["carried"])
    }
    m = bench.suite_median_ratio(
        cur_fresh, prev["queries"], set(prev.get("carried", []))
    )
    baselines = bench.robust_baselines(prev["queries"], {}, m)
    assert baselines["q03_revenue_by_nation"] == pytest.approx(
        prev["queries"]["q03_revenue_by_nation"] * m
    )
    candidates = bench.flag_candidates(cur_fresh, baselines)
    # single-sample baselines are noisier than the chain; the candidate
    # set may be larger but must stay a small fraction of the suite (the
    # retime stage adjudicates them in-session)
    assert len(candidates) < len(cur_fresh) * 0.1


def test_updated_recent_caps_at_three(replay):
    rec = bench.updated_recent({"x": 1.0}, {"x": [2.0, 3.0, 4.0]}, 0.5)
    assert rec["x"] == [1.0, 1.0, 1.5]


def test_demo_lane_members_are_registered():
    """Every demo-lane query exists in the registry and keeps an oracle
    (the lane changes WHERE it is timed, never whether it is
    value-checked)."""
    from syntenybrowserv2_etl_spark import queries as q

    for name in bench.EXPENSIVE_EXACT_DEMOS:
        assert name in q.REGISTRY
        assert q.REGISTRY[name].oracle is not None


def test_bench_name_lists_are_registered():
    """Every query bench.py names is registered: a name left behind by a
    deleted query would raise KeyError in ``suite78_prod_sec``'s sum or
    in the calibration probe."""
    from syntenybrowserv2_etl_spark import queries as q

    for name in (
        bench.HEADLINE + bench.CURATION + bench.CALIBRATION
        + bench.EXPENSIVE_EXACT_DEMOS
    ):
        assert name in q.REGISTRY, name
