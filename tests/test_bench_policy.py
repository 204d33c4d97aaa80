"""The bench's scaling-headline selection policy, tested without Spark.

BENCH_r{N}.json is a per-round deliverable produced by bench.py's policy
code; a bug there costs a whole round, so the selection logic is module-level
and covered here with synthetic round dicts. The invariants:

- a burst that inflates a SMALL pass (slope inflation) is rejected by the
  stability gate, so it can never become the headline;
- a burst that slows an N (denominator) side is rejected by the 10% N-slope
  band, so a spuriously HIGH ratio can never become the headline;
- clean rounds -> median of them, with the clean max as a secondary figure;
- no clean rounds -> median of all rounds, no clean-window figure.
"""

from __future__ import annotations

import pytest

import bench


def mk_side(cores, sec_small, sec, pairs_small=719_535, pairs=5_731_080,
            runs_small=None):
    return {
        "cores": cores,
        "pairs_small": pairs_small, "sec_small": sec_small,
        "pairs": pairs, "sec": sec,
        "runs_small": runs_small or [(pairs_small, sec_small)] * 3,
        "runs": [(pairs, sec)],
    }


def mk_round(n_small, n_large, n4_small, n4_large, n4_runs_small=None):
    n = mk_side(4, n_small, n_large)
    n4 = mk_side(16, n4_small, n4_large, runs_small=n4_runs_small)
    return {
        "n": n, "n4": n4,
        "eff": round(bench._slope(n4) / (bench._slope(n) * 4.0), 3),
        "stable": bench._side_stable(n) and bench._side_stable(n4),
    }


CLEAN = dict(n_small=12.5, n_large=94.0, n4_small=4.6, n4_large=29.9)


def test_clean_round_is_stable_and_efficient():
    r = mk_round(**CLEAN)
    assert r["stable"]
    assert 0.8 < r["eff"] <= 1.1


def test_burst_on_small_pass_fails_stability_gate():
    # small pass inflated to near the large pass: delta no longer dominates,
    # slope would be wildly inflated — the gate must reject it
    r = mk_round(n_small=12.5, n_large=94.0, n4_small=23.0, n4_large=29.9,
                 n4_runs_small=[(719_535, 23.0), (719_535, 24.0), (719_535, 23.5)])
    assert not r["stable"]
    assert r["eff"] > 2  # the inflation the gate exists to reject


def test_uncorroborated_small_min_fails_spread_check():
    # one lucky fast rep among slow ones: min not corroborated
    r = mk_round(n_small=12.5, n_large=94.0, n4_small=4.6, n4_large=29.9,
                 n4_runs_small=[(719_535, 4.6), (719_535, 23.1), (719_535, 50.7)])
    assert not r["stable"]


def test_headline_is_median_of_clean_rounds():
    rounds = [
        mk_round(**CLEAN),                                        # eff ~0.95
        mk_round(n_small=12.5, n_large=94.0, n4_small=4.6, n4_large=33.0),
        mk_round(n_small=12.5, n_large=94.0, n4_small=4.6, n4_large=31.0),
    ]
    headline, clean_max, clean = bench._select_headline(rounds)
    assert len(clean) == 3
    effs = sorted(r["eff"] for r in rounds)
    assert headline["eff"] == effs[1]          # the median, not the max
    assert clean_max == effs[-1]               # max kept as secondary figure


def test_slowed_denominator_round_excluded_from_headline():
    # round 2's N side caught a burst (large pass 3x slower): its ratio is
    # spuriously HIGH; the 10% N-slope band must exclude it
    slow_n = mk_round(n_small=12.5, n_large=280.0, n4_small=4.6, n4_large=29.9)
    clean = mk_round(**CLEAN)
    assert slow_n["eff"] > clean["eff"]
    headline, _, kept = bench._select_headline([clean, slow_n])
    assert slow_n not in kept
    assert headline is clean


def test_reported_efficiency_capped_at_one():
    # an N-side burst makes the raw ratio superlinear; the REPORTED headline
    # must never exceed 1.0 (raw value stays available for audit)
    assert bench._cap_efficiency(1.468) == 1.0
    assert bench._cap_efficiency(0.895) == 0.895


def test_no_clean_rounds_falls_back_to_median_of_all():
    r1 = mk_round(n_small=12.5, n_large=94.0, n4_small=23.0, n4_large=29.9,
                  n4_runs_small=[(719_535, 23.0), (719_535, 24.0), (719_535, 23.5)])
    r2 = mk_round(n_small=12.5, n_large=94.0, n4_small=24.0, n4_large=29.9,
                  n4_runs_small=[(719_535, 24.0), (719_535, 25.0), (719_535, 24.5)])
    headline, clean_max, kept = bench._select_headline([r1, r2])
    assert kept == [] and clean_max is None
    assert headline in (r1, r2)


def test_stdout_payload_stays_compact_and_never_leaks_rounds():
    """BENCH_r03 failed to parse because the stdout JSON outgrew the driver's
    tail-capture window. The payload must stay small (summary scalars only)
    and the per-round raw arrays must go to the side dict, not stdout —
    even at the maximum round count (repeats + extra = 6) with 3 reps and
    3 large runs per side."""
    import json

    rounds = [mk_round(**CLEAN) for _ in range(6)]
    for r in rounds:  # worst case: every side carries full rep arrays
        for side in ("n", "n4"):
            r[side]["runs_small"] = [(719_535, 12.5)] * 3
            r[side]["runs"] = [(5_731_080, 94.0)] * 3
    headline, clean_max, n_clean = bench._select_headline(rounds)
    scaling = {
        "input_convs": 24000, "pairs_scored": 6_686_320,
        "local4_sec": 94.0, "local16_sec": 29.9,
        "local4_pairs_per_sec": 66456.6, "local16_pairs_per_sec": 265959.6,
        "throughput_estimator": "marginal (slope between the two pass sizes)",
        "scaling_efficiency": bench._cap_efficiency(headline["eff"]),
        "raw_headline_efficiency": headline["eff"],
        "scaling_policy": "x" * 300,  # longer than the real policy string
        "clean_window_max_efficiency": clean_max,
        "n_clean_rounds": len(n_clean),
        "all_rounds_implausible_burst": False,
        "median_round_efficiency": headline["eff"],
        "round_efficiencies": [r["eff"] for r in rounds],
        "rounds": rounds,
    }
    queries = {f"q{i:02d}": 12.345 for i in range(12)}
    f1 = {"tp": 500, "fp": 0, "fn": 0, "tn": 684,
          "precision": 1.0, "recall": 1.0, "f1": 1.0}
    out, raw = bench._stdout_payload(queries, [36.6, 36.6, 34.2], f1, scaling,
                                     "/root/testdata/sf0.1")
    line = json.dumps(out)
    assert "rounds" not in out.get("scaling", {})
    assert raw is not None and len(raw["rounds"]) == 6
    assert len(line) < 4096, len(line)  # fits any sane tail-capture window
    assert json.loads(line)["scaling"]["raw_rounds_file"] == "bench_raw_last.json"
    assert "rounds" in scaling  # caller's dict is not mutated
    # no scaling phase -> no side file payload
    out2, raw2 = bench._stdout_payload(queries, [36.6], f1, None, "/x/sf0.01")
    assert raw2 is None and "scaling" not in out2 and out2["sf"] == 0.01


def test_scaling_cores_fit_the_host(monkeypatch):
    """The N-vs-4N pair comes from the CPUs the bench may use: 4N never
    exceeds them, and below 4 CPUs the scaling phase reports why it was
    skipped instead of pinning workers to CPUs that are not there."""
    assert bench._scaling_cores(32) == (8, 32)
    assert bench._scaling_cores(6) == (1, 4)
    assert bench._scaling_cores(4) == (1, 4)
    assert bench._scaling_cores(3) is None
    assert bench.SCALING_CORES == bench._scaling_cores(bench.CPUS)

    monkeypatch.setattr(bench, "SCALING_CORES", None)
    monkeypatch.setattr(bench, "_scaling_round", lambda cores: pytest.fail("ran a round"))
    scaling = bench._run_scaling()
    assert list(scaling) == ["skipped"]
    f1 = {"tp": 1, "fp": 0, "fn": 0, "tn": 1, "precision": 1.0, "recall": 1.0, "f1": 1.0}
    out, raw = bench._stdout_payload({"q": 1.0}, [1.0], f1, scaling, "/x/sf0.01", cpus=2)
    assert raw is None
    assert out["scaling"] == scaling and out["cpus"] == 2
