#!/usr/bin/env python
"""Benchmark harness. Prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "scaling": {...}}

Two phases:

1. **Headline queries** at ``$SPARK_GRAFT_SF_DIR`` (default
   ``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` — each timed to
   a no-op sink (full plan execution, no driver collect cost).

2. **Scaling** (the BASELINE.md two-cluster-size criterion, sandbox form):
   the candidate-pair scoring pipeline over a deterministic synthetic
   transcripts table, run in *separate subprocesses* at ``local[N]`` and
   ``local[4N]`` (taskset-pinned; see SCALING_CORES for the N choice) on
   identical input; reports candidate-pairs-scored/sec at both plus
   efficiency = throughput(4N) / (4 * throughput(N)). Below 4 CPUs it
   reports ``{"skipped": reason}``.

Skip the scaling phase with ``SPARK_GRAFT_BENCH_SCALING=0`` (it adds ~2 min).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the CPUs this process may run on, not the machine's count
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "24000"))


def _scaling_cores(cpus: int) -> tuple[int, int] | None:
    """The N-vs-4N core pair for the scaling criterion: the largest N whose
    4N fits in ``cpus``; None below 4 CPUs, where no honest pair exists."""
    n = cpus // 4
    return (n, 4 * n) if n else None


SCALING_CORES = _scaling_cores(CPUS)
# Steady state is reached by an UNTIMED warm pass at fanout/10 first (same
# operators, same UDF kernels — JIT + codegen warm-up at ~1/10 the cost of a
# timed pass); then each worker times the scoring job at TWO sizes
# (fanout/8 and fanout) and reports both. Throughput is the SLOPE between
# them — marginal pairs/sec — which cancels per-job fixed costs (broadcast
# build, stage scheduling, session overhead) exactly, instead of requiring
# jobs long enough to amortize them below the noise floor. Fixed costs are
# the same additive constant at both sizes by construction (identical plan,
# only the fanout literal differs).

HEADLINE = [
    "er_conv_signatures",
    "er_block_table",
    "er_scored_pairs",
    "er_linkage_clusters",
    "er_substring_block",
    "er_choose_candidate",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "text_quality",
    "text_langid",
]


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Untimed warm-up scale: running each headline query once at sf0.001 first
# compiles the same whole-stage-codegen classes and JIT-warms the same JVM
# paths the timed sf run hits (generated code is identical across scale
# factors, so the codegen cache carries over). This matches the scaling
# phase's documented 2-pass methodology: the reported number is steady-state
# throughput — what a long-running cluster job sees — not one-off
# session-startup + Janino-compile cost (~8s of the first query's wall time
# at sf0.1). Disable with SPARK_GRAFT_BENCH_WARMUP=0 to measure cold.
WARMUP_SF_DIR = os.environ.get(
    "SPARK_GRAFT_BENCH_WARMUP_SF_DIR", "/root/testdata/sf0.001"
)


# timed executions of the whole headline batch; per-query time is the MIN
# across passes (cache cleared between passes, so each is an independent
# cold-shared-state execution of the same 12-query pipeline). One pass costs
# ~36s at 32 cores when the box is quiet; the extra passes buy burst
# robustness — this VM's external interference arrives in multi-minute
# bursts that inflate a single-sample headline up to ~10x per query
# (measured 2026-08-17: the same pass executed in 260s and 128s back to
# back, 36s clean). The noise is intermittent WITHIN a pass, so the
# per-query min across passes recovers most of the clean profile even when
# every pass is partially hit.
HEADLINE_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_PASSES", "3"))

# Soft wall-clock budgets (seconds) — graceful degradation, not precision:
# when a burst inflates passes/rounds several-fold, extra repetitions stop
# once the phase has spent its budget (always completing at least one), so
# the whole bench stays inside the driver's run window instead of timing
# out with no output. Clean-window runs never hit these.
HEADLINE_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_BUDGET", "420"))
SCALING_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_SCALING_BUDGET", "1200"))


def _headline(spark) -> tuple[dict[str, float], list[float]]:
    import __spark_entry__ as entry

    qs = entry.queries()
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        for name in HEADLINE:
            fn = qs.get(name)
            if fn is not None:
                _sink(fn(spark, WARMUP_SF_DIR))
        spark.catalog.clearCache()  # drop sf0.001 cached frames before timing

    passes: list[dict[str, float]] = []
    phase_t0 = time.monotonic()
    for _ in range(max(1, HEADLINE_PASSES)):
        if passes and time.monotonic() - phase_t0 > HEADLINE_BUDGET:
            break  # burst regime: keep what we have rather than overrun
        out: dict[str, float] = {}
        for name in HEADLINE:
            fn = qs.get(name)
            if fn is None:
                continue
            t0 = time.monotonic()
            _sink(fn(spark, SF_DIR))
            out[name] = round(time.monotonic() - t0, 3)
        passes.append(out)
        # shared frames (_profiles/_blocks) persist across queries within a
        # pass — that batch-pipeline semantic is part of what's measured —
        # but must not leak INTO the next pass
        spark.catalog.clearCache()
    best = {
        name: min(p[name] for p in passes) for name in passes[0]
    }
    totals = [round(sum(p.values()), 3) for p in passes]
    return best, totals


# Each conv is scored against its next N neighbors. The slope estimator
# cancels fixed costs exactly (see the slope note above), so the pass no longer
# needs to be big enough to amortize them below the noise floor — it only
# needs enough work that the large-minus-small delta (~3/4 of the large
# pass) is a stable timing target: ~5.7M large / ~1.4M small pairs gives a
# ~60s delta region at 4 cores. Shorter rounds matter on this VM: external
# interference arrives in multi-minute bursts, and the median-of-rounds
# defense works only if rounds are short enough that some land clean.
PAIR_FANOUT = int(os.environ.get("SPARK_GRAFT_BENCH_FANOUT", "240"))


def _scaling_worker(cores: int) -> None:
    """Time the pairwise-scoring stage (the metric's numerator) in isolation.

    Profiles are materialized (cached + counted) before the clock starts, so
    the measured region is exactly: pair join + JVM-kernel Jaccard/containment
    + Levenshtein + Jaro-Winkler + verdict, over a deterministic
    dense pair set (conv k x conv k+1..k+PAIR_FANOUT).
    """
    from addressparser_spark.data.synth import synth_transcripts
    from addressparser_spark.operators import blocking, scoring
    from addressparser_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app=f"bench-scaling-{cores}", cores=cores,
                      shuffle_partitions=max(8, cores * 2), driver_memory="48g")
    # profiles built in-session (setup, not timed); a parquet-cached variant
    # measured slower once but did not reproduce under controlled pinning -
    # in-session build is kept as the simpler, equally fast option
    t = synth_transcripts(spark, n_convs=BENCH_CONVS)
    profiles = blocking.conv_profiles(blocking.normalize_turns(t)).cache()
    profiles.count()  # materialize outside the timed region

    # parquet-cached profiles arrive in few partitions (tiny table + AQE
    # coalesce); spread BEFORE the x100 explode or the scoring stage runs on
    # a handful of tasks regardless of cores
    base = (
        profiles.filter(~F.col("conv_id").rlike("_v[123]$"))
        .repartition(cores * 2)
        .withColumnRenamed("conv_id", "conv_a")
    )

    def _pairs(fanout: int):
        return base.select(F.col("conv_a")).withColumn(
            "conv_b",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(fanout)),
                    lambda j: F.concat(
                        F.lit("conv_"),
                        F.lpad(
                            (F.substring("conv_a", 6, 8).cast("bigint") + j).cast("string"),
                            8, "0",
                        ),
                    ),
                )
            ),
        ).filter(F.col("conv_b") < F.lit(f"conv_{BENCH_CONVS:08d}"))

    def _score(fanout: int) -> int:
        scored = scoring.score_pairs(_pairs(fanout), profiles, broadcast_profiles=True)
        # aggregate over every computed column so Catalyst can't prune the scorer
        row = scored.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("jaccard") + F.col("containment") + F.col("lev_sim") + F.col("jw")).alias("s"),
            F.count_distinct("verdict").alias("v"),
        ).collect()[0]
        return int(row["n"])

    # untimed warm pass: identical operator graph at fanout/10 JIT-warms the
    # scoring kernels and broadcast machinery for ~1/10 the cost of a timed
    # pass (codegen literals differ so Janino recompiles ~1s — noise at the
    # measurement scale)
    _score(max(1, PAIR_FANOUT // 10))

    def _timed(fanout: int) -> tuple[int, float]:
        t0 = time.monotonic()
        n = _score(fanout)
        return n, round(time.monotonic() - t0, 3)

    # Two sizes per timed run; the round computes marginal throughput from
    # the (small, large) delta. Noise asymmetry matters here: a burst
    # hitting the LARGE pass inflates sec and only DEFLATES the slope
    # (safe for a lower-bound policy), but a burst hitting the SMALL pass
    # shrinks the time delta and INFLATES the slope — which corrupts both
    # the round and the N-clean certification. The small pass is ~1/8 the
    # cost, so it is repeated (min taken) until its timing is trustworthy,
    # restoring the deflate-only property; the large pass repeats on BOTH
    # sides (min taken) so the efficiency ratio is estimated symmetrically.
    small_f = max(1, PAIR_FANOUT // 8)
    small_reps = int(os.environ.get("SPARK_GRAFT_BENCH_SMALL_REPS", "3"))
    # BOTH sides repeat the large pass with min taken (r4 advice: min-of-k
    # on only the 4N numerator biases the efficiency ratio upward even on a
    # quiet machine, since E[min of 3] < E[single sample]). min over reps
    # approaches the uncontended time from above, never below, so with the
    # policy symmetric the ratio compares two equally-estimated uncontended
    # times — unbiased, and it still recovers clean windows from the
    # intermittent bursts this VM actually has. Costs ~2 extra N-side large
    # passes (~3 min clean) per scaling round; paid once per bench run.
    large_reps = int(os.environ.get("SPARK_GRAFT_BENCH_LARGE_REPS", "3"))
    runs_small = [_timed(small_f) for _ in range(max(1, small_reps))]
    runs_large = [_timed(PAIR_FANOUT) for _ in range(max(1, large_reps))]
    ps, sec_small = min(runs_small, key=lambda r: r[1])
    n_pairs, sec = min(runs_large, key=lambda r: r[1])
    print(json.dumps({
        "cores": cores,
        "pairs_small": ps, "sec_small": sec_small,
        "pairs": n_pairs, "sec": sec,
        "runs_small": runs_small, "runs": runs_large,
    }))
    spark.stop()


def _scaling_round(cores: int) -> dict:
    # taskset pins the whole process tree (driver, JVM and its GC/JIT
    # threads) to `cores` of this process's allowed CPUs — local[N] alone
    # bounds only JVM task threads, so the rest would silently use extra
    # cores, corrupting the N-vs-4N comparison.
    cmd = [sys.executable, os.path.abspath(__file__), "--scaling-worker", str(cores)]
    if os.path.exists("/usr/bin/taskset"):
        cpu_list = ",".join(str(c) for c in sorted(os.sched_getaffinity(0))[:cores])
        cmd = ["taskset", "-c", cpu_list] + cmd
    proc = subprocess.run(
        cmd,
        capture_output=True, text=True, timeout=1800,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def _slope(r: dict) -> float:
    # marginal pairs/sec between the small and large pass: fixed costs
    # (broadcast build, scheduling) are identical at both sizes and cancel
    # in the delta
    return (r["pairs"] - r["pairs_small"]) / max(1e-3, r["sec"] - r["sec_small"])


def _side_stable(r: dict) -> bool:
    # Slope-integrity gate (both sides, both failure directions):
    # (a) the small pass's min must be corroborated — the two fastest of its
    #     reps within 25% — because an inflated small-pass min shrinks the
    #     delta and INFLATES the slope (min-of-reps only makes this unlikely,
    #     not impossible);
    # (b) the delta must dominate: sec_small <= half of sec (clean ratio is
    #     ~1/7, so a burst-hit small pass trips this immediately and a
    #     burst-hit large pass cannot fake stability on the small side).
    times = sorted(t for _, t in r["runs_small"])
    spread_ok = len(times) < 2 or times[1] <= 1.25 * times[0]
    delta_ok = (r["sec"] - r["sec_small"]) >= 0.5 * r["sec"]
    return spread_ok and delta_ok


def _cap_efficiency(eff: float) -> float:
    """Reported headline efficiency, capped at 1.0.

    For the same binary on the same input, >4x throughput from 4x cores is
    physically impossible; a measured ratio above 1 means interference
    slowed the N (denominator) side during that round. The cap is therefore
    the honest upper bound — the raw measurement is reported alongside
    (`raw_headline_efficiency`) for audit.
    """
    return min(eff, 1.0)


def _select_headline(rounds: list[dict]) -> tuple[dict, float | None, list[dict]]:
    """(headline round, clean-window max eff or None, certified-clean rounds).

    Headline = MEDIAN over certified-clean rounds; a round is clean when its
    N-side slope is within 10% of the best N-side slope observed (one-sided
    interference cannot have inflated its ratio via a slowed denominator)
    AND both sides pass the slope-integrity gate. No clean rounds -> median
    of all rounds, no clean-window figure.
    """
    by_eff = sorted(rounds, key=lambda r: r["eff"])
    median_all = by_eff[len(by_eff) // 2]  # upper-middle when even
    best_n_slope = max(_slope(r["n"]) for r in rounds)
    n_clean = [
        r for r in rounds
        if r["stable"] and _slope(r["n"]) >= 0.9 * best_n_slope
    ]
    if not n_clean:
        return median_all, None, n_clean
    by_eff_clean = sorted(n_clean, key=lambda r: r["eff"])
    return by_eff_clean[len(by_eff_clean) // 2], by_eff_clean[-1]["eff"], n_clean


def _run_scaling() -> dict:
    """N-vs-4N efficiency, measured in PAIRED rounds.

    This VM's noisy-neighbor variance is severe (same binary: 23s vs 236s
    on the 4N config during the 2026-08-17 episode) and bursts can span
    minutes to hours, hitting high core counts hardest. Mixing a clean N
    sample with a burst-degraded 4N sample (global min per config) then
    *understates* efficiency — so each round runs N and 4N back-to-back
    under the same ambient conditions and computes its own ratio. The
    HEADLINE is the median over certified-clean rounds (see the inline
    policy note); the clean-window max, the all-rounds median, and every
    round's raw pass times (side file) are reported alongside for audit.
    """
    if SCALING_CORES is None:
        return {"skipped": f"{CPUS} CPUs: an N-vs-4N pair needs at least 4"}
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    extra = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_ROUNDS", "3"))
    n, n4 = SCALING_CORES

    # A stable round below this efficiency is physically implausible for
    # this binary (4N cores slower than N on the same input — measured clean
    # rounds sit at 0.8-0.95, intrinsic bus saturation >=0.78): it means the
    # burst sat on the 4N side for the whole worker. If, after the base
    # repeats, no round clears the floor, run extra rounds while the budget
    # lasts — during an intermittent burst some later window lands clean; a
    # multi-hour saturating burst exhausts the budget and the deflated
    # lower-bound rounds (plus raw times in the side file) tell that story.
    PLAUSIBLE_EFF = 0.4

    rounds = []
    phase_t0 = time.monotonic()
    while True:
        done = len(rounds)
        if done >= repeats + extra:
            break
        if done >= repeats and any(
            r["stable"] and r["eff"] >= PLAUSIBLE_EFF for r in rounds
        ):
            break
        if rounds and time.monotonic() - phase_t0 > SCALING_BUDGET:
            break  # burst regime: keep completed rounds, stay in budget
        rn = _scaling_round(n)
        rn4 = _scaling_round(n4)
        rounds.append({
            "n": rn, "n4": rn4,
            "eff": round(_slope(rn4) / (_slope(rn) * (n4 / n)), 3),
            "stable": _side_stable(rn) and _side_stable(rn4),
        })
    # Headline policy — MEDIAN over certified-clean rounds (see
    # _select_headline): clean = N-side slope within 10% of best (one-sided
    # interference cannot inflate the ratio via a slowed denominator) AND
    # both sides pass the slope-integrity gate (a burst-hit SMALL pass
    # cannot inflate the slope either). The max over the same clean set is
    # a secondary "clean-window" figure: on a quiet box the two agree; they
    # diverge only when residual 4N-side interference deflated some clean
    # rounds, auditable via the per-round raw times in the side file.
    headline, clean_max, n_clean = _select_headline(rounds)
    median_all = sorted(rounds, key=lambda r: r["eff"])[len(rounds) // 2]
    return {
        "input_convs": BENCH_CONVS,
        "pairs_scored": headline["n4"]["pairs"],
        f"local{n}_sec": headline["n"]["sec"],
        f"local{n4}_sec": headline["n4"]["sec"],
        f"local{n}_pairs_per_sec": round(_slope(headline["n"]), 1),
        f"local{n4}_pairs_per_sec": round(_slope(headline["n4"]), 1),
        "throughput_estimator": "marginal (slope between the two pass sizes)",
        "scaling_efficiency": _cap_efficiency(headline["eff"]),
        "raw_headline_efficiency": headline["eff"],
        "scaling_policy": (
            "median over certified-clean rounds (N-side slope within 10% of "
            "best + small-pass stability gate on both sides); reported value "
            "capped at 1.0 (above 1 means N-side interference deflated the "
            "denominator, not superlinear scaling)"
        ),
        "clean_window_max_efficiency": clean_max,
        "n_clean_rounds": len(n_clean),
        # True when every round sits below the physical-plausibility floor
        # (4N cores "slower" than N): the whole phase ran inside a burst and
        # the reported efficiency is a DEFLATED lower bound, not the engine
        "all_rounds_implausible_burst": all(
            r["eff"] < PLAUSIBLE_EFF for r in rounds
        ),
        "median_round_efficiency": median_all["eff"],
        "round_efficiencies": [r["eff"] for r in rounds],
        "rounds": rounds,  # spilled to the side file by main(), not stdout
    }


def _stdout_payload(
    queries: dict, pass_totals: list, f1: dict, scaling: dict | None, sf_dir: str,
    cpus: int = CPUS,
) -> tuple[dict, dict | None]:
    """Assemble (stdout JSON payload, side-file raw dict).

    The driver captures only the TAIL of stdout and BENCH_r03 showed the
    per-round raw run arrays outgrow that window (parsed: null) — so the
    payload keeps summary scalars only and the per-round raw pass timings go
    to the side file. Pure function: tests/test_bench_policy.py pins that the
    payload stays compact and never leaks the raw rounds.
    """
    sf = sf_dir.rstrip("/").split("sf")[-1]
    out = {
        "metric": "headline_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "headline_policy": "per-query min over independent batch passes",
        "headline_pass_totals": pass_totals,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "pairwise_f1": f1,
        "cpus": cpus,
    }
    raw = None
    if scaling is not None:
        scaling = dict(scaling)
        if "rounds" in scaling:  # not when the phase was skipped
            raw = {"rounds": scaling.pop("rounds"), "headline_pass_totals": pass_totals}
            scaling["raw_rounds_file"] = "bench_raw_last.json"
        out["scaling"] = scaling
    return out, raw


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--scaling-worker":
        _scaling_worker(int(sys.argv[2]))
        return

    from addressparser_spark.session import get_spark

    spark = get_spark(app="bench", cores=CPUS, shuffle_partitions=max(16, CPUS))
    queries, pass_totals = _headline(spark)
    # headline correctness: pairwise F1 vs ground truth at this sf
    import __spark_entry__ as entry
    f1_row = entry.queries()["er_eval_f1"](spark, SF_DIR).collect()[0]
    f1 = {k: (float(f1_row[k]) if k in ("precision", "recall", "f1") else int(f1_row[k]))
          for k in ("tp", "fp", "fn", "tn", "precision", "recall", "f1")}
    spark.stop()

    scaling = None
    if os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0":
        scaling = _run_scaling()

    out, raw = _stdout_payload(queries, pass_totals, f1, scaling, SF_DIR)
    if raw is not None:
        side = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_raw_last.json")
        with open(side, "w") as fh:
            json.dump(raw, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
