#!/usr/bin/env python
"""Scale-linearity evidence: the flagship linkage at n and 10n conversations.

SCALE.md argues the pipeline is O(n * cap) end-to-end (bucketed blocking,
capped blocks, contraction-shortened CC). This script measures it: the same
deterministic synthetic transcripts table (data/synth.py — the shape of
BASELINE.json's input_hint) at 24k and 240k conversations, per-stage wall
times, pairwise F1 vs ground truth at both scales, printed as one JSON line
per scale plus a linearity summary.

Run:  python tools/scale_linearity.py            # both scales
      SPARK_GRAFT_SCALES=24000 python tools/...  # subset
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from addressparser_spark.data.synth import synth_transcripts, synth_truth
from addressparser_spark.plans.evaluate import labeled_pairs, pairwise_f1
from addressparser_spark.plans.pipeline import run_linkage
from addressparser_spark.session import get_spark

# the CPUs this process may run on, not the machine's count
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
SCALES = [int(s) for s in os.environ.get("SPARK_GRAFT_SCALES", "24000,240000").split(",")]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_scale(spark, n_convs: int, work_dir: str) -> dict:
    # Materialize the synthetic table to parquet FIRST: the input-table shape
    # the north rule specifies is a stored table, and measuring over the
    # in-plan generator would charge the engine for re-evaluating the
    # generation expression tree inside the aggregation. The write is
    # excluded from every timed stage.
    src = os.path.join(work_dir, f"transcripts_{n_convs}")
    synth_transcripts(spark, n_convs=n_convs).write.mode("overwrite").parquet(src)
    t = spark.read.parquet(src)
    stages: dict[str, float] = {}
    t0 = time.monotonic()
    result = run_linkage(t)
    # the stages below read the pairs three times and the scored pairs
    # twice; run_linkage persists neither
    result.pairs = result.pairs.cache()
    result.scored = result.scored.cache()
    n_profiles = result.profiles.count()
    stages["profiles"] = round(time.monotonic() - t0, 2)

    t1 = time.monotonic()
    n_pairs = result.pairs.count()
    stages["block_pairs"] = round(time.monotonic() - t1, 2)

    t2 = time.monotonic()
    _noop(result.scored)
    stages["score"] = round(time.monotonic() - t2, 2)

    t3 = time.monotonic()
    clusters = result.clusters.cache()
    n_clusters = clusters.select("cluster_id").distinct().count()
    stages["cluster"] = round(time.monotonic() - t3, 2)

    t4 = time.monotonic()
    truth = synth_truth(t)
    f1_row = pairwise_f1(clusters, labeled_pairs(result.pairs, truth)).collect()[0]
    stages["eval"] = round(time.monotonic() - t4, 2)

    total = round(time.monotonic() - t0, 2)
    out = {
        "n_convs": n_convs,
        "n_profiles": n_profiles,
        "n_candidate_pairs": n_pairs,
        "n_clusters": n_clusters,
        "stages_sec": stages,
        "total_sec": total,
        "f1": {k: (float(f1_row[k]) if k in ("precision", "recall", "f1") else int(f1_row[k]))
               for k in ("tp", "fp", "fn", "tn", "precision", "recall", "f1")},
    }
    result.unpersist()
    spark.catalog.clearCache()
    return out


def main() -> None:
    import shutil
    import tempfile

    spark = get_spark(app="scale-linearity", cores=CPUS,
                      shuffle_partitions=max(16, CPUS), driver_memory="48g")
    # each scale's synthetic transcripts parquet lives here until the run ends
    base = tempfile.mkdtemp(prefix="scale_lin_")
    try:
        results = [run_scale(spark, n, base) for n in SCALES]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    summary: dict = {"cpus": CPUS, "scales": results}
    if len(results) >= 2:
        a, b = results[0], results[-1]
        size_ratio = b["n_convs"] / a["n_convs"]
        time_ratio = b["total_sec"] / a["total_sec"]
        summary["size_ratio"] = size_ratio
        summary["time_ratio"] = round(time_ratio, 2)
        # <1 means sub-linear wall growth (fixed costs amortize); ~1 linear
        summary["time_vs_linear"] = round(time_ratio / size_ratio, 3)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
