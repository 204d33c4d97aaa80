"""Compare two result sets, parent and change, metric by metric.

    python3 perfbench/compare.py PARENT CHANGE [--bench BENCHMARK.json]

A result set is a file, or a directory of files, holding what ``run.py``
printed: each run's record line followed by its result line. Runs pair up by
workload and seed. One row per workload and metric gives each side's median
and quartiles, how many pairs the change won, and a verdict:

- ``better``: the change wins at least nine tenths of the pairs (ties count
  for neither) and the medians differ by more than the parent's
  inter-quartile range;
- ``unresolved``: either side's spread (inter-quartile range over median)
  is wider than the metric's bound, and not every change run beats every
  parent run;
- ``worse``: the change's median is worse than the parent's by more than the
  bound;
- ``same``: none of these.

Per-layer metrics have no bound, so they are only ever ``better``, ``worse``
(the mirror of ``better``) or ``same``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict[tuple[str, str], dict[int, float]]:
    """{(workload, metric): {seed: value}} from run outputs under ``path``."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path))
    out: dict[tuple[str, str], dict[int, float]] = defaultdict(dict)
    for f in files:
        record = None
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                obj = json.loads(line)
                if "record" in obj:
                    record = obj["record"]
                elif "metrics" in obj and record is not None:
                    for name, m in obj["metrics"].items():
                        out[(record["workload"], name)][record["seed"]] = m["value"]
                    record = None
    return dict(out)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: dict[int, float], change: dict[int, float], better: str,
            bound: float | None) -> dict:
    """Median, quartiles, pair wins and the verdict for one metric."""
    sign = -1.0 if better == "lower" else 1.0  # sign * value grows when better
    p_vals, c_vals = list(parent.values()), list(change.values())
    p_q1, p_med, p_q3 = quartiles(p_vals)
    c_q1, c_med, c_q3 = quartiles(c_vals)
    seeds = sorted(set(parent) & set(change))
    wins = sum(1 for s in seeds if sign * change[s] > sign * parent[s])
    losses = sum(1 for s in seeds if sign * change[s] < sign * parent[s])
    gain = sign * (c_med - p_med)
    p_iqr = p_q3 - p_q1

    def spread(q1, med, q3):
        return (q3 - q1) / abs(med) if med else 0.0

    if seeds and wins >= 0.9 * len(seeds) and gain > p_iqr:
        v = "better"
    elif bound is None:
        v = "worse" if seeds and losses >= 0.9 * len(seeds) and -gain > p_iqr else "same"
    elif max(spread(p_q1, p_med, p_q3), spread(c_q1, c_med, c_q3)) > bound:
        every_run_better = min(sign * c for c in c_vals) > max(sign * p for p in p_vals)
        v = "better" if every_run_better else "unresolved"
    elif -gain > bound * abs(p_med):
        v = "worse"
    else:
        v = "same"
    return {
        "parent": (p_med, p_q1, p_q3), "change": (c_med, c_q1, c_q3),
        "pairs": len(seeds), "wins": wins, "verdict": v,
    }


def compare(parent: dict, change: dict, bench: dict) -> list[dict]:
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    rows = []
    for key in sorted(set(parent) & set(change)):
        workload, metric = key
        spec = specs.get(metric)
        if spec is None:
            continue
        row = verdict(parent[key], change[key], spec["better"], spec.get("bound"))
        rows.append({"workload": workload, "metric": metric, "unit": spec["unit"], **row})
    return rows


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--bench", default="BENCHMARK.json")
    args = p.parse_args(argv)
    with open(args.bench) as f:
        bench = json.load(f)
    rows = compare(load(args.parent), load(args.change), bench)
    fmt = "{:<16} {:<44} {:>32} {:>32} {:>7} {}"
    print(fmt.format("workload", "metric", "parent median [q1, q3]",
                     "change median [q1, q3]", "wins", "verdict"))
    for r in rows:
        side = "{:.4g} [{:.4g}, {:.4g}] {}"
        print(fmt.format(
            r["workload"], r["metric"], side.format(*r["parent"], r["unit"]),
            side.format(*r["change"], r["unit"]), f"{r['wins']}/{r['pairs']}",
            r["verdict"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
