"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the JSON records run.py writes to ``.perfbench_out/``
(copy them aside per commit).  For every workload and end-to-end metric it
prints both sides' median and quartiles and a verdict under the bound in
BENCHMARK.json; for traced runs it prints the per-layer medians and their
change, so a change can name the layer that moved; for untraced runs it adds
each operation's median wall time.

Verdicts, per metric (see the choosing-metrics rules):
  improved   - the new median is better by more than the base's quartile
               spread and the new side wins at least 9 of 10 seed-matched pairs
  regressed  - the new median is worse than the base by more than the bound
  unresolved - the base's own spread exceeds the bound
  unchanged  - otherwise
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d: str) -> dict:
    """(workload, trace) -> list of run records."""
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def verdict(base: list[dict], new: list[dict], name: str, better: str, bound: float) -> str:
    a = [r["metrics"][name] for r in base]
    b = [r["metrics"][name] for r in new]
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    sign = 1 if better == "lower" else -1
    worse = sign * (mb - ma) / ma
    by_seed_a = {r["seed"]: r["metrics"][name] for r in base}
    pairs = [(by_seed_a[r["seed"]], r["metrics"][name])
             for r in new if r["seed"] in by_seed_a]
    wins = sum(sign * (y - x) < 0 for x, y in pairs)
    if worse > bound:
        return "regressed"
    if (qa3 - qa1) / ma > bound:
        return "unresolved"
    if -worse * ma > qa3 - qa1 and pairs and wins >= 0.9 * len(pairs):
        return "improved"
    return "unchanged"


def op_walls(runs: list[dict]) -> dict[str, float]:
    per: dict[str, list[float]] = {}
    for r in runs:
        for op in r["ops"]:
            per.setdefault(op["name"], []).append(op["wall_s"])
    return {k: statistics.median(v) for k, v in per.items()}


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for wl in [w["name"] for w in spec["workloads"]]:
        a, b = base.get((wl, 0), []), new.get((wl, 0), [])
        if a and b:
            print(f"== {wl}: {len(a)} base runs, {len(b)} new runs")
            for m in spec["end_to_end"]:
                qa = quartiles([r["metrics"][m["name"]] for r in a])
                qb = quartiles([r["metrics"][m["name"]] for r in b])
                v = verdict(a, b, m["name"], m["better"], m["bound"])
                print(f"  {m['name']:<16} base {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
                      f"  new {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {m['unit']:<11}"
                      f" {100 * (qb[1] - qa[1]) / qa[1]:+6.1f}%  {v}")
            wa, wb = op_walls(a), op_walls(b)
            for op in wa:
                if op in wb:
                    print(f"    op {op:<28} {wa[op]:8.2f} s -> {wb[op]:8.2f} s")
        ta, tb = base.get((wl, 1), []), new.get((wl, 1), [])
        if ta and tb:
            print(f"-- {wl} per layer: {len(ta)} base traced runs, {len(tb)} new")
            for m in spec["per_layer"]:
                va = statistics.median(r["metrics"][m["name"]] for r in ta)
                vb = statistics.median(r["metrics"][m["name"]] for r in tb)
                delta = f"{100 * (vb - va) / va:+7.1f}%" if va else "      -"
                print(f"  {m['name']:<26} {va:12.5g} -> {vb:12.5g} {m['unit']:<6} {delta}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
