#!/usr/bin/env python3
"""Pairwise comparison of two checkouts on one workload.

    python3 perfbench/compare.py --parent <dir> --change <dir> --workload <name>
                                 [--pairs 10] [--first-seed 1000] [--out pairs.json]
    python3 perfbench/compare.py --from pairs.json

Runs `perfbench/run.py` in each checkout with the same seed per pair,
alternating which side runs first, and then applies the rule for claiming
a gain on each end-to-end metric:
  - at least ten pairs;
  - the change wins at least nine tenths of all pairs (ties count for
    neither side);
  - the medians differ by more than the parent's own spread (the distance
    between its quartiles).
A gain does not count when more ops fail than at the parent. It also
reports a regression when the change's median is worse than the
parent's by more than the metric's bound in BENCHMARK.json, and marks a
metric unresolved when the parent's spread is wider than that bound.
Both checkouts must use the same benchmark code and run_seconds.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from repeat import bench_spec, run_once  # noqa: E402


def verdict(metric, parent, change, better, bound, allow_gain=True):
    wins = sum(1 for p, c in zip(parent, change)
               if (c < p if better == "lower" else c > p))
    n = len(parent)
    pq1, pmed, pq3 = statistics.quantiles(parent, n=4)
    cq1, cmed, cq3 = statistics.quantiles(change, n=4)
    iqr = pq3 - pq1
    gap = (pmed - cmed) if better == "lower" else (cmed - pmed)
    worse_frac = -gap / pmed if pmed else 0.0
    if allow_gain and n >= 10 and wins >= 0.9 * n and gap > iqr:
        v = "GAIN"
    elif worse_frac > bound:
        v = "REGRESSION"
    elif iqr / pmed > bound:
        all_better = all((c < min(parent)) if better == "lower" else
                         (c > max(parent)) for c in change)
        v = "better (every run)" if all_better else "unresolved (spread > bound)"
    else:
        v = "no claim (within bound)"
    print(f"{metric:22s} parent {pmed:10.4f} [{pq1:.4f}, {pq3:.4f}]  "
          f"change {cmed:10.4f} [{cq1:.4f}, {cq3:.4f}]  "
          f"wins {wins}/{n}  improvement {-worse_frac:+.1%}  {v}")
    return v


def analyse(data):
    spec = bench_spec()
    print(f"workload {data['workload']}, {len(data['pairs'])} pairs")
    failed = {side: sum((pr[side]["result"] or {"failed": 1})["failed"]
                        for pr in data["pairs"]) for side in ("parent", "change")}
    print(f"failed ops: parent {failed['parent']}, change {failed['change']}")
    for m in spec["end_to_end"]:
        name = m["name"]
        ok = [pr for pr in data["pairs"] if pr["parent"]["result"]
              and pr["change"]["result"]
              and name in pr["parent"]["result"]["metrics"]]
        if len(ok) < 2:
            print(f"{name:22s} not enough runs")
            continue
        verdict(name, [pr["parent"]["result"]["metrics"][name]["value"] for pr in ok],
                [pr["change"]["result"]["metrics"][name]["value"] for pr in ok],
                m["better"], m["bound"],
                # a gain does not count when more ops fail than at the parent
                allow_gain=failed["change"] <= failed["parent"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--out")
    ap.add_argument("--from", dest="from_file")
    a = ap.parse_args()
    if a.from_file:
        analyse(json.load(open(a.from_file)))
        return
    if not (a.parent and a.change and a.workload):
        ap.error("--parent, --change and --workload are required")
    secs = bench_spec()["run_seconds"]
    data = {"workload": a.workload, "parent_dir": a.parent,
            "change_dir": a.change, "pairs": []}
    for i in range(a.pairs):
        seed = a.first_seed + i
        sides = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            sides.reverse()
        pr = {"seed": seed}
        for side, d in sides:
            pr[side] = run_once(a.workload, seed, secs, 0, cwd=os.path.abspath(d))
        data["pairs"].append(pr)
        print(f"# pair {i + 1}/{a.pairs} seed {seed} done", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(data, f, indent=1)
    analyse(data)


if __name__ == "__main__":
    main()
