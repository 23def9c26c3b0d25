#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's median,
quartiles and spread (quartile distance over median).

    python3 perfbench/repeat.py [--workloads a,b] [--seeds 10] [--first-seed 1]
                                [--seconds S] [--trace 0|1] [--out runs.json]
                                [--summary baseline.json]

Run from the repository root. Seeds are first-seed, first-seed+1, ...;
each run is `perfbench/run.py` in a fresh JVM. `--out` keeps every run's
result line; `--summary` writes the medians and quartiles per metric per
workload (`perfbench/baseline.json` was made this way).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench_spec():
    return json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))


def run_once(workload, seed, seconds, trace, cwd="."):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"workload": workload, "seed": seed, "rc": p.returncode,
            "wall_s": time.time() - t0, "result": res,
            "stderr_tail": p.stderr[-2000:] if p.returncode else ""}


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "n": len(values)}


def report(runs, bounds):
    by_wl = {}
    for r in runs:
        if r["result"]:
            by_wl.setdefault(r["workload"], []).append(r["result"])
    summary = {}
    for wl, results in by_wl.items():
        summary[wl] = {}
        for m in sorted(results[0]["metrics"]):
            vals = [x["metrics"][m]["value"] for x in results if m in x["metrics"]]
            if len(vals) < 2:
                continue
            s = summarize(vals)
            s["unit"] = results[0]["metrics"][m]["unit"]
            summary[wl][m] = s
            b = bounds.get(m)
            flag = "" if b is None else (
                f"bound {b:.2f}  " + ("ok" if s["spread"] < b / 3 else
                                      "WITHIN BOUND" if s["spread"] <= b else
                                      "OVER BOUND"))
            print(f"{wl:16s} {m:28s} median {s['median']:11.4f} {s['unit']:6s} "
                  f"q1 {s['q1']:11.4f} q3 {s['q3']:11.4f} spread {s['spread']:.3f}  {flag}")
    return summary


def main():
    spec = bench_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--summary")
    a = ap.parse_args()
    runs = []
    for wl in a.workloads.split(","):
        for s in range(a.first_seed, a.first_seed + a.seeds):
            r = run_once(wl, s, a.seconds, a.trace)
            runs.append(r)
            ok = r["result"]["correct"] if r["result"] else False
            print(f"# {wl} seed {s}: rc {r['rc']} correct {ok} "
                  f"wall {r['wall_s']:.1f} s", flush=True)
            if r["rc"]:
                print(r["stderr_tail"], file=sys.stderr)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = report(runs, bounds if not a.trace else {})
    if a.summary:
        with open(a.summary, "w") as f:
            json.dump({"cores": os.cpu_count(), "seconds": a.seconds,
                       "seeds": list(range(a.first_seed, a.first_seed + a.seeds)),
                       "workloads": summary}, f, indent=1)


if __name__ == "__main__":
    main()
