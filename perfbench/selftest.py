#!/usr/bin/env python3
"""Full value check of the benchmark's rows on one seed.

    python3 perfbench/selftest.py [--seed 1]

Run from the repository root. For each workload it generates the seeded
input, dumps every row the workload runs with graft.Verify (for
medallion_run: the nine model rows plus dq_summary and source_freshness)
and compares values, not just row counts, against the DuckDB oracle with
tools/compare.py. Exits nonzero on any mismatch.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    bdir = run.build_dir()
    kdir = run.ensure_built(bdir)
    cp = open(os.path.join(kdir, "classpath.txt")).read().strip()
    failed = []
    for name, spec in workloads.WORKLOADS.items():
        data, _ = run.ensure_input(bdir, kdir, name, spec, a.seed)
        rows = [r for r in spec["ops"] if r != "pipeline"]
        if "pipeline" in spec["ops"]:
            rows += workloads.MODELS + ["dq_summary", "source_freshness"]
        out = os.path.join(bdir, "selftest", f"{name}-s{a.seed}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        log = out + ".log"
        rc = run.java(cp, ["graft.Verify", data, out, ",".join(rows)], out + "-run", log,
                      timeout=1800)
        if rc != 0:
            failed.append(f"{name}: Verify exited {rc}, see {log}")
            continue
        p = subprocess.run([sys.executable, "tools/compare.py", data, out,
                            ",".join(rows)], capture_output=True, text=True)
        print(f"== {name}: {p.stdout.strip().splitlines()[-1]}")
        if p.returncode != 0:
            failed.append(f"{name}: value mismatch\n{p.stdout}")
    for f in failed:
        print(f, file=sys.stderr)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
