#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run for a given state of the
sources builds the library and the harness (perfbench/harness, sbt) and
records the classpath under the build directory (`$CARGO_TARGET_DIR`,
default `.bench_build`, under `perfbench/`), keyed by a hash of the
checkout's path and of every source and build file; later runs with the
same key launch the JVM directly. Inputs are generated from the seed
(perfbench/gen.py) and each op's row count is checked against DuckDB
running the library's oracle SQL on the same input. A run gets a fresh
java.io.tmpdir and SPARK_LOCAL_DIRS, so no index, store or stage cache
survives from an earlier run; they are removed when it ends.

Each run's full record (per-op times, op p50/p90, and with
--trace 1 the spans) is written to
`<build>/perfbench/logs/<workload>-s<seed>-t<trace>.json`; with --trace 1
the last line carries the per-layer metrics.

Exits nonzero on any failed op or oracle mismatch (after printing the
result line), and without a result when the build or the run fails.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(d, exist_ok=True)
    return os.path.abspath(d)


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx3g")
    return env


# what the build reads: a change to any of these starts a new build key
SOURCES = ["build.sbt", "project", "src/main", "perfbench/harness"]


def source_key():
    """Hash of the checkout's path and of every file the build reads;
    build outputs (`target`, `project/project`) are skipped."""
    h = hashlib.sha256(os.path.abspath(".").encode())
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else []
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(x for x in subdirs
                                if x != "target" and not (x == "project" and
                                                          d.endswith("project")))
            paths += sorted(os.path.join(d, f) for f in files)
        for path in paths:
            h.update(path.encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:20]


def ensure_built(bdir):
    """Compile the library and harness for the current sources; returns
    the directory holding the runtime classpath and the oracle SQL."""
    kdir = os.path.join(bdir, "build-" + source_key())
    os.makedirs(kdir, exist_ok=True)
    cp_file = os.path.join(kdir, "classpath.txt")
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(cp_file):
            log = os.path.join(kdir, "build.log")
            with open(log, "w") as f:
                r = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    cwd=os.path.join(HERE, "harness"), env=sbt_env(),
                    stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                    timeout=BUILD_TIMEOUT_S)
            lines = open(log).read().splitlines()
            cp = [ln for ln in lines if "harness/target" in ln and ":" in ln
                  and not ln.startswith("[")]
            if r.returncode != 0 or not cp:
                die(f"build failed, see {log}")
            oracle = os.path.join(kdir, "oracle_sql.json")
            java(cp[-1], ["perfbench.DumpOracle", oracle], kdir,
                 os.path.join(kdir, "dump_oracle.log"), timeout=120)
            if not os.path.exists(oracle):
                die("oracle SQL dump failed")
            with open(cp_file + ".tmp", "w") as f:
                f.write(cp[-1])
            os.replace(cp_file + ".tmp", cp_file)
    return kdir


def java(cp, args, tmp_root, log, timeout, env_extra=None):
    tmp = os.path.join(tmp_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(env_extra or {})
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp] + args)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def ensure_input(bdir, kdir, name, spec, seed):
    """Generate the input for this seed (cached per seed and generator) and
    the DuckDB row counts of the workload's oracle SQL on it (cached per
    build key)."""
    import duckdb
    import gen
    with open(gen.__file__, "rb") as f:
        gen_key = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(bdir, "data", f"s{seed}-{gen_key}")
    if not os.path.exists(os.path.join(data, "done")):
        tmp = data + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(data, ignore_errors=True)
        os.replace(tmp, data)
    expected_path = os.path.join(kdir, "expected", f"s{seed}-{gen_key}-{name}.json")
    if not os.path.exists(expected_path):
        oracle_sql = json.load(open(os.path.join(kdir, "oracle_sql.json")))
        con = duckdb.connect()
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(data, f)}'")
        counts = {k: con.execute(f"SELECT count(*) FROM ({oracle_sql[k]}) t")
                  .fetchone()[0] for k in spec["expected"]}
        os.makedirs(os.path.dirname(expected_path), exist_ok=True)
        with open(expected_path + ".tmp", "w") as f:
            json.dump(counts, f)
        os.replace(expected_path + ".tmp", expected_path)
    return data, expected_path


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one workload run")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.exists("build.sbt") and os.path.isdir("src/main/scala/graft")):
        die("run from the repository root (library sources not found)")
    spec = workloads.WORKLOADS[a.workload]
    bdir = build_dir()
    kdir = ensure_built(bdir)
    cp = open(os.path.join(kdir, "classpath.txt")).read().strip()
    data, expected = ensure_input(bdir, kdir, a.workload, spec, a.seed)

    # whole passes, as many as fit the requested time at the nominal pass
    # time
    passes = max(1, round(a.seconds / spec["pass_s"]))
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "out.json")
    local = os.path.join(run_dir, "local")
    os.makedirs(local)
    log = os.path.join(bdir, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        rc = java(cp, ["perfbench.Harness", a.workload, data, expected,
                       ",".join(spec["ops"]), str(spec["warm_passes"]),
                       str(passes), str(a.trace),
                       str(a.seed), out,
                       os.path.join(run_dir, "scratch")],
                  run_dir, log, JVM_TIMEOUT_S, {"SPARK_LOCAL_DIRS": local})
        if rc != 0 or not os.path.exists(out):
            die(f"harness exited with {rc}, see {log}")
        res = json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(log[:-4] + ".json", "w") as f:
        json.dump(res, f, indent=1)
    for e in res["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    ok = res["failed"] == 0 and res["attempted"] > 0
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
