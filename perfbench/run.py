#!/usr/bin/env python3
"""Replication benchmark launcher.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--data <sf dir>]

Builds the repository and the benchmark from source with sbt (once per
source fingerprint), generates the seeded `sync_trickle` input, runs the
workload in one JVM and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. Exits nonzero when
the build, an operation or an output check fails.

The input tables are the sf0.1 test data: `--data`, else
$SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.1. Everything the benchmark
builds or writes goes under `.perfbench/` in the repository root.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

import gen

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".perfbench")
HEAP = "4g"
JVM_TIMEOUT_S = 170
SYNC_BATCHES = 16


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = []
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src/main"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            files.append(p)
        for d, _, names in os.walk(p):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt and return (classpath, jvm options) of the build."""
    # sbt keeps one set of class directories, so only the latest build's
    # launch file is valid: it names the fingerprint it was built from
    fingerprint = source_fingerprint()
    launch = os.path.join(STATE, "build", "launch.txt")
    stamp = os.path.join(STATE, "build", "fingerprint")
    if os.path.isfile(launch):
        with open(launch) as fh:
            paths = fh.readline().strip().split(os.pathsep)
        built = None
        if os.path.isfile(stamp):
            with open(stamp) as fh:
                built = fh.read().strip()
        if built != fingerprint or not all(os.path.exists(p) for p in paths):
            os.remove(launch)  # sources changed or class directories were cleaned since
    if not os.path.isfile(launch):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.isfile(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        log("building (sbt) ...")
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"writeLaunch {launch}"],
            cwd=BENCH_DIR, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0 or not os.path.isfile(launch):
            fail(f"build failed (sbt exit {r.returncode})", 3)
        with open(stamp, "w") as fh:
            fh.write(fingerprint + "\n")
        log(f"built in {time.time() - t0:.1f} s")
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def expected_metrics(trace):
    """Metric names BENCHMARK.json promises for this mode, if it is there."""
    p = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1")))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no repository sources next to the benchmark under {ROOT}")
    sf_dir = os.path.abspath(a.data)
    if not os.path.isfile(os.path.join(sf_dir, "orders.parquet")):
        fail(f"input tables not found in {sf_dir} (pass --data)")

    cp, jvm_opts = build()
    work = os.path.join(STATE, "work")
    extra = []
    if a.workload == "sync_trickle":
        t0 = time.time()
        sync_dir = gen.ensure_snapshots(os.path.join(sf_dir, "orders.parquet"),
                                        os.path.join(work, "fixtures", "sync"),
                                        a.seed, SYNC_BATCHES, log)
        log(f"sync input ready in {time.time() - t0:.1f} s")
        extra = ["--sync", sync_dir]
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *jvm_opts,
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", sf_dir, "--work", work, *extra])
    try:
        r = subprocess.run(cmd, cwd=STATE, env=env, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s", 4)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if not lines:
        fail(f"no result from the workload (exit {r.returncode})", 5)
    res = json.loads(lines[-1])

    want = expected_metrics(a.trace)
    if want is not None and set(res["metrics"]) != want:
        log(f"metrics differ from BENCHMARK.json: missing {sorted(want - set(res['metrics']))}, "
            f"extra {sorted(set(res['metrics']) - want)}")
        res["correct"] = False
    ok = res["correct"] and res["failed"] == 0 and r.returncode == 0
    res["correct"] = ok
    print(json.dumps(res))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
