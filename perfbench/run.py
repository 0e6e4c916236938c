#!/usr/bin/env python3
"""Run one gammaspark benchmark workload and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ann_read --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the engine sources under src/main/scala
together with the benchmark harness (perfbench/build.sbt, offline sbt); later
runs reuse the build while the sources are unchanged. Each run starts one
JVM, which creates its inputs from the seed, sets up, drives a closed loop
for --seconds, checks every answer, and writes an artifact under
perfbench/work/results/. The last line printed is the JSON result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, "work")
WORKLOADS = ("ann_read", "crud_mixed", "curate_batch")
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 700  # the first run of a checkout may also build
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    inputs = [SOURCES, os.path.join(BENCH, "src"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(stamp, budget_s):
    """Compile with sbt unless target/ already holds this stamp's build."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "source.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp_file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.server.autostart=false"):
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "compile", "printClasspath"], budget_s,
                       cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp_file


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def check_counters(result, workload, seed, stamp):
    """Deterministic counters (jobs, tasks, codes scanned, buckets rewritten,
    LSH candidates) of an op must repeat exactly in every traced run of the
    same workload, seed and sources. Returns the mismatches found."""
    store_dir = os.path.join(WORK, "counters", stamp)
    os.makedirs(store_dir, exist_ok=True)
    store = os.path.join(store_dir, f"{workload}-seed{seed}.json")
    seen = {}
    if os.path.exists(store):
        with open(store) as f:
            seen = json.load(f)
    bad = []
    for c in result.get("counters", []):
        key = str(c["op"])
        if key in seen and seen[key] != c:
            bad.append({"op": c["op"], "before": seen[key], "now": c})
        seen.setdefault(key, c)
    with open(store, "w") as f:
        json.dump(seen, f)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    started = time.monotonic()

    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        fail(f"engine sources not found under {os.path.relpath(SOURCES, os.getcwd())}; "
             "run from the root of a gammaspark checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    spec = None
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)

    stamp = source_stamp()
    cp_file = build(stamp, BUILD_LIMIT_S)
    with open(cp_file) as f:
        classpath = f.read().strip()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    artifact = os.path.join(results, f"{tag}.json")
    log = os.path.join(results, f"{tag}.log")
    if os.path.exists(artifact):
        os.remove(artifact)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/tmp",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work", run_dir, "--out", artifact,
    ]
    remaining = RUN_LIMIT_S - (time.monotonic() - started)
    if remaining < 60:
        remaining = BUILD_LIMIT_S + RUN_LIMIT_S - (time.monotonic() - started)
    try:
        with open(log, "w") as out:
            rc = run_group(cmd, remaining, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(artifact):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{args.workload} run failed (exit {rc}); log in {log}")

    with open(artifact) as f:
        result = json.load(f)
    result["env"]["git_head"] = git_head()
    result["env"]["source_stamp"] = stamp
    correct = bool(result["correct"])
    if args.trace == "1":
        bad = check_counters(result, args.workload, args.seed, stamp)
        result["counter_mismatches"] = bad
        if bad:
            correct = False
            print(f"perfbench: {len(bad)} ops changed their deterministic counters "
                  f"since an earlier run of this seed", file=sys.stderr)
    listed = spec and args.workload in {w["name"] for w in spec["workloads"]}
    if listed:
        want = {m["name"] for m in spec["per_layer" if args.trace == "1" else "end_to_end"]}
        if set(result["metrics"]) != want:
            fail(f"metric set differs from BENCHMARK.json: "
                 f"missing {sorted(want - set(result['metrics']))}, "
                 f"extra {sorted(set(result['metrics']) - want)}")
    with open(artifact, "w") as f:
        json.dump(result, f, indent=1)

    for name, m in result["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(f"error_rate {result['error_rate']} ratio")
    for name, v in result["details"].items():
        print(f"detail.{name} {json.dumps(v)}")
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))


if __name__ == "__main__":
    main()
