#!/usr/bin/env python3
"""Step-2 pipeline benchmark: one run of one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload project_batch --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (first run only; the
classpath is cached under .bench_build/perfbench keyed by a digest of the
sources), generates the workload's seeded inputs (cached per workload, sizes
and seed), then runs the measuring JVM. The last line of standard output is
the result object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

START = time.monotonic()
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("project_batch", "combine")
BUILD_TIMEOUT_S = 700   # a building run may take 900 s in all
RUN_BUDGET_S = 170      # any other run must end within 180 s
DRIVER_HEAP = "-Xmx4g"  # BASELINE.md budgets the matrix step at 4 GB
DATA_CACHE_KEEP = 40    # generated input sets kept on disk (each is 2-20 MB)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        return None


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def build(src_digest):
    """Compiles program + benchmark; returns (classpath, jvm options)."""
    launch = os.path.join(OUT, "launch.txt")
    stamp = os.path.join(OUT, "launch.stamp")
    if not (os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == src_digest):
        if shutil.which("sbt") is None:
            fail("sbt not found on PATH")
        os.makedirs(OUT, exist_ok=True)
        log = os.path.join(OUT, "build.log")
        with open(log, "w") as fh:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "benchLaunch"], BUILD_TIMEOUT_S, cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(launch):
            fail(f"build failed (rc={rc}); last lines of {log}:\n{tail(log)}", 1)
        with open(stamp, "w") as fh:
            fh.write(src_digest)
    lines = open(launch).read().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return lines[0], opts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    program = ["build.sbt", "project/build.properties", "src/main"]
    bench = ["perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for p in program + bench + ["BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"{p} not found: run from the root of a checkout of the program")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    expect = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    src_digest = digest(program + bench)
    cp, opts = build(src_digest)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    for d in ("tmp", "work", "results", "logs", "data"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    jvm = [java, DRIVER_HEAP, f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}", *opts, "-cp", cp, "perfbench.Main"]
    deadline = time.monotonic() + RUN_BUDGET_S

    # inputs: cached per (workload, benchmark sources — which fix the sizes, seed)
    data = os.path.join(OUT, "data", f"{a.workload}-{digest(bench)[:12]}-seed{a.seed}")
    t_gen = time.monotonic()
    if not os.path.exists(os.path.join(data, "DONE")):
        log = os.path.join(OUT, "logs", "gen.log")
        with open(log, "w") as fh:
            rc = run_group(jvm + ["gen", "--workload", a.workload, "--seed", str(a.seed), "--data", data],
                           deadline - time.monotonic(), stdout=fh, stderr=subprocess.STDOUT)
        if rc != 0:
            fail(f"input generation failed (rc={rc}):\n{tail(log)}", 1)
    cached = sorted((os.path.join(OUT, "data", d) for d in os.listdir(os.path.join(OUT, "data"))),
                    key=os.path.getmtime)
    for old in cached[:-DATA_CACHE_KEEP]:
        if old != data:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(data)

    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        head = "none"
    t_run = time.monotonic()
    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    stdout = os.path.join(OUT, "logs", "run.stdout")
    stderr = os.path.join(OUT, "logs", "run.stderr")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(OUT, "tmp"))
    with open(stdout, "w") as so, open(stderr, "w") as se:
        rc = run_group(jvm + ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                              "--trace", str(a.trace), "--data", data, "--work", work,
                              "--results", os.path.join(OUT, "results"), "--git-head", head,
                              "--src-digest", src_digest],
                       deadline - time.monotonic(), stdout=so, stderr=se, env=env)
    shutil.rmtree(work, ignore_errors=True)
    out = open(stdout).read().splitlines()
    if rc != 0 or not out:
        fail(f"run failed (rc={rc}); stderr tail:\n{tail(stderr)}", 1)
    result = json.loads(out[-1])
    got = list(result["metrics"])
    if sorted(got) != sorted(expect):
        fail(f"metrics {sorted(set(got) ^ set(expect))} differ from BENCHMARK.json", 3)
    for line in out[:-1]:
        print(line)
    print(f"perfbench wall_s={time.monotonic() - START:.1f} gen_s={t_run - t_gen:.1f} "
          f"run_jvm_s={time.monotonic() - t_run:.1f}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
