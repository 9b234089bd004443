#!/usr/bin/env python3
"""Benchmark of the extraction engine: one workload, one seed, one run.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 20 --trace 0

Workloads: extract_mix, table_lifecycle, query_suite (see README.md); "all"
runs those three in turn, each followed by its result line.
Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, then starts one benchmark JVM. Human-readable
figures go to stdout first; the last line of stdout is the result as JSON:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones and the run also writes its spans to
perfbench/out/<workload>-<seed>-trace1/report.json.

Exits non-zero, printing no result, when the engine's sources are missing,
the build fails, or the benchmark JVM fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HEAP = "2g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads, plus where it lives."""
    h = hashlib.sha256(ROOT.encode())
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    launch = os.path.join(BENCH, "target", "launch.json")
    stamp = os.path.join(BENCH, "target", "build.stamp")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return json.load(open(launch))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "writeLaunch"]
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S, check=True)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return json.load(open(launch))


WORKLOADS = ["extract_mix", "table_lifecycle", "query_suite"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["query_suite_full", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} missing under {ROOT})", 2)

    launch = build()
    for workload in (WORKLOADS if a.workload == "all" else [a.workload]):
        run(launch, workload, a.seed, a.seconds, a.trace)


def run(launch, workload, seed, seconds, trace):
    """One benchmark JVM; prints its figures, then its result line."""
    tag = f"{workload}-{seed}-trace{trace}"
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    out = os.path.join(BENCH, "out", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    result = os.path.join(out, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + launch["jvm_options"]
           + ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--repo", ROOT, "--work", work, "--out", out,
              "--data", os.path.join(BENCH, "data", "sf0.01"),
              "--pins", os.path.join(BENCH, "pins", "query_pins.tsv")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    if proc.returncode != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    with open(result) as f:
        line = json.dumps(json.load(f))
    print(line)


if __name__ == "__main__":
    main()
