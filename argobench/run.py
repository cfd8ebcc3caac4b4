#!/usr/bin/env python3
"""Benchmark of the argostats pipeline: GDAC NetCDF -> summary ->
interpolation -> atlas -> NetCDF, end to end and layer by layer.

Run from the root of the repository:

    python3 argobench/run.py --workload paper-e2e --seed 1 --seconds 20 --trace 0

The first run builds the program and the benchmark from source with sbt
(argobench/build.sbt depends on the root project); later runs reuse that
build until a source file changes. Each run starts one JVM that generates
the seeded GDAC, runs the pipeline and checks its outputs (see
src/main/scala/argobench/Main.scala). The last line of standard output is
one JSON object: correct, attempted, failed and metrics -- the end-to-end
metrics with --trace 0, the per-layer ones with --trace 1. The line before
it carries the run context. A traced run also leaves its spans in
argobench/.work/results/.

Tests of the benchmark itself: `cd argobench && sbt test`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
LAUNCH = os.path.join(BUILD, "launch.txt")
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 175  # a run must end within 180 s, the first one's build aside
BUILD_DEADLINE_S = 840


def fail(msg):
    print(f"argobench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, for the rebuild check."""
    for top in ("src/main", "project", "argobench/src/main", "argobench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")


def build():
    newest = max(os.path.getmtime(p) for p in sources() if os.path.isfile(p))
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= newest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "launcher"]
    t0 = time.time()
    r = run_bounded(cmd, BENCH, env, BUILD_DEADLINE_S, sys.stderr)
    if r != 0 or not os.path.isfile(LAUNCH):
        fail(f"build failed (exit {r})")
    print(f"argobench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_bounded(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} took longer than {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end" if trace == 0 else "per_layer"]}


def cgroup_cpu_max():
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            return f.read().strip()
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources are not here; run from the repository root")
    want = expected_metrics(a.trace)
    build()

    t0 = time.time()
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{name}.json")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(out):
        os.remove(out)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *jvm_opts, f"-Djava.io.tmpdir={work}", "-cp", classpath,
           "argobench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", out]
    cpu_max = cgroup_cpu_max()
    try:
        r = run_bounded(cmd, ROOT, dict(os.environ), DEADLINE_S - (time.time() - t0), sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM failed (exit {r})")
    with open(out) as f:
        res = json.load(f)

    got = {n: m["unit"] for n, m in res["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, units {sorted(n for n in got if n in want and got[n] != want[n])}")
    context = dict(res["context"], cgroup_cpu_max=cpu_max, jvm_opts=jvm_opts,
                   wall_s=round(time.time() - t0, 3))
    print(json.dumps({"context": context}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
