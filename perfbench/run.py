#!/usr/bin/env python3
"""graft benchmark: seeded closed-loop workloads on one local Spark JVM.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

The first form runs one workload and prints, as its last stdout line, one
JSON object: `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics untraced, per-layer metrics traced). `--workload all` runs every
workload untraced and traced, prints every metric by name with its unit,
and exits non-zero if any op failed or returned a wrong result.

The program and the benchmark client are built from source on first use
(sbt, offline) into `.bench_build/`; each run works in a fresh directory
under `.bench_work/` and deletes it at the end.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ["analyst_session", "dashboard"]
JVM_HEAP = "2g"
JVM_FLAGS = [
    f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-Xss16m",
    # whole-stage codegen emits methods past HotSpot's huge-method limit
    "-XX:-DontCompileHugeMethods",
    # no hsperfdata files outside the checkout
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        if not os.path.exists(top):
            fail(f"missing build input {os.path.relpath(top, ROOT)}: not a graft checkout")
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # the Spark installation whose jars the program's own build names
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
        if m is None:
            fail("set SPARK_HOME to the Spark installation")
        env["SPARK_HOME"] = os.path.dirname(m.group(1))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build (if the sources changed) and return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "perfbench" in l and l.count(":") > 2 and not l.startswith("[")]
    if rc != 0 or not cps:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"build failed (exit {rc})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def jvm(cp, args, work):
    """Run the client JVM; returns (exit code, stdout lines, log path)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.run(
            ["java", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + JVM_FLAGS +
            ["-cp", cp, "perfbench.Main"] + args,
            cwd=work, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
            text=True, timeout=170)
    return p.returncode, p.stdout.splitlines(), log


def result_line(lines):
    for l in reversed(lines):
        if l.startswith("{"):
            return json.loads(l)
    return None


def measure(cp, workload, seed, seconds, trace):
    """One run of one workload; returns the result object."""
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{workload}-{os.getpid()}-{time.time_ns()}")
    try:
        launch = time.time()
        rc, out, log = jvm(cp, [
            "run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", os.path.join(HERE, "data"),
            "--work", work, "--expected", os.path.join(HERE, "expected.json")], work)
        res = result_line(out)
        with open(log) as f:
            for l in f:
                if l.startswith("[perfbench]"):
                    print(l.rstrip(), file=sys.stderr)
        if res is None:
            with open(log) as f:
                print(f.read()[-4000:], file=sys.stderr)
            fail(f"{workload}: client exited {rc} without a result")
        for m in res["failures"]:
            print(f"perfbench: {workload}: {m}", file=sys.stderr)
        setup = (res["first_op_epoch_ms"] / 1e3) - launch
        return res, setup
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(HERE, "expected.json")):
        fail("perfbench/expected.json is missing")
    seconds = a.seconds
    if seconds is None:
        with open(SPEC) as f:
            seconds = json.load(f)["run_seconds"]
    cp = classpath()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    if a.workload not in WORKLOADS + ["all"]:
        fail(f"unknown workload {a.workload}")
    bad = 0
    for w in names:
        p50 = {}
        for trace in ([0, 1] if a.workload == "all" else [a.trace]):
            res, setup = measure(cp, w, a.seed, seconds, trace)
            metrics = dict(res["metrics"])
            if trace == 0:
                metrics["setup_s"] = {"value": setup, "unit": "s"}
            out = {"correct": res["failed"] == 0, "attempted": res["attempted"],
                   "failed": res["failed"], "metrics": metrics}
            bad += res["failed"]
            if a.workload == "all":
                for k, v in metrics.items():
                    print(f"{w:16s} trace={trace} {k:32s} {v['value']:14.4f} {v['unit']}")
                p50[trace] = metrics.get("op_p50_ms", metrics.get("trace.op_p50_ms"))["value"]
                if len(p50) == 2:
                    print(f"{w:16s} tracing overhead on op_p50_ms: {p50[1] - p50[0]:+.1f} ms")
            else:
                print(json.dumps(out))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
