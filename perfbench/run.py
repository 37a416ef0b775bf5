#!/usr/bin/env python3
"""graft benchmark: one command for the health-daily, events-scan and
corpus-ingest workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft's sources
together with the benchmark program (perfbench/src) into .bench_build/;
later runs reuse the build while no source changed. Each run generates
its inputs from the seed, drives graft in one JVM (local[nproc], one
closed-loop client thread), checks every output outside the timed
section, and prints one JSON object as its last stdout line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import checks
import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 700
JVM_HEAP = "3g"

# What spark-submit would add on JDK 17 (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [GRAFT_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(GRAFT_SRC):
        fail(f"graft sources not found under {os.path.relpath(GRAFT_SRC, ROOT)}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_DEADLINE_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if ".bench_build" in l and ":" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def run_jvm(cp, a, inputs, work, out, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{JVM_HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--inputs", inputs, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
            "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            fail("the JVM missed the run deadline")
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"the JVM exited with {r.returncode}")
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    start = time.time()
    cp = build()
    deadline = time.time() + RUN_DEADLINE_S - min(time.time() - start, 10)

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t0
        res = run_jvm(cp, a, inputs, work, os.path.join(work, "result.json"), deadline)
        check = checks.run(a.workload, inputs, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out = metrics.report(a.workload, a.trace, res, check, spec, gen_s)
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
