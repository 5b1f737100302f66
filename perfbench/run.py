#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload monthly_report --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (perfbench/build.sbt); later runs reuse the build until a
source file changes. Each run generates its inputs from the seed, runs the
workload in one JVM (`local[<cores>]`), then checks the outputs against
DuckDB after the JVM has exited. The last line of stdout is
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("monthly_report", "index_lifecycle")
# A fixed-size, pre-touched heap. With a growable heap, how far G1 grows it
# (and so the peak RSS) depends on GC timing, and peak_rss_mb spread ~20%
# between runs; a fixed but untouched heap still left it depending on how
# much of eden a run had cycled through.
JVM_HEAP = "2g"
# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties"),
              os.path.join("perfbench", "build.sbt"),
              os.path.join("perfbench", "project", "build.properties")):
        yield os.path.join(ROOT, f)


def classpath():
    """The harness's runtime classpath, building first when any source is
    newer than the last build."""
    stamp = os.path.join(BUILD, "classpath.txt")
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest:
        return open(stamp).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def run_jvm(cp, args, log):
    """Runs the workload JVM; returns its peak RSS in MB."""
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={args['work']}/tmp", "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"workload JVM exited with {proc.returncode}; log in {log}")
    return usage.ru_maxrss / 1024.0


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src; run from the repository root")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = classpath()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inp = os.path.join(work, "input")
    gen.generate(a.workload, a.seed, inp, a.seconds)

    cores = len(os.sched_getaffinity(0))
    result = os.path.join(work, "result.json")
    rss = run_jvm(cp, {"workload": a.workload, "input": inp, "work": work,
                       "seconds": a.seconds, "trace": a.trace, "cores": cores,
                       "result": result}, os.path.join(work, "jvm.log"))
    r = json.load(open(result))

    problems = checks.check(a.workload, inp, work, r["facts"])
    for msg in problems:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    measured = dict(r["metrics"], peak_rss_mb=rss)
    if a.trace:
        wanted = spec["per_layer"]
        # a layer the workload bypasses did no work
        values = {m["name"]: measured.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: measured[m["name"]] for m in wanted}
    out = {
        "correct": not problems,
        "attempted": r["attempted"],
        "failed": 0,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
