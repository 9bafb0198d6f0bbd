#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <ingest|ask|catalog> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) into perfbench/target; later runs
reuse the build while no source file is newer. Each run starts one JVM
(Spark local[nproc]), generates the workload's inputs from the seed,
sets up, measures for --seconds, checks every operation's output, and
prints one JSON line last: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. A wrong answer counts as a failed operation.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 720
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return files


def build():
    """Compiles with sbt unless the recorded classpath is newer than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the program's sources (src/main/scala) are missing")
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources() if os.path.exists(f)):
            with open(CLASSPATH) as f:
                return f.read().strip()
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    log("built in %.0f s" % (time.time() - t0))
    return cp


def java_command(cp, work):
    """The JVM every run uses. A fixed heap keeps the peak resident set
    from following the collector's resizing decisions."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                  "-cp", cp]


def run_workload(cp, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_command(cp, work) + [
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data"), "--work", work]
    errlog = os.path.join(work, "stderr.log")
    with open(errlog, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise SystemExit("perfbench: workload run exceeded %d s" % RUN_TIMEOUT_S)
    raw = [l for l in out.splitlines() if l.startswith("PERFBENCH_RAW ")]
    if proc.returncode != 0 or not raw:
        with open(errlog) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit("perfbench: workload run failed (exit %d)" % proc.returncode)
    return json.loads(raw[-1][len("PERFBENCH_RAW "):])


def report(raw, trace, pins):
    checked = stats.checked_ops(raw, pins)
    failures = [(op.get("key"), why) for op, why in checked if why]
    for key, why in failures[:10]:
        log("FAILED %s: %s" % (key, why))
    times = [t for t, _ in stats.op_times(raw, traced=False)]
    tail = stats.tail_percentile(len(times))
    log("%s: %d operations checked, %d failed (ops_failed_frac %.4f); %d timed untraced%s" % (
        raw["workload"], len(checked), len(failures), stats.failed_fraction(checked), len(times),
        "" if tail is None else ", p%g %.1f ms" % (tail, stats.percentile(times, tail))))
    if trace:
        values = stats.per_layer(raw)
        dead = [n for n in stats.MUST_BE_POSITIVE.get(raw["workload"], ()) if not values[n] > 0]
        if dead:
            raise SystemExit("perfbench: traced metrics read 0, so their instrumentation is broken: "
                             + ", ".join(dead))
        flaps = stats.flapping_spans(raw)
        if flaps:
            log("job counts differ between traced operations: " + ", ".join(flaps))
        metrics = {n: {"value": values[n], "unit": stats.unit_of(n)} for n in stats.per_layer_names()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in stats.end_to_end(raw).items()}
    return {"correct": not failures, "attempted": len(checked), "failed": len(failures),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=stats.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    cp = build()
    work = os.path.join(TARGET, "work", "%s-%d" % (args.workload, os.getpid()))
    try:
        raw = run_workload(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(raw, args.trace, pins)), flush=True)


if __name__ == "__main__":
    main()
