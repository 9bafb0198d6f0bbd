#!/usr/bin/env python3
"""Runs one workload over several seeds and summarises each metric.

    python3 perfbench/repeat.py --workload ask --seeds 1-10 [--seconds 8] [--trace 0]

Run from the repository root. For each metric it prints the median, the
first and third quartile, and their distance as a share of the median
(the run-to-run spread a bound has to exceed). Runs are sequential.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=stats.WORKLOADS)
    ap.add_argument("--seeds", required=True, help="a seed or a range such as 1-10")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()
    values = {}
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            raise SystemExit("seed %d failed" % seed)
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        print("seed %d: correct %s, %d attempted, %d failed" % (
            seed, out["correct"], out["attempted"], out["failed"]), flush=True)
        for name, m in out["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        q1, q2, q3 = stats.quartiles(vs)
        print("%-45s median %14.4f  q1 %14.4f  q3 %14.4f  spread %.3f" % (
            name, q2, q1, q3, stats.relative_spread(vs)))


if __name__ == "__main__":
    main()
