#!/usr/bin/env python3
"""Regenerates perfbench/pins.json, the expected outputs the benchmark checks.

    python3 perfbench/pin.py

Run from the repository root. It builds like run.py, computes every
ingest salt's write statistics, the daily flow's passage count and
recall@10, and each catalog query's result digest. The catalog results are first compared with
their DuckDB oracles by tools/check.py; a row that does not pass is not
pinned. Re-pin only when a change to the program is meant to change
these outputs, and say so in the change.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    cp = run.build()
    work = os.path.join(run.TARGET, "pin-work")
    out = os.path.join(run.TARGET, "pin-out")
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    cmd = run.java_command(cp, work) + [
        "perfbench.Pins", "--data", os.path.join(HERE, "data"), "--work", work, "--out", out]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH_PINS ")]
    if proc.returncode != 0 or not lines:
        raise SystemExit("pin run failed")
    got = json.loads(lines[-1][len("PERFBENCH_PINS "):])
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                            os.path.join(HERE, "data", "sf0.01"), out],
                           stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    passed = {l.split()[1] for l in check.stdout.splitlines()
              if l.startswith("PASS") or l.startswith("ROWSOK")}
    missing = sorted(set(got["catalog"]) - passed)
    if missing:
        raise SystemExit("not confirmed by the oracle check: %s" % ", ".join(missing))
    pins = {
        "ingest": got["ingest"],
        "flow": got["flow"],
        "catalog": got["catalog"],
    }
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(pins, indent=1, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
