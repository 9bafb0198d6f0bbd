#!/usr/bin/env bash
# Round gate (round-9 verdict item 1): run the asserting gates against
# the CURRENT source tree and stamp the tree hash into GATE_STAMP.
# The pre-commit hook (tools/install_hooks.sh) refuses any commit that
# touches src/ or build.sbt unless GATE_STAMP matches the tree — so a
# feature commit landing minutes before a snapshot WITHOUT a gate run
# (round 9's q163 failure mode) is structurally impossible.
#
# Usage:
#   tools/gate.sh         # per-milestone gate: sbt test (rotating plan
#                         # audit quarter) + Verify/DuckDB at sf0.01
#   tools/gate.sh full    # round-close gate: full plan-audit sweep
set -euo pipefail
cd "$(dirname "$0")/.."
mode="${1:-quick}"

# Hooks don't travel with clones (round 10 shipped red because the
# installer was never run in the fresh checkout). Every gate run
# re-installs the pre-commit hook, so a passing gate GUARANTEES the
# enforcement is armed.
tools/install_hooks.sh
test -x .git/hooks/pre-commit || { echo "[gate] FAIL: pre-commit hook missing" >&2; exit 1; }

srchash() {
  { sha256sum build.sbt
    find src -type f -name '*.scala' -print0 | sort -z | xargs -0 sha256sum
  } | sha256sum | cut -d' ' -f1
}

h_before="$(srchash)"

if [ "$mode" = "full" ]; then
  SPARK_GRAFT_PLANAUDIT_FULL=1 sbt -batch test
else
  sbt -batch test
fi

out=/tmp/gate_verify
rm -rf "$out"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out"
python3 tools/check.py /root/testdata/sf0.01 "$out" | tail -3
# independent reference for the JVM-hash-specific simhash rows, whose
# oracles are literal pins of the engine's own output
python3 tools/ref_simhash.py /root/testdata/sf0.01 "$out"

h_after="$(srchash)"
if [ "$h_before" != "$h_after" ]; then
  echo "[gate] FAIL: source tree changed while the gate was running" >&2
  exit 1
fi

echo "$h_after $(date -u +%FT%TZ) mode=$mode" > GATE_STAMP
echo "[gate] PASS ($mode); GATE_STAMP written for $h_after"
