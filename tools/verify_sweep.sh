#!/bin/bash
# Mechanical local verification sweep (verdict r7 order #6): runs graft.Verify
# over every registered query at sf0.01, replicates the driver's DuckDB
# hash-compare, and writes bench/results/<label>_verify_local.json stamped
# with the EXACT git head it ran at. Refuses to label a dirty tree — the
# r6/r7 rounds both shipped sweep artifacts whose git_head predated the last
# main-source commit; this script makes that class impossible.
# Usage: tools/verify_sweep.sh <label>     (e.g. r8)
set -eu
cd "$(dirname "$0")/.."
LABEL="${1:?usage: tools/verify_sweep.sh <label>}"
DESC=$(git describe --always --dirty)
case "$DESC" in
  *-dirty) echo "REFUSING: working tree is dirty ($DESC) — commit first"; exit 1;;
esac
OUT="bench/results/${LABEL}_verify_local.json"
TMP=$(mktemp -d /tmp/verify_sweep.XXXX)
CPUS=$(nproc)
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $TMP" \
  > "$TMP/verify.log" 2>&1
python3 tools/check_correctness.py "$TMP" /root/testdata/sf0.01 > "$TMP/check.log" 2>&1 || true
SUMMARY=$(tail -1 "$TMP/check.log")
N_PASS=$(grep -c '^PASS ' "$TMP/check.log" || true)
N_FAIL=$(grep -c '^FAIL ' "$TMP/check.log" || true)
python3 - "$OUT" "$DESC" "$SUMMARY" "$N_PASS" "$N_FAIL" "$CPUS" <<'EOF'
import json, sys, datetime
out, desc, summary, n_pass, n_fail, cpus = sys.argv[1:7]
json.dump({
  "what": "Local full-sweep verification at HEAD: graft.Verify at sf0.01 -> tools/check_correctness.py (DuckDB oracle, cols sorted by name, exact cell compare)",
  "ran_at_utc": datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
  "git_head": desc,
  "spark": f"4.1.2 local[{cpus}]",
  "n_pass": int(n_pass), "n_fail": int(n_fail),
  "summary": summary,
}, open(out, "w"), indent=1)
print(open(out).read())
EOF
echo "sweep: $SUMMARY at $DESC -> $OUT"
rm -rf "$TMP"
