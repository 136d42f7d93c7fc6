#!/bin/bash
# Full-suite series of record: three graft.Bench runs at 32 cores with a 45 s
# settle between them, then one 8-core control run (the core-scaling sanity
# check: the 8-core suite must not beat the 32-core one). Each JSON is stamped
# with `git describe` and its summary line printed. The corpus is graft.Bench's
# default (sf0.1) unless SPARK_GRAFT_SF_DIR names another.
# Usage: bash bench/series.sh <label>     (e.g. r18)
# Writes bench/results/<label>_sf0.1_run{1,2,3}.{json,log} and <label>_c8.{json,log}.
set -u
LABEL="${1:?usage: bench/series.sh <label>}"
cd "$(dirname "$0")/.."
HEAD_DESC=$(git describe --always --dirty 2>/dev/null || git rev-parse --short HEAD)

# run <cpus> <out stem>: one Bench run, stamped and summarised
run() {
  local cpus="$1" stem="bench/results/$2"
  echo "=== $LABEL $2 ($HEAD_DESC, $cpus cores) $(date +%H:%M:%S)"
  SPARK_GRAFT_CPUS="$cpus" SPARK_GRAFT_BENCH_OUT="$stem.json" \
    sbt -batch "runMain graft.Bench" > "$stem.log" 2>&1
  python3 - "$stem.json" "$HEAD_DESC" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
d["git_head"] = sys.argv[2]
open(sys.argv[1], "w").write(json.dumps(d, separators=(",", ":")) + "\n")
print(f"total={d['value']:.1f}s n={d['n_queries']} failures={d['n_failures']} "
      f"contended={d['contended_run']} bursty={d['bursty_contention']} "
      f"sentinel={d['cpu_ratio_sentinel_median']}")
EOF
}

for i in 1 2 3; do
  run 32 "${LABEL}_sf0.1_run$i"
  sleep 45
done
run 8 "${LABEL}_c8"
echo "$LABEL SERIES COMPLETE $(date +%H:%M:%S)"
