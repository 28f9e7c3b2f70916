#!/bin/bash
# Full scaling sweep at one commit: 3x sf0.1 + 3x sf1 Bench records.
#
# Usage: SPARK_GRAFT_ROUND=<tag> bash tools/full_sweep.sh <sf1 dir> <cpus> [sf0.1 dir]
#   (make the sf1 dir with: python3 tools/make_sf.py <sf0.1 dir> <sf1 dir> 10;
#   without the third argument the sf0.1 runs use Bench's default dir)
#
# Each run's full record (the SPARK_GRAFT_BENCH_OUT artifact, not the
# size-budgeted stdout line) lands in bench_runs/<sf>_<tag>_run<i>.json.
# Run it on a quiet machine and do not edit src/main while it runs (each
# sbt invocation recompiles).
cd "$(dirname "$0")/.." || exit 1
# no default round tag: a stale default silently overwrites a committed
# round's artifacts
R=${SPARK_GRAFT_ROUND:?"set SPARK_GRAFT_ROUND (e.g. r18)"}
SF1=${1:?"usage: full_sweep.sh <sf1 dir> <cpus> [sf0.1 dir]"}
CPUS=${2:?"usage: full_sweep.sh <sf1 dir> <cpus> [sf0.1 dir]"}
SF01=${3:-}
# refuse to start while oracle grinders or another bench/verify JVM is
# alive: sweep numbers from a contended box are noise; Bench itself also
# waits, making the exclusion mutual
while pgrep -f 'check_oracle|patch_oracle_scale|graft\.(Bench|Verify)' >/dev/null 2>&1 \
   || pgrep -x duckdb >/dev/null 2>&1; do
  echo "=== machine busy (oracle/bench/verify co-tenant); sweep waits: $(date)"
  sleep 30
done
run() {  # <sf dir or empty> <record name>
  env ${1:+SPARK_GRAFT_SF_DIR=$1} SPARK_GRAFT_CPUS=$CPUS \
    SPARK_GRAFT_BENCH_OUT=bench_runs/$2.json \
    sbt -batch "runMain graft.Bench" >/dev/null 2>&1 \
    || { echo "=== $2 FAILED: $(date)"; exit 1; }
  echo "=== $2 done: $(date)"
}
for i in 1 2 3; do run "$SF01" "sf0.1_${R}_run$i"; done
for i in 1 2 3; do run "$SF1" "sf1_${R}_run$i"; done
echo "=== SWEEP COMPLETE: $(date)"
