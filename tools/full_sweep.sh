#!/bin/bash
# Full scaling sweep at one commit: 3x sf0.1 + 3x sf1 + the dup counterfactual.
# Outputs land in bench_runs/; run from a quiet machine, never edit
# src/main while this is running (each sbt invocation recompiles).
# Bench prints only a SHORT stdout line (driver tail-capture contract);
# the full per-query record is the SPARK_GRAFT_BENCH_OUT artifact.
cd /root/repo
# no default round tag: a stale default silently overwrites a committed
# round's artifacts (r15 review)
R=${SPARK_GRAFT_ROUND:?"set SPARK_GRAFT_ROUND (e.g. r15)"}
# refuse to start while oracle grinders or another bench/verify JVM is
# alive (r15 verdict item 5) — sweep numbers from a contended box are
# noise; Bench itself also waits, making the exclusion mutual
while pgrep -f 'check_oracle|patch_oracle_scale|graft\.(Bench|Verify)' >/dev/null 2>&1 \
   || pgrep -x duckdb >/dev/null 2>&1; do
  echo "=== machine busy (oracle/bench/verify co-tenant); sweep waits: $(date)"
  sleep 30
done
for i in 1 2 3; do
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_OUT=bench_runs/sf0.1_${R}_run$i.json \
    sbt -batch "runMain graft.Bench" >/dev/null 2>&1
  echo "=== sf0.1 run $i done: $(date)"
done
for i in 1 2 3; do
  SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_OUT=bench_runs/sf1_${R}_run$i.json \
    sbt -batch "runMain graft.Bench" >/dev/null 2>&1
  echo "=== sf1 run $i done: $(date)"
done
# standing dup-heavy counterfactual (r14 verdict item 6): the recombined
# driver fixture has no verbatim dups, so the contracted reports' win
# only shows on this synthetic 10x-dup corpus — commit it per round
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_DUP_K=10 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.DupBench" 2>/dev/null \
  | grep '"metric"' | sed 's/^\[info\] //' > bench_runs/dup_counterfactual_${R}.json
echo "=== SWEEP COMPLETE: $(date)"
