#!/bin/bash
cd /root/repo
for i in 1 2 3; do
  SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" 2>/dev/null \
    | grep '"metric"' | sed 's/^\[info\] //' > bench_runs/sf1_run$i.json
  echo "=== sf1 run $i done: $(date)"
done
echo "=== SWEEP COMPLETE: $(date)"
