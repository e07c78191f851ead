#!/usr/bin/env bash
# Cluster launch profile (BASELINE.json:14: "launched via spark-submit on
# multi-executor clusters at N and 4N executors").
#
# The sandbox has no multi-node cluster; this script is the launch contract
# the jar is built for — identical code paths run in local[N] (see
# tools/bench_kgw_steady.sh for the sandbox N vs 4N scaling protocol).
#
# Usage: MASTER=yarn N_EXECUTORS=64 scripts/run_cluster.sh <sfDir>
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.1}"
MASTER="${MASTER:-yarn}"
N="${N_EXECUTORS:-16}"

sbt -batch package
JAR=$(ls target/scala-2.13/*.jar | head -1)

# Shuffle partitions scale with total cores; AQE coalesces the tail.
# maxPartitionBytes keeps scan tasks ~128MB so 100TB fans out to ~800k
# well-sized tasks instead of a few huge ones.
exec spark-submit \
  --class graft.Bench \
  --master "$MASTER" \
  --deploy-mode client \
  --num-executors "$N" \
  --executor-cores 4 \
  --executor-memory 12g \
  --conf spark.sql.shuffle.partitions=$((N * 4 * 2)) \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.files.maxPartitionBytes=134217728 \
  --conf spark.sql.autoBroadcastJoinThreshold=67108864 \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.checkpoint.dir=/tmp/graft-checkpoints \
  "$JAR"
