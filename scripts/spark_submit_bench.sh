#!/bin/bash
# spark-submit launcher for the engine's driver mains — the deployment shape
# the north rule names ("run via spark-submit on a multi-executor cluster").
# In this sandbox the master is local[N] (no real cluster; see BASELINE.md's
# note on the two-parallelism-level proxy); on a cluster, point --master at
# YARN/k8s/standalone and the same jar + class + conf run unchanged — every
# pipeline already partitions/broadcasts explicitly and keeps state in
# executor-shared storage, never driver-local.
#
#   scripts/spark_submit_bench.sh graft.Bench
#   scripts/spark_submit_bench.sh graft.Verify /root/testdata/sf0.01 /tmp/graft_verify
#   scripts/spark_submit_bench.sh graft.CrawlMain ...
#
# Build the jar first: sbt -batch package
set -euo pipefail
cd "$(dirname "$0")/.."
CLASS="${1:?usage: spark_submit_bench.sh <mainClass> [args...]}"
shift
JAR="target/scala-2.13/extensioncrawlerspark_2.13-0.1.0.jar"
# defaults fit the machine: every core, and a heap of MemTotal/2 clamped to
# 2-8 GB (the same formula as build.sbt)
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
[ -f "$JAR" ] || { echo "jar missing — run: sbt -batch package" >&2; exit 1; }
exec /opt/spark/bin/spark-submit \
  --master "local[$CPUS]" \
  --class "$CLASS" \
  --driver-memory "$MEM" \
  --conf spark.driver.extraJavaOptions="-Xms$MEM -XX:+UseParallelGC" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.local.dir=/dev/shm/graft-spark \
  --conf spark.ui.enabled=false \
  "$JAR" "$@"
