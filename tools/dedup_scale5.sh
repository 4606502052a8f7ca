#!/bin/bash
# Dedup-tier scale protocol, variance-pinned (VERDICT r14 #3): the r14
# 3-point probe certified the dedup exponents from min-of-2-or-3 passes
# whose sf3 wall-times spread 30-80% — indistinguishable from host drift.
# This protocol runs the five dedup-tier queries as MEDIAN-OF-5 fresh-JVM
# passes per leg (sf0.1 / sf1 / sf3) in a quiet window, with PER-QUERY
# SHUFFLE WRITE BYTES recorded alongside wall-time (graft.Bench always
# records them): if shuffle bytes are flat across passes while
# wall-time spreads, the spread is host drift; if bytes grow, the
# superlinearity is real and the operator is named.
#
# Usage: dedup_scale5.sh [outdir]   (expects data/sf1 + data/sf3 from
# graft.tools.ScaleUp and a packaged jar in target/scala-2.13)
set -euo pipefail
cd /root/repo
export SPARK_HOME=/opt/spark
export SPARK_SCALA_VERSION=2.13
OUT=${1:-/tmp/dedup5_r15}
mkdir -p "$OUT"
JAR=$(ls target/scala-2.13/*.jar | head -1)
SUBSET="dedup_cc_keepers dedup_cc_star dedup_closure dedup_minhash dedup_ngram"
for leg in "sf0.1:/root/testdata/sf0.1" "sf1:/root/repo/data/sf1" "sf3:/root/repo/data/sf3"; do
  name="${leg%%:*}"; dir="${leg#*:}"
  for p in 1 2 3 4 5; do
    echo "=== $name pass $p ==="
    SPARK_GRAFT_SF_DIR="$dir" \
    SPARK_GRAFT_MASTER="local-cluster[2,8,14336]" \
    SPARK_GRAFT_EXEC_MEM=12g \
    SPARK_GRAFT_JARS="$JAR" \
    SPARK_GRAFT_CPUS=16 \
    SPARK_GRAFT_NO_RERUN=1 \
    SPARK_GRAFT_BENCH_OUT="$OUT/${name}_p${p}.json" \
    java -cp "/opt/spark/jars/*:$JAR" graft.Bench $SUBSET > "$OUT/${name}_p${p}.log" 2>&1
    tail -1 "$OUT/${name}_p${p}.log"
  done
done
python3 tools/dedup_scale5.py "$OUT" | tee "$OUT/summary.md"
