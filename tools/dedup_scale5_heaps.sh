#!/bin/bash
# Heaps-vocabulary dedup scale protocol (r17, VERDICT r16 #5): identical to
# dedup_scale5.sh (median-of-5 fresh-JVM passes per leg, per-query shuffle
# bytes recorded) but over ScaleUp's `heaps` docMode datasets — vocabulary
# grows ∝ √corpus (Heaps β≈0.5) instead of linearly, so the df-capped
# inverted-index candidate mass Σ min(df,cap)² can actually reach its
# |vocab|·cap² plateau and the measured bytes exponent certifies (or
# refutes) the "sublinear in tokens" claim for the ngram/cc/star/closure
# family.
#
# Usage: dedup_scale5_heaps.sh [outdir]  (expects data/sf1h + data/sf3h
# from `graft.tools.ScaleUp <dir> {10|30} /root/testdata/sf0.1 heaps`
# and a packaged jar in target/scala-2.13)
set -euo pipefail
cd /root/repo
export SPARK_HOME=/opt/spark
export SPARK_SCALA_VERSION=2.13
OUT=${1:-/tmp/dedup5_r17_heaps}
mkdir -p "$OUT"
JAR=$(ls target/scala-2.13/*.jar | head -1)
SUBSET="dedup_cc_keepers dedup_cc_star dedup_closure dedup_minhash dedup_ngram"
for leg in "sf0.1:/root/testdata/sf0.1" "sf1:/root/repo/data/sf1h" "sf3:/root/repo/data/sf3h"; do
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
