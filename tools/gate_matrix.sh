#!/usr/bin/env bash
# The correctness gate (tools/gate.sh) under three adversarial Spark
# configurations, each set through spark.* JVM properties:
#
#   no_codegen    whole-stage and expression codegen off;
#   one_core      broadcast joins and AQE off, one core, one shuffle
#                 partition;
#   spill         forced shuffle, window and sort-merge-join spill, and
#                 the sort-based fallback of every object hash aggregate
#                 (the path of the sketch partial aggregates, e.g. the
#                 KLL sketch in the pipeline's fused per-part aggregate).
#
#   tools/gate_matrix.sh [sfDir] [outDirPrefix]
# Exits non-zero if any configuration mismatches the oracle. An empty
# sfDir means tools/gate.sh's default.
set -euo pipefail
SF_DIR="${1:-}"
OUT_PREFIX="${2:-/tmp/verify_matrix}"
cd "$(dirname "$0")/.."

run() {
  local name="$1" cpus="$2" props="$3"
  echo "== $name"
  SPARK_GRAFT_CPUS="$cpus" GATE_JVM_PROPS="$props" \
    tools/gate.sh "$SF_DIR" "$OUT_PREFIX/$name" | grep -v -E '^  q_.*: [0-9]+ rows$'
}

CPUS="${SPARK_GRAFT_CPUS:-4}"
run no_codegen "$CPUS" "-Dspark.sql.codegen.wholeStage=false \
  -Dspark.sql.codegen.factoryMode=NO_CODEGEN"
run one_core 1 "-Dspark.sql.autoBroadcastJoinThreshold=-1 \
  -Dspark.sql.adaptive.enabled=false"
run spill "$CPUS" "-Dspark.sql.objectHashAggregate.sortBased.fallbackThreshold=1 \
  -Dspark.shuffle.spill.numElementsForceSpillThreshold=1000 \
  -Dspark.sql.windowExec.buffer.in.memory.threshold=1 \
  -Dspark.sql.windowExec.buffer.spill.threshold=1000 \
  -Dspark.sql.sortMergeJoinExec.buffer.in.memory.threshold=1 \
  -Dspark.sql.sortMergeJoinExec.buffer.spill.threshold=1000"
echo "gate matrix: all configurations green"
