#!/usr/bin/env bash
# One-command replica of the driver's correctness gate:
#   tools/gate.sh [sfDir] [outDir]
# Runs graft.Verify (parquet dump + oracle_sql.json) then the DuckDB
# comparator. Exits non-zero on any mismatch. Extra JVM properties for
# the Verify run (e.g. "-Dspark.sql.adaptive.enabled=false") come from
# GATE_JVM_PROPS, space-separated; tools/gate_matrix.sh uses it.
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_DIR="${2:-/tmp/verify_out}"
cd "$(dirname "$0")/.."
SET_OPTS=()
if [ -n "${GATE_JVM_PROPS:-}" ]; then
  opts=$(printf '"%s",' $GATE_JVM_PROPS)
  SET_OPTS=("set run/javaOptions ++= Seq(${opts%,})")
fi
sbt -batch "${SET_OPTS[@]}" "runMain graft.Verify $SF_DIR $OUT_DIR" >/dev/null
python3 tools/compare_oracle.py "$OUT_DIR" "$SF_DIR"
