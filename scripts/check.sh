#!/bin/bash
# Local loop: run Verify at sf0.01 then the DuckDB compare (mirrors driver).
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 | grep -Ev '^\[info\]|^\[warn\]|WARNING' || true
python3 scripts/check.py --strict "$SF" "$OUT"
