#!/usr/bin/env bash
# The full local correctness loop in one command: unit/property suite, the
# benchmark harness self-tests (no Spark session; seconds once .bench_build
# holds the compiled sources), then every registered query dumped and
# cross-checked against its DuckDB oracle.
#
# Usage: tools/verify_quick.sh [SF_DIR] [OUT_DIR]
#   SF_DIR   testdata dir (default /root/testdata/sf0.01 — the driver's gate
#            scale; also run sf0.1 before round end, it has caught
#            scale-dependent bugs the small gates missed)
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify_out}
sbt -batch test
python3 -m unittest discover -s perfbench/tests
rm -rf "$OUT" /tmp/graft_q
sbt -batch "runMain graft.Verify $SF $OUT"
python3 tools/oracle_check.py "$SF" "$OUT"
