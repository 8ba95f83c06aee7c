#!/bin/bash
# Run graft.Bench outside sbt (frees the sbt lock for compiles).
# Usage: scripts/bench.sh <sfDir> <outJson> [onlyCsv] [xmx]
# xmx defaults to half of this host's memory.
set -euo pipefail
source "$(dirname "$0")/jvm.sh"
DIR=${1:-/root/testdata/sf0.1}
OUT=${2:-/tmp/bench_out.json}
ONLY=${3:-}
export SPARK_GRAFT_SF_DIR="$DIR" SPARK_GRAFT_BENCH_OUT="$OUT"
if [ -n "$ONLY" ]; then export SPARK_GRAFT_BENCH_ONLY="$ONLY"; fi
graft_java "$GRAFT_ROOT" "${4:-}" graft.Bench
