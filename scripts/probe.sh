#!/bin/bash
# Run graft.ScaleProbe outside sbt (frees the sbt lock for compiles).
# Usage: scripts/probe.sh <sfDir> <k> [set] [parts] [xmx]
# set and parts are passed only when given, so ScaleProbe's own defaults
# apply (set r3; shuffle partitions = cores). The driver heap is this
# JVM's -Xmx (xmx, default half of this host's memory): ScaleProbe runs
# in-process, where a spark.driver.memory setting has no effect.
set -euo pipefail
source "$(dirname "$0")/jvm.sh"
DIR=${1:-/root/testdata/sf0.1}
K=${2:-10}
graft_java "$GRAFT_ROOT" "${5:-}" graft.ScaleProbe "$DIR" "$K" "${@:3:2}"
