#!/bin/bash
# Run graft.ScaleProbe outside sbt (frees the sbt lock for compiles).
# Usage: scripts/probe.sh <sfDir> <k> <names> [parts] [xmx]
# names is a comma-separated list of registered queries and stream
# names (streams, streamcompact, eventcompact). parts is passed only
# when given, so shuffle partitions default to the core count. The
# driver heap is this JVM's -Xmx (xmx, default half of this host's
# memory): ScaleProbe runs in-process, where a spark.driver.memory
# setting has no effect.
set -euo pipefail
source "$(dirname "$0")/jvm.sh"
if [ $# -lt 3 ]; then
  echo "usage: $0 <sfDir> <k> <names> [parts] [xmx]" >&2
  exit 2
fi
graft_java "$GRAFT_ROOT" "${5:-}" graft.ScaleProbe "$1" "$2" "$3" ${4:+"$4"}
