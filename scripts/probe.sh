#!/bin/bash
# Run graft.ScaleProbe outside sbt (frees the sbt lock for compiles).
# Usage: scripts/probe.sh <sfDir> <k> [set] [parts] [xmx]
# set and parts are passed only when given, so ScaleProbe's own defaults
# apply (set r3; shuffle partitions = cores). The driver heap is this
# JVM's -Xmx (xmx, default 48g): ScaleProbe runs in-process, where a
# spark.driver.memory setting has no effect.
set -euo pipefail
DIR=${1:-/root/testdata/sf0.1}
K=${2:-10}
XMX=${5:-48g}
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | paste -sd:)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java -Xmx"$XMX" $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.ScaleProbe "$DIR" "$K" "${@:3:2}"
