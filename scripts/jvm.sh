# Shared JVM launcher for the scripts (sourced, not run): the classpath,
# the JDK 17 --add-opens Spark needs outside spark-submit, and a default
# heap of half this host's memory.
GRAFT_ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
# the Spark jars, where build.sbt's unmanagedBase finds them
GRAFT_JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$GRAFT_ROOT/build.sbt")

# half of MemTotal, in MB
graft_default_xmx() {
  if [ -r /proc/meminfo ]; then
    awk '/^MemTotal:/ {print int($2 / 2048) "m"}' /proc/meminfo
  else echo 2g; fi
}

# graft_java <repoRoot> <xmx, empty for the default> <mainClass> [args...]
graft_java() {
  local root=$1 xmx=${2:-$(graft_default_xmx)} main=$3 p
  shift 3
  local opens=()
  for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
           java.nio java.util java.util.concurrent \
           java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
           sun.security.action sun.util.calendar; do
    opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
  done
  java -Xmx"$xmx" "${opens[@]}" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$root/target/scala-2.13/classes:$(ls "$GRAFT_JARS"/*.jar | paste -sd:)" \
    "$main" "$@"
}
