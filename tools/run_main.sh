#!/usr/bin/env bash
# Run a graft main directly via java (no sbt lock, no sbt startup cost).
# Mirrors build.sbt's forked-JVM options. Usage:
#   tools/run_main.sh graft.Bench [args...]
# Env passthrough: SPARK_GRAFT_* / SPARK_DRIVER_MEM as usual.
set -euo pipefail
# the checkout this script lives in, so a copy runs its own classes
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
JARS=/opt/spark/jars/'*'
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPENS=()
for p in "${ADD_OPENS[@]}"; do OPENS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${OPENS[@]}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  ${SPARK_GRAFT_JAVA_OPTS:-} \
  -cp "$CLASSES:$JARS:$REPO/src/main/resources" \
  "$@"
