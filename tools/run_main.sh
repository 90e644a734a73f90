#!/usr/bin/env bash
# Dev-only: run a graft main class directly on the compiled classes
# (bypasses sbt, so long scale probes can run in the background while
# sbt stays free for compile/test). Mirrors build.sbt's fork JVM:
# JDK17 --add-opens, UTC, heap/code-cache sizing. The dev probes and
# scale drivers live in test scope, so compile them first
# (`sbt Test/compile`); test-classes follows classes on the classpath.
#
# Usage: tools/run_main.sh graft.JoinScale 1000002 2
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
CP="${CP%%:*}:target/scala-2.13/test-classes:${CP#*:}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -XX:ReservedCodeCacheSize="${SPARK_CODE_CACHE:-1g}" \
  -XX:+UseCodeCacheFlushing \
  -cp "$CP" "$@"
