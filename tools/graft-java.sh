#!/usr/bin/env bash
# Run a graft main class from the sbt-compiled classes with the JDK 17
# module flags Spark needs outside spark-submit. Build first with
# `sbt -batch compile`.
#
# Usage: tools/graft-java.sh <heap> <main class> [args...]
#   e.g. tools/graft-java.sh 8g graft.Profile recall <sfDir> 1
set -u
root="$(cd "$(dirname "$0")/.." && pwd)"
heap="$1"; shift
exec java "-Xmx$heap" -cp "$root/target/scala-2.13/classes:/opt/spark/jars/*" \
  --add-exports java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/jdk.internal.misc=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  "$@"
