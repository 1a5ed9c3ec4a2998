#!/bin/bash
# Run a compiled graft main class (graft.Verify, graft.Bench, graft.Main or
# one of graft.tools.{GenScale,BpeTool,ResidualServeProbe}) directly on the
# Spark jars, bypassing the sbt launcher and its project lock, so a main can
# run while sbt compiles or tests in another terminal. Compile first
# (sbt compile). Usage: tools/runtool.sh <MainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
MAIN="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
