#!/bin/bash
# Dev-only standalone launcher: run a graft main class directly from the
# sbt-compiled classes without taking the sbt project lock (so sweeps can
# run while `sbt test` owns the build). The classes are copied to a
# private temporary directory at launch and the JVM runs from that copy,
# so an sbt recompile of target/scala-2.13/classes mid-run cannot pull
# classes out from under it; the copy is removed on exit. Mirrors
# build.sbt's forked-JVM flags exactly: the JDK-17 --add-opens set Spark 4
# needs outside spark-submit, UTC session TZ, UI off, SPARK_DRIVER_MEM
# heap override.
#
# Usage: scripts/run_graft.sh <mainClass> [args...]
#   e.g. scripts/run_graft.sh graft.Verify /root/testdata/sf0.01 /tmp/out
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
SNAP="$(mktemp -d)"
trap 'rm -rf "$SNAP"' EXIT
cp -r target/scala-2.13/classes/. "$SNAP/"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -cp "src/main/resources:$SNAP:/opt/spark/jars/*" \
  "$MAIN" "$@" &
JVM=$!
# Forward INT/TERM (Ctrl-C, `timeout`) to the JVM and keep waiting until
# it has exited, so the copy outlives it; exit with the JVM's status.
trap 'kill -TERM "$JVM" 2>/dev/null' INT TERM
while true; do
  wait "$JVM" && exit 0 || st=$?
  kill -0 "$JVM" 2>/dev/null || exit "$st"
done
