#!/bin/bash
# Fresh-JVM runner for graft mains (Bench/Verify/dev.QueryProfile/dev.ScaleCurve) from a
# snapshot of the compiled classes — the dev/bench_r11..r16 recipe: compile +
# copyResources once, snapshot to a frozen dir, then ONE fresh JVM per run
# with the build.sbt add-opens set, so sbt startup/compile never pollutes a
# timed run and mid-run recompiles can't change the code under test.
#
# Usage: run_fresh_jvm.sh [--snapshot] <mainClass> [args...]
#   --snapshot  re-copy target/scala-2.13/classes to the frozen dir first
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_N,
# SPARK_GRAFT_BENCH_ONLY, SPARK_DRIVER_MEM.
set -euo pipefail
# SPARK_GRAFT_SNAP_DIR: alternate frozen-class dir, so interleaved A/B
# drills can point the B side at a saved before-snapshot
SNAP=${SPARK_GRAFT_SNAP_DIR:-/tmp/graft_snap_classes}
if [ "${1:-}" = "--snapshot" ]; then
  shift
  rm -rf "$SNAP"; mkdir -p "$SNAP"
  cp -r /root/repo/target/scala-2.13/classes/. "$SNAP/"
fi
MAIN=$1; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SCALA_LIB=$(ls /root/.cache/coursier/v1/https/*/org/scala-lang/scala-library/2.13.17/scala-library-2.13.17.jar 2>/dev/null | head -1 || true)
CP="$SNAP:/opt/spark/jars/*"
[ -n "$SCALA_LIB" ] && CP="$CP:$SCALA_LIB"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$MAIN" "$@"
