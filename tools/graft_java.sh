#!/bin/bash
# Run a graft main class directly on the compiled classes — no sbt lock,
# no ~12 s sbt startup. Mirrors build.sbt's forked-JVM flags (JDK-17
# add-opens, UTC session TZ, SPARK_DRIVER_MEM heap). Prereq: the classes
# are current (`sbt -batch compile` once per source change); this script
# does NOT compile.
#
# Usage: tools/graft_java.sh <mainClass> [args...]
#   e.g. tools/graft_java.sh graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM,
#   SPARK_GRAFT_BENCH_DETAIL, SPARK_LOCAL_DIRS — same contract as sbt runMain.
#
# GRAFT_PRETOUCH=1 pins the heap (-Xms = -Xmx) and pre-touches it at
# startup. Use it for every big-heap (>= 12g) AUDIT invocation: this
# box's hypervisor backs guest memory lazily and serves first-touch
# page faults at 0.04-1 GiB/s (measured, round 13 — parallel faulting
# is even slower, and freed pages are returned to the host so the cost
# RECURS). Without the pin, G1 evacuation into never-touched regions
# stalls 0.7-9 s PER YOUNG PAUSE (measured: a 2 s CTAS took 89 s under
# a lazy 16g heap), silently inflating whichever query happens to grow
# the heap. With the pin the whole tax is paid once, before timing
# starts. Left off for the default 8g runs: their lazy-touch tax is
# small and bounded, and wall-clock (pipeline bench) stays lean.
set -e
# a relative SPARK_GRAFT_TMPROOT names a directory under the caller's one
if [ -n "${SPARK_GRAFT_TMPROOT:-}" ]; then
  SPARK_GRAFT_TMPROOT="$(realpath -m "$SPARK_GRAFT_TMPROOT")"
  export SPARK_GRAFT_TMPROOT
fi
cd "$(dirname "$0")/.."
MAIN="$1"; shift
PRETOUCH_FLAGS=""
if [ "${GRAFT_PRETOUCH:-0}" = "1" ]; then
  PRETOUCH_FLAGS="-Xms${SPARK_DRIVER_MEM:-8g} -XX:+AlwaysPreTouch"
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS $PRETOUCH_FLAGS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
