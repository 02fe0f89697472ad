#!/bin/bash
# Run graft.Verify without sbt JVM spin-up overhead.
# Usage: tools/run_verify.sh [sfDir] [outDir] [mainClass]
set -e
# classes of the checkout this script lives in, so a second checkout
# (e.g. a parent-commit copy for an A/B run) runs its own build
REPO=$(cd "$(dirname "$0")/.." && pwd)
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
MAIN=${3:-graft.Verify}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$SF" "$OUT" ${4:+"$4"}
