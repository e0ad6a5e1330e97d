#!/bin/bash
# Dev harness: run graft.Verify against a testdata dir without sbt startup cost.
# Usage: tools/run_verify.sh [sfdir] [outdir] [query-prefix,query-prefix,...]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
shift $(( $# > 2 ? 2 : $# ))
# the classes of the checkout this script lives in, wherever it was copied
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
# `sbt compile` alone does not copy resources: without the services file
# Spark cannot resolve format("binlog") and every binlog gate fails
SERVICES="$CLASSES/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"
if [ ! -f "$SERVICES" ]; then
  echo "run_verify.sh: $SERVICES is missing; build with 'sbt Test/compile' or 'sbt package' (plain 'sbt compile' does not copy resources)" >&2
  exit 1
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Verify "$SF" "$OUT" "$@"
