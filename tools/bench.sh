#!/bin/bash
# Direct-java Bench/Verify launcher that replicates build.sbt's
# javaOptions (add-opens, heap pinning, code cache) so sbt stays free
# for compiles while long runs execute from a classes SNAPSHOT
# (default /tmp/graft_cls — `cp -r target/scala-2.13/classes /tmp/graft_cls`
# after compiling). Usage:
#   tools/bench.sh <mainClass> [args...]
# Env: SPARK_GRAFT_* as usual; GRAFT_CLS overrides the snapshot dir,
# SPARK_DRIVER_MEM as in build.sbt.
set -euo pipefail
CLS="${GRAFT_CLS:-/tmp/graft_cls}"
MEM="${SPARK_DRIVER_MEM:-24g}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" -Xms"$MEM" -XX:ReservedCodeCacheSize=512m \
  -cp "/opt/spark/jars/*:$CLS" "$@"
