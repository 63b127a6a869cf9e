#!/bin/bash
# Plain-java launcher for graft mains (no sbt lock): run_graft.sh <mainClass> [args...]
# JVM flags mirror build.sbt's javaOptions; SPARK_DRIVER_MEM overrides -Xmx,
# whose default is half of MemTotal in GiB clamped to 2-8g (build.sbt's rule).
set -e
CLASSES=/root/repo/target/scala-2.13/classes
# Sessions defaults spark.local.dir to the RAM-backed fs (query-lifetime
# shuffle scratch; the r15 /tmp stall fix). At oracle SFs (sf1+) shuffle
# volume between GC ticks can exceed RAM, so pin scratch back to disk
# here CENTRALLY whenever the target corpus is a big SF — instead of
# relying on each caller remembering the override (ADVICE r15). Callers
# can still force either way via SPARK_GRAFT_EXTRA_CONF.
case "${SPARK_GRAFT_SF_DIR:-}" in
  *sf0.*|"") ;; # sub-decade SFs: RAM scratch is the measured win
  *) if [[ ",${SPARK_GRAFT_EXTRA_CONF:-}," != *",spark.local.dir="* ]]; then
       export SPARK_GRAFT_EXTRA_CONF="${SPARK_GRAFT_EXTRA_CONF:+$SPARK_GRAFT_EXTRA_CONF,}spark.local.dir=${SPARK_LOCAL_DIR:-/tmp}"
     fi ;;
esac
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx$MEM -XX:ReservedCodeCacheSize=512m \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
