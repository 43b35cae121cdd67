#!/bin/bash
# Run a graft main (Verify/Bench/Probe) against the compiled classes without
# holding the sbt lock, with the same JVM flags as build.sbt's forked run.
# Usage: tools/run.sh graft.Verify [args...], e.g.
#   tools/run.sh graft.Probe <sf_dir> time q1_agg 3
#   tools/run.sh graft.Verify <sf_dir> <out_dir> _stream_
# (Verify's optional 3rd arg is comma-separated entry-name substrings;
# `_stream_` reruns exactly the 12 streaming gates.)
# Runs the classes of the checkout the script sits in (build them first with
# `sbt compile`), so each checkout's copy runs its own code.
# Env: SPARK_DRIVER_MEM (default below), SPARK_GRAFT_CPUS (cores; read by
# Verify, Bench and Probe), SPARK_HOME (the Spark distribution whose jars
# to use; else the one spark-submit belongs to).
MAIN=$1; shift
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
JARS="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}/jars"
ADDOPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens $p=ALL-UNNAMED"
done
# RAM-aware default heap (mirrors build.sbt): 40% of physical, capped at
# 48g, floored at 4g — a hardcoded 48g would swap/OOM a smaller machine.
if [ -z "$SPARK_DRIVER_MEM" ]; then
  PHYS_MB=$(awk '/MemTotal/ {print int($2/1024)}' /proc/meminfo 2>/dev/null || echo 16384)
  HEAP_MB=$(( PHYS_MB * 2 / 5 ))
  [ "$HEAP_MB" -gt 49152 ] && HEAP_MB=49152
  [ "$HEAP_MB" -lt 4096 ] && HEAP_MB=4096
  SPARK_DRIVER_MEM="${HEAP_MB}m"
fi
exec java $ADDOPENS \
  -Xmx${SPARK_DRIVER_MEM} -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:$JARS/*" \
  "$MAIN" "$@"
