#!/bin/bash
# Fast runner for graft mains without sbt startup overhead.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.001 /tmp/verify_out
# Regenerate /tmp/cp.txt after build.sbt changes:
#   sbt -batch "export Runtime/fullClasspath" | grep -E '^/' | tail -1 > /tmp/cp.txt
set -e
CP=$(cat /tmp/cp.txt)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra -D flags (e.g. -Dspark.graft.loops.cut=reliable)
exec java $ADD_OPENS $GRAFT_JAVA_OPTS -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
