#!/bin/bash
# Fast runner: java directly against compiled classes + /opt/spark/jars,
# skipping sbt JVM startup. Usage: tools/run.sh <mainClass> [args...]
set -e
CP="/root/repo/target/scala-2.13/classes"
# A bare `sbt compile` does not copy src/main/resources into the classes
# dir; f02's DataSourceRegister service file then silently vanishes and
# the custom source fails to resolve (round-14 inherited-state failure).
# Re-copy the resources whenever any are missing — cheap (cp -r of a few
# files) and side-steps a full sbt startup.
RES="/root/repo/src/main/resources"
if [ -d "$RES" ]; then
  while IFS= read -r -d '' f; do
    rel="${f#"$RES"/}"
    if [ ! -e "$CP/$rel" ]; then
      mkdir -p "$CP/$(dirname "$rel")"
      cp "$f" "$CP/$rel"
    fi
  done < <(find "$RES" -type f -print0)
fi
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# Driver heap: SPARK_DRIVER_MEM when set, else half of MemTotal clamped to
# 2-8 GiB, as build.sbt and perfbench/run.py size it.
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $OPENS -Xmx"$MEM" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
