#!/bin/bash
# Run a graft main (graft.Verify / graft.Bench / graft.tools.ScaleProbe)
# outside sbt.
#   scripts/run_main.sh [-cp CLASSDIR] graft.Verify <args...>
# CLASSDIR defaults to target/scala-2.13/classes; pass a snapshot dir
# to keep a long job immune to concurrent recompiles. The resources
# dir is REQUIRED on the classpath: the DSv2/streaming formats
# (graft-sharded, graft-sharded-cdc) resolve via META-INF/services.
set -euo pipefail
CLS="target/scala-2.13/classes"
RES="src/main/resources"
if [ "${1:-}" = "-cp" ]; then CLS="$2"; shift 2; fi
exec java -cp "$CLS:$RES:/opt/spark/jars/*" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx48g -XX:+UseG1GC \
  "$@"
