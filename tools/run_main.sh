#!/bin/bash
# Run a graft main against the compiled classes directly (no sbt lock):
#   tools/run_main.sh [-Xmx…] graft.tools.ScaleCorpus args…
# Mirrors build.sbt's fork JVM options (JDK-17 add-opens + UTC + no UI).
set -euo pipefail
HEAP="${GRAFT_HEAP:-8g}"
# classes of the checkout this script lives in (works for any export);
# its resources too, which `sbt compile` alone does not copy into classes
# (the snapshot-lake DataSourceRegister service file)
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLS="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx"$HEAP" $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLS:${SPARK_HOME:-/opt/spark}/jars/*" "$@"
