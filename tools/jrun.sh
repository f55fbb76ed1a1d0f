#!/usr/bin/env bash
# Run a graft main directly against compiled classes (skips sbt startup).
# Usage: tools/jrun.sh <MainClass> [args...]   (env vars pass through)
# e.g. SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_ONLY=q_topk \
#        SPARK_GRAFT_RUNS=3 tools/jrun.sh graft.Bench
#      tools/jrun.sh graft.Probe "$SF" jobs q_pagerank --replicate 3   (README: Dev probes)
set -euo pipefail
cd "$(dirname "$0")/.."
# temp files (the storage keys' stores among them) go under target/tmp, as
# in build.sbt's forked JVMs
mkdir -p target/tmp
exec java -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  -Djava.io.tmpdir="$PWD/target/tmp" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  --add-opens=java.security.jgss/sun.security.krb5=ALL-UNNAMED \
  "$@"
