#!/bin/bash
# Launch graft.run.ScalingBench under plain java (sbt's JVM would sit on the
# measurement). Usage: tools/cluster_run.sh <ScalingBench args...>
# Extra executor JVM flags via SPARK_GRAFT_EXEC_OPTS (e.g. GC logging).
cd "$(dirname "$0")/.." || exit 1
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec env SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_LOCAL_DIR=/dev/shm/spark-graft \
  java $ADD_OPENS -Xmx10g -Dspark.ui.enabled=false \
  -cp 'target/scala-2.13/classes:/opt/spark/jars/*' \
  graft.run.ScalingBench "$@"
