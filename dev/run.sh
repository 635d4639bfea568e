#!/bin/bash
# Dev runner: invoke a graft main class without sbt startup overhead.
# Usage: dev/run.sh graft.Verify /root/testdata/sf0.01 /tmp/graft-verify
set -e
cd "$(dirname "$0")/.."
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
# GRAFT_XMX overrides the heap (default 8g): the sf10 scale sweeps need
# cluster-representative memory-per-core (8g/32 threads = 250MB/thread)
# GRAFT_JAVA_OPTS: extra JVM flags, e.g. -Dspark.sql.optimizer.excludedRules=graft.plans.CubePreAggregate
# for same-JVM A/B of conf-toggled engine behaviors (system properties with a
# spark. prefix land in SparkConf and are visible to spark.conf.getOption)
exec java $OPENS -Xmx${GRAFT_XMX:-8g} ${GRAFT_JAVA_OPTS:-} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
