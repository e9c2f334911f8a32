#!/bin/bash
# Interleaved N/4N frontier-drain runs (direct java, no sbt startup) —
# medians beat the sandbox's minute-scale CPU-steal noise.
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
export GRAFT_BENCH_PAGES=${GRAFT_BENCH_PAGES:-100000}
export GRAFT_BENCH_HOSTS=${GRAFT_BENCH_HOSTS:-40}
export GRAFT_BENCH_ROUNDS=${GRAFT_BENCH_ROUNDS:-3}
export GRAFT_BENCH_BUDGET=${GRAFT_BENCH_BUDGET:-50000}
export GRAFT_BENCH_SEEDS_PER_HOST=${GRAFT_BENCH_SEEDS_PER_HOST:-256}
export GRAFT_BENCH_HOTFRAC=${GRAFT_BENCH_HOTFRAC:-0.4}
export GRAFT_SKIP_QUERIES=1
for i in $(seq 1 ${GRAFT_BENCH_REPS:-4}); do
  for C in $1 $2; do
    SPARK_GRAFT_CPUS=$C java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench 2>/dev/null \
      | grep '"metric"'
  done
done
