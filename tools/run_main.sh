#!/bin/bash
# Launch a graft main OUTSIDE sbt (keeps the sbt server free for tests)
# with the full Java-17 --add-opens set Spark 4 needs on this JDK —
# without java.base/java.nio Kryo dies on spilled checkpoint blocks.
# Usage: tools/run_main.sh graft.TruthCheck <args...>
# (the measured multi-scale timings this was built for are in SCALE.md)
cd /root/repo
exec java \
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
  -Xmx100g \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
