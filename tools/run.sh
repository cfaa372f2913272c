#!/bin/bash
# Dev runner: java with Spark jars + compiled classes, quiet logs.
# Classes come from the checkout this script lives in, not a fixed path.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS=$ROOT/target/scala-2.13/classes
TESTCLS=$ROOT/target/scala-2.13/test-classes
ADDOPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADDOPENS -Xmx${GRAFT_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dlog4j2.level=error \
  -cp "$CLS:$TESTCLS:/opt/spark/jars/*" "$@"
