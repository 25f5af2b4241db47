#!/bin/bash
# Idle-machine probe runner: java from a classes snapshot (no sbt lock),
# with Spark's standard JPMS --add-opens flags (sbt adds these when
# forking; bare java without them breaks Kryo → MLlib Word2Vec etc).
# Usage: tools/probe.sh <mainClass> [args...]
#   e.g. tools/probe.sh graft.Inspect q19_covis_pairs time
#        tools/probe.sh graft.Probe scale-docs 100   (no mode: list the modes)
# Expects /tmp/graft-classes (cp -r target/scala-2.13/classes /tmp/graft-classes).
exec java -XX:+IgnoreUnrecognizedVMOptions \
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
  --enable-native-access=ALL-UNNAMED \
  -cp "/tmp/graft-classes:/opt/spark/jars/*" "$@"
