#!/bin/sh
# Build pp-engine.jar from every parquet_playground_spark/java/*.java
# against the parquet/hadoop jars bundled with pyspark. Output is
# committed so the engine works without a JDK; re-run after editing or
# adding a .java source (tests/test_session.py checks the jar against
# the sources).
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
JAVA_DIR="$REPO/parquet_playground_spark/java"
PYJARS=$(python3 -c "import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), 'jars'))")
CP="$PYJARS/parquet-hadoop-1.16.0.jar:$PYJARS/parquet-common-1.16.0.jar:$PYJARS/parquet-format-structures-1.16.0.jar:$PYJARS/hadoop-client-api-3.4.2.jar"
BUILD=$(mktemp -d)
trap 'rm -rf "$BUILD"' EXIT
javac --release 17 -cp "$CP" -d "$BUILD" "$JAVA_DIR"/*.java
jar cf "$JAVA_DIR/pp-engine.jar" -C "$BUILD" .
echo "built $JAVA_DIR/pp-engine.jar"
