#!/usr/bin/env bash
# Build the engine's JVM jar from its committed source:
#   data_pipeline_project_using_telegram_and_aws_spark/jvm/NioLocalFileSystem.java
#   -> data_pipeline_project_using_telegram_and_aws_spark/jvm/nio-local-fs.jar
# compiled for Java 17 against the installed PySpark's jars. The jar's
# manifest carries a Source-SHA256 attribute, the sha256 of the .java it
# was built from; tests/test_session.py checks that the committed jar's
# stamp matches the committed source.
#
# Usage: tools/build_jvm.sh   (needs javac and jar on PATH; rerun after
# every edit to the .java and commit the jar with it)
set -euo pipefail
cd "$(dirname "$0")/.."

JVM_DIR=data_pipeline_project_using_telegram_and_aws_spark/jvm
SRC="$JVM_DIR/NioLocalFileSystem.java"
JAR="$JVM_DIR/nio-local-fs.jar"
PYSPARK_HOME=$(python3 -c "import os, pyspark; print(os.path.dirname(pyspark.__file__))")

build=$(mktemp -d)
trap 'rm -rf "$build"' EXIT

javac --release 17 -cp "$PYSPARK_HOME/jars/*" -d "$build/classes" "$SRC"
printf 'Source-SHA256: %s\n' "$(sha256sum "$SRC" | cut -d' ' -f1)" > "$build/manifest.txt"
rm -f "$JAR"
jar --create --file "$JAR" --manifest "$build/manifest.txt" -C "$build/classes" .
echo "wrote $JAR"
