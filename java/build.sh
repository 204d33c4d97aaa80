#!/bin/sh
# Rebuild the JVM kernel jar shipped at addressparser_spark/jars/jw-udf.jar:
# the pairwise scoring kernels (IntersectCount, TextSim) and the MinHash
# kernel (MinHash) that blocking and dedup derive from each shingle's one
# hash. The engine requires it, so it is committed for deployments without
# a JDK; rerun this after editing any .java here. The jar carries
# SOURCES.sha256, the sha256 of every .java it was built from, and
# tests/test_similarity_jvm.py fails when a source no longer matches it.
set -e
cd "$(dirname "$0")"
SPARK_JARS=$(python -c "import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), 'jars'))")
rm -rf build
mkdir -p build ../addressparser_spark/jars
javac -encoding UTF-8 -cp "$SPARK_JARS/*" -d build *.java
LC_ALL=C sha256sum *.java > build/SOURCES.sha256
jar cf ../addressparser_spark/jars/jw-udf.jar -C build .
echo "built ../addressparser_spark/jars/jw-udf.jar"
