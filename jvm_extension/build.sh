#!/bin/sh
# Build json-spark-ext.jar (the SQL parser extension and the JVM exact
# tier) against the installed pyspark's jars. Requires only a JDK
# (javac/jar): the sources are plain Java against the Spark and Scala
# APIs. This is the one build recipe: the package's first-use builder
# (datafusion_functions_json_spark/functions/jvm_tier.py) runs this
# script too. -Xlint:-path: Spark's own jar manifests name Class-Path
# entries that pyspark does not ship, which is no fault of these sources.
#
#   sh jvm_extension/build.sh [OUT_DIR]     # default: jvm_extension/build
set -e
cd "$(dirname "$0")"
SPARK_JARS="${SPARK_JARS:-$(python -c 'import pyspark, os; print(os.path.join(pyspark.__path__[0], "jars"))')}"
OUT="${1:-build}"
rm -rf "$OUT/classes"
mkdir -p "$OUT/classes"
javac -J-Xmx256m -proc:none -encoding UTF-8 -Xlint:all -Xlint:-path -Werror \
    -classpath "$SPARK_JARS/*" -d "$OUT/classes" src/jsonsparkext/*.java
jar cf "$OUT/json-spark-ext.jar" -C "$OUT/classes" jsonsparkext
echo "$OUT/json-spark-ext.jar"
