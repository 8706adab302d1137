#!/bin/sh
# Rebuild graft-localfs.jar from src/ against the Hadoop client API jar
# that ships with the installed pyspark (JDK 17+ javac and jar on PATH).
#
#   data_mining_map_reduce_spark/jvm/build.sh [OUT_JAR]
#
# OUT_JAR defaults to the committed jar beside this script. PYTHON names
# the interpreter whose pyspark is used (default python3). javac output
# is deterministic, and the jar gets fixed entry dates and order, so a
# rebuild from unchanged source is byte-equal.
set -eu
here=$(cd "$(dirname "$0")" && pwd)
out=${1:-$here/graft-localfs.jar}
jars=$("${PYTHON:-python3}" -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')
api=$(ls "$jars"/hadoop-client-api-*.jar)
classes=$(mktemp -d)
trap 'rm -rf "$classes"' EXIT
javac --release 17 -cp "$api" -d "$classes" $(find "$here/src" -name '*.java' | sort)
rm -f "$out"
(cd "$classes" && jar --create --no-manifest --date=2000-01-01T00:00:00Z \
    --file "$out" $(find . -name '*.class' | sort))
