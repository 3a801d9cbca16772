#!/usr/bin/env bash
# Cluster launch pattern (north rule: spark-submit --py-files on a
# multi-executor cluster). Locally this runs the same job on local[N].
#
#   ./scripts/spark_submit_classify.sh MASTER SF_DIR
#
# An empty MASTER ("") runs on local[SPARK_GRAFT_CPUS or nproc].
# On a real cluster: substitute --master spark://... or yarn and set
# --num-executors for the N / 4N scaling comparison. The job's Spark
# SQL settings come from session.get_spark inside classify_job.py.
set -euo pipefail
MASTER="${1:-local[${SPARK_GRAFT_CPUS:-$(nproc)}]}"
SF_DIR="${2:?usage: spark_submit_classify.sh MASTER SF_DIR}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"

ZIP="$(mktemp -d)/python_fmask_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" python_fmask_spark -i '*.py')

# spark-submit starts the driver JVM before Python runs, so get_spark
# cannot choose its JIT and collector; pass session.py's one-shot
# options here (less the collector flag if the caller names one)
JAVA_OPTS="$(cd "$REPO" && "${PYSPARK_PYTHON:-python3}" -c \
  'from python_fmask_spark.session import one_shot_java_options as o; print(o())')"

spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --conf "spark.driver.defaultJavaOptions=$JAVA_OPTS" \
  "$REPO/scripts/classify_job.py" "$SF_DIR"
