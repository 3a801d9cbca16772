#!/usr/bin/env bash
# Cluster launch pattern. Locally this runs the same job on local[N].
#
#   ./scripts/spark_submit_classify.sh MASTER SF_DIR
#
# An empty MASTER ("") runs on local[SPARK_GRAFT_CPUS or nproc].
# On a real cluster: substitute --master spark://... or yarn and set
# --num-executors for the N / 4N scaling comparison. The job's Spark
# SQL settings come from session.get_spark inside classify_job.py, which
# also ships the package to executors (ensure_package_on_executors).
set -euo pipefail
MASTER="${1:-local[${SPARK_GRAFT_CPUS:-$(nproc)}]}"
SF_DIR="${2:?usage: spark_submit_classify.sh MASTER SF_DIR}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"

# spark-submit starts the driver JVM before Python runs, so get_spark
# cannot choose its options; session.driver_launch() gives the ones
# get_spark would: the one-shot JIT and collector flags (less the
# collector if the caller names one) and, where it applies, the
# class-data archive (built on first use) with the conf dir it needs
LAUNCH="$(cd "$REPO" && "${PYSPARK_PYTHON:-python3}" -c '
import shlex
from python_fmask_spark.session import driver_launch
opts, conf = driver_launch()
print(f"JAVA_OPTS={shlex.quote(opts)}")
if conf:
    print(f"export SPARK_CONF_DIR={shlex.quote(conf)}")')"
eval "$LAUNCH"

spark-submit \
  --master "$MASTER" \
  --conf "spark.driver.defaultJavaOptions=$JAVA_OPTS" \
  "$REPO/scripts/classify_job.py" "$SF_DIR"
