#!/usr/bin/env bash
# Cluster launch pattern (north rule: spark-submit --py-files on a
# multi-executor cluster). Locally this runs the same job on local[N].
#
#   ./scripts/spark_submit_classify.sh [master] [sf_dir]
#
# On a real cluster: substitute --master spark://... or yarn and set
# --num-executors for the N / 4N scaling comparison.
set -euo pipefail
MASTER="${1:-local[${SPARK_GRAFT_CPUS:-$(nproc)}]}"
SF_DIR="${2:-${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"

ZIP="$(mktemp -d)/python_fmask_spark.zip"
(cd "$REPO" && zip -qr "$ZIP" python_fmask_spark -i '*.py')

spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  "$REPO/scripts/classify_job.py" "$SF_DIR"
