#!/usr/bin/env bash
# Deployment-shape demo (BASELINE.json): package the library and run the
# pipeline through spark-submit --py-files, exactly as a multi-executor
# cluster deployment would (swap --master for yarn/k8s there).
# --py-files ships pure Python only, so every executor's Python must
# already have the `cryptography` package installed (its compiled AES is
# the one AES the package uses).
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/pdfparser_spark.zip
rm -f "$ZIP"
(cd . && zip -qr "$ZIP" pdfparser_spark -x '*__pycache__*')

exec spark-submit \
  --master "local[${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}]" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --py-files "$ZIP" \
  scripts/run_pipeline.py "$@"
