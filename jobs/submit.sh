#!/usr/bin/env bash
# spark-submit packaging for a real cluster (north_rule: run via
# spark-submit --py-files at N and 4N executors).
#
#   ./jobs/submit.sh <master> <n_convs> <workdir> [extra spark-submit args]
#
# Local equivalent (compare turns_per_sec across the two levels):
#   SPARK_GRAFT_CPUS=8  SPARK_GRAFT_CONVS=300000 python bench.py
#   SPARK_GRAFT_CPUS=32 SPARK_GRAFT_CONVS=300000 python bench.py
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${1:?master url (e.g. yarn, spark://..., local[32])}"
N_CONVS="${2:-100000}"
WORKDIR="${3:-/tmp/kglinker_run}"
shift 3 || true

ZIP="$(mktemp -d)/kglinker.zip"
(cd "$REPO" && zip -qr "$ZIP" kglinker)

exec spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  "$@" \
  "$REPO/kglinker/jobs/pipeline.py" "$N_CONVS" "$WORKDIR"
