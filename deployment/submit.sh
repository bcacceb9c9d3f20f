#!/usr/bin/env bash
# Package the engine library and submit an application to a cluster.
#   ./submit.sh yarn  examples/word_count.py hdfs:///data/sf100
#   ./submit.sh k8s   examples/word_count.py s3a://bucket/sf100
set -euo pipefail

MODE="${1:?usage: submit.sh <yarn|k8s|local> <app.py> [app args...]}"
APP="${2:?app script required}"
shift 2

REPO_DIR="$(cd "$(dirname "$0")/.." && pwd)"
ZIP="$(mktemp -d)/stream_processing_platform_spark.zip"
(cd "$REPO_DIR" && zip -qr "$ZIP" stream_processing_platform_spark)

case "$MODE" in
  yarn) MASTER="yarn"; DEPLOY=(--deploy-mode cluster) ;;
  k8s)  MASTER="${K8S_MASTER:?set K8S_MASTER=k8s://https://<apiserver>:6443}"
        DEPLOY=(--deploy-mode cluster --conf "spark.kubernetes.container.image=${SPARK_IMAGE:?set SPARK_IMAGE}") ;;
  local) MASTER="local[*]"; DEPLOY=() ;;
  *) echo "unknown mode: $MODE" >&2; exit 2 ;;
esac

exec spark-submit \
  --master "$MASTER" \
  "${DEPLOY[@]}" \
  --properties-file "$REPO_DIR/deployment/spark-defaults-template.conf" \
  --py-files "$ZIP" \
  "$REPO_DIR/$APP" "$@"
