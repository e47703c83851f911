#!/usr/bin/env bash
# Package the engine and run the resumable extraction job via spark-submit
# (north rule: spark-submit --py-files on a multi-executor cluster).
#
# Usage: tools/submit_job.sh <input_docs_path> <lake_root> [n_buckets] [range]
# Example (verified in-sandbox):
#   tools/submit_job.sh /tmp/lake/docs /tmp/lake 256 0:64
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
INPUT="${1:?input docs path}"; LAKE="${2:?lake root}"
BUCKETS="${3:-256}"; RANGE="${4:-0:${3:-256}}"
MASTER="${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-32}]}"

TMP="$(mktemp -d)"
trap 'rm -rf "$TMP"' EXIT
ZIP="$TMP/engine.zip"
(cd "$REPO" && zip -qr "$ZIP" ocr_documents_spark -x '*.pyc' -x '*__pycache__*')

spark-submit --master "$MASTER" --py-files "$ZIP" \
    "$REPO/ocr_documents_spark/jobs/extract.py" \
    --input "$INPUT" --lake "$LAKE" --buckets "$BUCKETS" --range "$RANGE"
