#!/usr/bin/env bash
# End-to-end training-corpus curation, declared entirely as URIs:
# exact dedup -> quality gate -> benchmark decontamination -> epoch
# mixture -> greedy sequence packing -> parquet shards + audit trail.
#
# Usage: bash examples/corpus_curation.sh [SF_DIR] [OUT_DIR]
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.001}"
OUT="${2:-/tmp/dfio_corpus}"
rm -rf "$OUT"

python -m spark_etl_cli_spark \
  --source "docs+parquet://$SF_DIR/documents.parquet" \
  --source "bench+parquet://$SF_DIR/documents.parquet" \
  --transform "bench+bench_slice+sql://SELECT doc_id, text FROM bench WHERE doc_id % 97 = 0" \
  --transform "docs+train+sql://SELECT doc_id, text, source FROM docs WHERE doc_id % 97 <> 0" \
  --transform "train+deduped+dedup://?mode=exact" \
  --transform "deduped+clean+quality-filter://?min-tokens=5&max-punct=0.4" \
  --transform "clean+decont+decontaminate://bench_slice?n=8" \
  --transform "decont+mixed+mixture://?weights=src0:2.0,src1:0.5&default=1" \
  --transform "mixed+packed+pack://?seq-tokens=256&id-col=doc_id" \
  --sink "packed+parquet://$OUT/shards?partition-by=source" \
  --sink "packed+console://" \
  --observe

echo "--- shards written:"
find "$OUT" -name "*.parquet" | head -5
