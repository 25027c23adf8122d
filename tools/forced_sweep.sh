#!/bin/sh
# All-confs-forced correctness sweep (committed runner — previously
# assembled ad hoc each round): every scale-side fork of an
# adaptive-dispatch operator is forced ON simultaneously, against the
# SAME DuckDB oracles as the default sweep, at sf0.01. Nine forces:
#   chunked windows, zero-threshold ntile, open-vocab jaccard/
#   containment, always-incremental BPE, the fake object store (2-name
#   listing pages and 64-byte copy chunks, its only shape), the
#   wedge-broadcast-off graph path, the boilerplate shuffle anti-join
#   (broadcast budget forced to 0), the PassJoin k=1 fallback (FastSS
#   deletion-neighborhood dispatch forced OFF so the long-string path
#   keeps an oracle run), and the distributed k-means|| fit
#   (local-sample Lloyd dispatch forced OFF).
# Usage: sh tools/forced_sweep.sh [OUT.json] [sf_dir]
set -e
OUT="${1:-/dev/null}"
SF="${2:-/root/testdata/sf0.01}"
exec python tools/check_correctness.py \
  --json "$OUT" \
  --conf spark.poc.chunkedWindow.force=true \
  --conf spark.poc.ntile.minScoredBytes=0 \
  --conf spark.poc.dedup.maxVocab=0 \
  --conf spark.poc.bpe.incrementalMinVocab=0 \
  --conf spark.poc.lake.fs=fake-objectstore \
  --conf spark.poc.graph.wedgeBroadcastMaxRows=0 \
  --conf spark.poc.textclean.boilerBroadcastMaxRows=0 \
  --conf spark.poc.fuzzy.k1Strategy=passjoin \
  --conf spark.poc.sim.localFitMaxRows=0 \
  "$SF"
