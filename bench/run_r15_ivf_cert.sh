#!/bin/bash
# Round-15 streaming IVF index certification: expected-answer-first over
# the 100x embeddings replica (/tmp/scale100_docs/embeddings.parquet,
# 200k vectors; regenerated from sf0.1 if absent).
#
# The oracle derives the centroids deterministically from the staged
# slice-0 file (the same single-split training the stream's first
# microbatch runs) and prints the batch-operator result-set hash BEFORE
# any stream runs; the stream run ingests one slice per microbatch,
# queries the maintained store, and must reproduce the hash exactly.
set -x
cd /root/repo

if [ ! -d /tmp/scale100_docs/embeddings.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale100_docs 100 embeddings" 2>&1 | tail -2
fi

sbt -batch "runMain graft.tools.Cert ivf-expected /tmp/scale100_docs/embeddings.parquet" 2>&1 | grep "IVFINDEX_EXPECTED"
sbt -batch "runMain graft.tools.Cert ivf /tmp/scale100_docs/embeddings.parquet" 2>&1 | grep "IVFINDEX "
