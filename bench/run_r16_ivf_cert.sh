#!/bin/bash
# Round-16 IVF drift-remedy certification (r15 verdict task #1): the
# reindexInto rebuild-and-swap over the 100x embeddings replica
# (/tmp/scale100_docs/embeddings.parquet, 200k vectors -> 400k with the
# drifted half; regenerated from sf0.1 if absent).
#
# Expected-answer-first protocol: the oracle derives the post-rebuild
# centroids from the INPUT corpus alone (the shared stratified seed +
# balanced Lloyd's — layout-independent by construction) and prints the
# batch-operator result hash and centroid digest BEFORE any stream or
# rebuild runs. The subject run ingests A then drifted B one slice per
# microbatch, measures top-cell occupancy, rebuilds with reindexInto,
# and must reproduce the hash + digest exactly, restore balance, and
# resume ingesting into the swapped dir under the same checkpoint with
# nothing lost or duplicated.
set -x
cd /root/repo

if [ ! -d /tmp/scale100_docs/embeddings.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale100_docs 100 embeddings" 2>&1 | tail -2
fi

sbt -batch "runMain graft.tools.Cert ivf-reindex-expected /tmp/scale100_docs/embeddings.parquet" 2>&1 | grep "IVFREINDEX_EXPECTED"
sbt -batch "runMain graft.tools.Cert ivf-reindex /tmp/scale100_docs/embeddings.parquet" 2>&1 | grep "IVFREINDEX "
