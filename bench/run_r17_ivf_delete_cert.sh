#!/bin/bash
# Round-17 IVF deletion certification (r16 verdict Next #1's cert-scale
# row): delete 10% of the 400k-vector corpus (the 100x embeddings
# replica doubled — /tmp/scale100_docs/embeddings.parquet, regenerated
# from sf0.1 if absent) and reproduce the survivors-oracle hash exactly
# at every stage.
#
# Expected-answer-first protocol: the oracle is Similarity.annIvfWith
# over the SURVIVING vectors (vec_id % 10 == 3 deleted) with centroids
# trained from the staged slice-0 file (bit-identical to the stream's
# birth batch), hash printed BEFORE any stream runs. The subject
# ingests all slices, issues deleteIds TWICE (replay idempotence), and
# must reproduce the hash (a) masked — tombstones only, rows physical;
# (b) purged — after compactIndex, store shrunk by exactly the deleted
# rows, tombstones kept; (c) after a resumed ingest that re-emits 1000
# deleted ids — they land (ingest never reads tombstones) but stay
# erased from queries (retirement).
set -x
cd /root/repo

if [ ! -d /tmp/scale100_docs/embeddings.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale100_docs 100 embeddings" 2>&1 | tail -2
fi

sbt -batch "runMain graft.tools.Cert ivf-delete-expected /tmp/scale100_docs/embeddings.parquet" 2>&1 | grep "IVFDELETE_EXPECTED"
sbt -batch "runMain graft.tools.Cert ivf-delete /tmp/scale100_docs/embeddings.parquet" 2>&1 | grep "IVFDELETE "
