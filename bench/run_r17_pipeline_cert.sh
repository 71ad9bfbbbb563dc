#!/bin/bash
# Round-17 composed curation-topology certification (r16 verdict Next
# #5): the ingest guard (full lattice — quality, exact-dup, minEst-gated
# near-dup, per-source quota) and the streaming IVF index CHAINED IN ONE
# PROCESS — guard-accepted docs' (synthetic, hash-derived) embeddings
# feed IvfIndexStream through the accepted ledger as a second persistent
# query, the reference's EP2 chained-CSAS shape applied to the LLM
# brief. Over the 10x replica corpus (/tmp/scale10_docs/documents
# .parquet, 50k docs / 20 sources; regenerated from sf0.1 if absent),
# quotaCap=500, minEst=0.5 — the r15 composed-guard configuration.
#
# Expected-answer-first: the guard half of the oracle is
# Cert's guard oracle (the SAME oracle, never a second derivation);
# the index half trains centroids by the stream's own birth rule over
# the oracle's accepted-slice-0 and prints the annIvfWith hash over the
# full accepted corpus BEFORE any stream runs. The run gates on all
# four guard sets exact, the index holding EXACTLY the accepted ids
# exactly once, and queryMany reproducing the batch operator
# hash-exactly. The crash mode kills BOTH queries in the window where
# the guard committed a slice the index never saw — the seam no
# per-component cert covers — restarts under the same checkpoints, and
# every gate must still hold.
set -x
cd /root/repo

if [ ! -d /tmp/scale10_docs/documents.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale10_docs 10 documents" 2>&1 | tail -2
fi

sbt -batch "runMain graft.tools.Cert guard-ivf-expected /tmp/scale10_docs/documents.parquet 500 0.5" 2>&1 | grep "GUARDIVF_EXPECTED"
sbt -batch "runMain graft.tools.Cert guard-ivf /tmp/scale10_docs/documents.parquet 500 0.5" 2>&1 | grep "GUARDIVF "
sbt -batch "runMain graft.tools.Cert guard-ivf-crash /tmp/scale10_docs/documents.parquet 500 0.5" 2>&1 | grep "GUARDIVF "
