#!/bin/bash
# Round-14 composed-guard certification (verdict task #3): the guard WITH
# the at-ingest near-dup stage over the 100x replica corpus
# (/tmp/scale100_docs/documents.parquet — 500k docs, 100 part files; the
# r12/r13 certification corpus, regenerated from sf0.1 if absent).
#
# Expected-answer-first protocol: the sequential batch-operator oracle's
# per-reason counts are printed BEFORE the stream runs; the stream run
# then re-derives the oracle and asserts SET equality of the accepted
# corpus and of every reject reason, reporting throughput, the per-slice
# latency curve, and store/sidecar sizes.
set -x
cd /root/repo

if [ ! -d /tmp/scale100_docs/documents.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale100_docs 100 documents" 2>&1 | tail -2
fi

# expected counts up front (independent sequential batch oracle)
sbt -batch "runMain graft.tools.Cert guard-expected /tmp/scale100_docs/documents.parquet" 2>&1 | grep "GUARDCERT_EXPECTED"

# the composed stream + exact cross-check
sbt -batch "runMain graft.tools.Cert guard /tmp/scale100_docs/documents.parquet" 2>&1 | grep "GUARDCERT "
