#!/bin/bash
# Round-16 composed-guard certification at 100x (r15 verdict task #5):
# the guard with EVERY decision stage — near-dup with the minEst
# signature-agreement gate plus the per-group admission quota — over the
# 100x replica corpus (/tmp/scale100_docs/documents.parquet, 500k docs /
# 20 sources; regenerated from sf0.1 if absent). The r15 run certified
# this composition at 10x; the r14 100x run predates the quota/minEst
# oracle.
#
# Expected-answer-first protocol: the sequential batch-operator oracle's
# per-reason counts (incl. quota) are printed BEFORE the stream runs;
# the stream run then re-derives the oracle and asserts SET equality of
# the accepted corpus and of every reject reason. quotaCap=5000 (25k
# docs/source -> every source saturates), minEst=0.5.
set -x
cd /root/repo

if [ ! -d /tmp/scale100_docs/documents.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale100_docs 100 documents" 2>&1 | tail -2
fi

sbt -batch "runMain graft.tools.Cert guard-expected /tmp/scale100_docs/documents.parquet 5000 0.5" 2>&1 | grep "GUARDCERT_EXPECTED"
sbt -batch "runMain graft.tools.Cert guard /tmp/scale100_docs/documents.parquet 5000 0.5" 2>&1 | grep "GUARDCERT "
