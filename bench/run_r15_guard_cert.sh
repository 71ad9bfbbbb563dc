#!/bin/bash
# Round-15 composed-guard certification (verdict task #3): the guard with
# EVERY decision stage composed — near-dup with the minEst signature-
# agreement gate, plus the per-group admission quota (Views.maxPerGroup)
# — over the 10x replica corpus (/tmp/scale10_docs/documents.parquet,
# 50k docs / 20 sources; regenerated from sf0.1 if absent).
#
# Expected-answer-first protocol: the sequential batch-operator oracle's
# per-reason counts (incl. quota) are printed BEFORE the stream runs; the
# stream run then re-derives the oracle and asserts SET equality of the
# accepted corpus and of every reject reason.
set -x
cd /root/repo

if [ ! -d /tmp/scale10_docs/documents.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale10_docs 10 documents" 2>&1 | tail -2
fi

# expected counts up front (independent sequential batch oracle);
# quotaCap=500 (saturates all 20 sources), minEst=0.5
sbt -batch "runMain graft.tools.Cert guard-expected /tmp/scale10_docs/documents.parquet 500 0.5" 2>&1 | grep "GUARDCERT_EXPECTED"

# the composed stream + exact cross-check of all four sets
sbt -batch "runMain graft.tools.Cert guard /tmp/scale10_docs/documents.parquet 500 0.5" 2>&1 | grep "GUARDCERT "

# the restart-repair measurement (compacted band store, repair read vs
# the intent-marker skip) was NdRepairBench, since retired: its numbers
# are in COVERAGE.md's "append intent marker" row and HardeningSpec pins
# the behaviour it measured
