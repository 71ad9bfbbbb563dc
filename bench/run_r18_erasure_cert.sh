#!/bin/bash
# Round-18 END-TO-END ERASURE certification (r17 verdict Next #2): the
# one seam the r17 certs never crossed — retirement and deletion
# composed ACROSS the chained guard→index topology. Over the 10x
# replica corpus (/tmp/scale10_docs/documents.parquet, 50k docs;
# regenerated from sf0.1 if absent):
#
#   1. run the full composed pipeline (guard → accepted ledger →
#      streaming IVF index), all base gates exact;
#   2. with both streams stopped: RETIRE the 100 smallest
#      post-query-threshold accepted docs from the guard (fps + band
#      rows leave) and DELETE their vectors from the index;
#   3. restart both under their same checkpoints and re-ingest (a) the
#      first retired doc's EXACT text under a fresh id and (b) a NEAR
#      TWIN of another retired doc (fixture-checked to band-collide
#      with its base and with nothing that survives);
#   4. gate on: both re-admissions ACCEPTED and indexed exactly once
#      (guard FORGOT — fingerprint is corpus membership), every retired
#      vec_id masked even from a query AT ITS OWN embedding (index
#      NEVER forgets — id is row identity), ANN hash == batch operator
#      over the post-erasure corpus, centroids bit-unmoved, and
#      everything stable across compactIndex's physical purge.
#
# Expected-answer-first: erase-expected prints the post-erasure counts
# and the ANN hash (oracle-trained centroids) BEFORE any stream runs.
#
# Quota is deliberately OFF here: re-admission into a saturated group
# would be quota's own correct refusal, not erasure behavior — the
# quota composition is certified by run_r17_pipeline_cert.sh. minEst=0
# is the HARSHER near-dup setting for this cert (any band collision
# with a survivor would convict the twin; the fixture must be clean).
set -x
cd /root/repo

if [ ! -d /tmp/scale10_docs/documents.parquet ]; then
  sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale10_docs 10 documents" 2>&1 | tail -2
fi

sbt -batch "runMain graft.tools.Cert guard-ivf-erase-expected /tmp/scale10_docs/documents.parquet" 2>&1 | grep "GUARDIVF_ERASE_EXPECTED"
sbt -batch "runMain graft.tools.Cert guard-ivf-erase /tmp/scale10_docs/documents.parquet" 2>&1 | grep "GUARDIVF_ERASE "

# Optional 100x (500k docs, ~35 min): regenerate with
#   runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/scale100_docs 100 documents
# then run the same two targets against /tmp/scale100_docs/documents.parquet.
# Round-18 recorded run: expected hash 2cac087e6978c3c9 reproduced
# bit-exactly, all gates true, 168,388 accepted, retire 49.4 s /
# compact 2.5 s.
