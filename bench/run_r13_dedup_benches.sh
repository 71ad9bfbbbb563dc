#!/bin/bash
# Round-13 dedup-stream certification sweep (verdict tasks #4 and #7).
#
# Task 4: MinHashDupStream + JaccardDupStream at the 100x replica
# (/tmp/scale100_docs/documents.parquet — the EditDist r12 corpus:
# 500k docs, 100 part files). Expected-count-first protocol: the batch
# operator's answer is printed by tools.Count BEFORE the streams run,
# then each full-history stream run re-checks it via check=1.
#
# Task 7: one post-__lineage-stamp datapoint each for the neardup /
# embed / substr modalities at the 10x replica on final HEAD.
set -x
cd /root/repo

# expected counts up front (batch operators over the same corpora)
sbt -batch "runMain graft.tools.Count q_minhash_pairs,q_minhash_jaccard_est /tmp/scale100_docs" 2>&1 | grep "COUNT"

# MinHash 100x: full history + batch cross-check, then retention
sbt -batch "runMain graft.tools.Cert dup-minhash /tmp/scale100_docs/documents.parquet 0 0 5 1" 2>&1 | grep "DUPSTREAMBENCH"
sbt -batch "runMain graft.tools.Cert dup-minhash /tmp/scale100_docs/documents.parquet 4 2 5 0" 2>&1 | grep "DUPSTREAMBENCH"

# Jaccard 100x: full history + cross-check, then retention
sbt -batch "runMain graft.tools.Cert dup-jaccard /tmp/scale100_docs/documents.parquet 0 0 5 1" 2>&1 | grep "DUPSTREAMBENCH"
sbt -batch "runMain graft.tools.Cert dup-jaccard /tmp/scale100_docs/documents.parquet 4 2 5 0" 2>&1 | grep "DUPSTREAMBENCH"

# Task 7: post-lineage-stamp datapoints on final HEAD, 10x replicas
# (full-history config — the stores' shipped format now includes the
# constant __lineage column; EditDist already re-ran in r12)
sbt -batch "runMain graft.tools.Cert dup-neardup /tmp/scale10_docs/documents.parquet 0 0 5" 2>&1 | grep "DUPSTREAMBENCH"
sbt -batch "runMain graft.tools.Cert dup-substr /tmp/scale10_docs/documents.parquet 0 0 5" 2>&1 | grep "DUPSTREAMBENCH"
sbt -batch "runMain graft.tools.Cert dup-embed /tmp/scale10_emb/embeddings.parquet 0 0 1" 2>&1 | grep "DUPSTREAMBENCH"
