package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** STREAMING Jaccard-ESTIMATED near-duplicate detection on the
  * [[CandidateJoin]] skeleton: where [[MinHashDupStream]] emits raw LSH
  * band collisions, this stream scores every candidate with the MinHash
  * signature-agreement estimate (E[est] = J, σ = √(J(1−J)/k), Broder '97)
  * and emits `(doc_a, doc_b, est_jaccard)` at or above `minEst` — the
  * streaming twin of the oracle-checked [[Dedup.minhashJaccardEstimate]]
  * (`q_minhash_jaccard_est`).
  *
  * One signature pass per batch ([[Dedup.bandSigRows]]); the signature
  * rides each band row, so the estimate is computed inside the band join
  * (codegen'd `zip_with`/`aggregate`) with no second join back to a
  * signature table. The store holds those band+signature rows,
  * `band_part`-partitioned like [[MinHashDupStream]]'s, under a
  * `(k, bands, n, parts)` marker. Estimates are pure functions of the two
  * texts, so replayed match rows are bit-identical. */
object JaccardDupStream {

  private def formatTag(k: Int, bands: Int, n: Int, parts: Int): String =
    s"minhash-jaccard/v2/k=$k/bands=$bands/n=$n/parts=$parts"

  /** Start the detector: emits `(doc_a, doc_b, est_jaccard, __batch_id)`
    * rows (estimate ≥ `minEst`) to `matchesDir` and maintains the
    * band+signature store at `stateDir`. `docs` must be a streaming
    * DataFrame with (doc_id: long, text: string). `minEst = 0.0` emits
    * every scored candidate — the exact streaming twin of
    * [[Dedup.minhashJaccardEstimate]]. */
  def start(docs: DataFrame, stateDir: String, matchesDir: String,
            checkpoint: String, k: Int = 16, bands: Int = 4, n: Int = 3,
            minEst: Double = 0.0,
            retainBatches: Int = 0, pruneEvery: Int = 0,
            bandParts: Int = MinHashDupStream.DefaultBandParts)
      : StreamingQuery = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    require(minEst >= 0.0 && minEst <= 1.0, "minEst must be in [0, 1]")
    require(bandParts > 0, "bandParts must be positive")
    val store = new Streams.SideStore(stateDir, "band_part",
      formatTag(k, bands, n, bandParts), "JaccardDupStream",
      retainBatches, pruneEvery)
    CandidateJoin.start(docs, checkpoint, store, matchesDir,
        Seq("doc_id", "band_id"), keep = col("est_jaccard") >= lit(minEst))(
      batch => Dedup.bandSigRows(batch, k, bands, n)
        .withColumn("band_part",
          pmod(xxhash64(col("band_key")), lit(bandParts)).cast("int")),
      // zip_with is positionally symmetric, so the estimate does not
      // depend on which side is the newer doc
      CandidateJoin.symmetric(Seq("band_id", "band_key"), "doc_id",
        "doc_a", "doc_b")((l, r) =>
        Dedup.sigAgreement(k, s"$l.sig", s"$r.sig").as("est_jaccard")))
  }

  /** All scored pairs emitted so far, deduplicated (idempotent-append
    * contract). Same shape as [[Dedup.minhashJaccardEstimate]]. */
  def matches(spark: org.apache.spark.sql.SparkSession,
              matchesDir: String): DataFrame =
    spark.read.parquet(matchesDir)
      .select("doc_a", "doc_b", "est_jaccard").distinct()
}
