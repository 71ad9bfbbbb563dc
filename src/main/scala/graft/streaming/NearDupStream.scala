package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** STREAMING SimHash near-duplicate detection on the [[CandidateJoin]]
  * skeleton: each arriving document is checked against every document
  * seen so far, with the SAME signature and pigeonhole bands as the
  * oracle-checked [[Dedup.simhashNearDups]] (4 bands per doc), and
  * `(doc_a, doc_b, hamming)` rows within `maxHamming` are emitted.
  *
  * The store holds `(doc_id, simhash, band_id, band_byte)` rows,
  * `band_part`-partitioned (≤256 directories: band_byte itself in the
  * 8-bit form, its high byte in the 16-bit `wide` form), and the
  * cross-batch read is pruned to the batch's own `band_part` values.
  * The store's `<stateDir>.__format` marker names the signature width;
  * a directory with no marker, or one written for the other width,
  * fails fast. Batch ids are checkpoint-scoped: adopting a store under
  * a FRESH checkpoint keeps its history, but a retention rewrite then
  * ages the adopted rows by their old ids. */
object NearDupStream {

  /** Names the signature/band layout, so a restart with a mismatched
    * `wide` flag fails fast instead of joining incompatible band keys. */
  private def formatTag(wide: Boolean): String =
    if (wide) "simhash64/band16" else "simhash32/band8"

  private def bandPart(wide: Boolean) =
    if (wide) shiftright(col("band_byte"), 8) else col("band_byte")

  /** Start the detector: emits (doc_a, doc_b, hamming) rows to
    * `matchesDir` (parquet, append) and maintains the signature store at
    * `stateDir`. `docs` must be a streaming DataFrame with
    * (doc_id: long, text: string). `retainBatches` bounds the dedup
    * horizon (0 = unbounded); `pruneEvery` sets how often the retention
    * rewrite runs (default: every `retainBatches` batches). `wide = true`
    * switches to the 64-bit / 16-bit-band signature
    * ([[Dedup.simhashWideNearDups]]'s scale path); the store then
    * partitions on the band key's high byte. */
  def start(docs: DataFrame, stateDir: String, matchesDir: String,
            checkpoint: String, maxHamming: Int = 3,
            retainBatches: Int = 0, pruneEvery: Int = 0,
            wide: Boolean = false): StreamingQuery = {
    val store = new Streams.SideStore(stateDir, "band_part",
      formatTag(wide), "NearDupStream", retainBatches, pruneEvery)
    CandidateJoin.start(docs, checkpoint, store, matchesDir,
        Seq("doc_id", "band_id"), keep = col("hamming") <= maxHamming)(
      batch => (if (wide) Dedup.simhashBandsN(Dedup.simhashWide(batch), 16)
          else Dedup.simhashBands(Dedup.simhash(batch)))
        .withColumn("band_part", bandPart(wide)),
      CandidateJoin.symmetric(Seq("band_id", "band_byte"), "doc_id",
        "doc_a", "doc_b")((l, r) =>
        bit_count(col(s"$l.simhash").bitwiseXOR(col(s"$r.simhash")))
          .as("hamming")))
  }

  /** All matches emitted so far, deduplicated (idempotent-append
    * contract: batch retries re-emit their rows). */
  def matches(spark: org.apache.spark.sql.SparkSession,
              matchesDir: String): DataFrame =
    spark.read.parquet(matchesDir)
      .select("doc_a", "doc_b", "hamming").distinct()
}
