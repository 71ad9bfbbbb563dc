package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** STREAMING MinHash+LSH near-duplicate detection on the
  * [[CandidateJoin]] skeleton — the modality that bounds set-level
  * JACCARD resemblance (Broder '97): token-reordered or lightly edited
  * reposts agree on an LSH band long after SimHash's bit budget blurs.
  * The batch's band rows are the SAME band keys as the oracle-checked
  * [[Dedup.minhashCandidatePairs]] (shingle → k min-hashes → `bands` md5
  * band keys), so the streamed candidates equal the batch operator's.
  *
  * The store holds `(doc_id, band_id, band_key)` rows, `band_part`-
  * partitioned by a hash of the band key (`bandParts` directories) and
  * read pruned to the batch's own parts. The format marker stamps
  * `(k, bands, n, parts)`: probing a store of any other geometry would
  * silently never match. Everything that moves is (long, int, 32-char
  * key) rows — `bands` per document, independent of document size. */
object MinHashDupStream {

  /** The band stores' default partition count, shared by
    * [[JaccardDupStream]] and [[IngestGuard.NearDup]]. */
  private[streaming] val DefaultBandParts = 64

  private def formatTag(k: Int, bands: Int, n: Int, parts: Int): String =
    s"minhash-lsh/v2/k=$k/bands=$bands/n=$n/parts=$parts"

  /** Start the detector: emits `(doc_a, doc_b, band_id, __batch_id)`
    * candidate rows to `matchesDir` and maintains the band store at
    * `stateDir`. `docs` must be a streaming DataFrame with
    * (doc_id: long, text: string). `bandParts` pins the store's
    * partition count at creation (format-marked: a store with another
    * count, no marker or a pre-v2 marker fails fast): a full-history
    * deployment (`retainBatches = 0`) never prunes, so size the slices
    * for the corpus ceiling. */
  def start(docs: DataFrame, stateDir: String, matchesDir: String,
            checkpoint: String, k: Int = 16, bands: Int = 4, n: Int = 3,
            retainBatches: Int = 0, pruneEvery: Int = 0,
            bandParts: Int = DefaultBandParts): StreamingQuery = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    require(bandParts > 0, "bandParts must be positive")
    val store = new Streams.SideStore(stateDir, "band_part",
      formatTag(k, bands, n, bandParts), "MinHashDupStream",
      retainBatches, pruneEvery)
    CandidateJoin.start(docs, checkpoint, store, matchesDir,
        Seq("doc_id", "band_id", "band_key"))(
      batch => Dedup.bandSigRows(batch, k, bands, n)
        .select(col("doc_id"), col("band_id"), col("band_key"))
        .withColumn("band_part",
          pmod(xxhash64(col("band_key")), lit(bandParts)).cast("int")),
      CandidateJoin.symmetric(Seq("band_id", "band_key"), "doc_id",
        "doc_a", "doc_b")((l, _) => col(s"$l.band_id")))
  }

  /** All candidate pairs emitted so far, deduplicated (idempotent-append
    * contract: batch retries re-emit their rows). Same shape as
    * [[Dedup.minhashCandidatePairs]]. */
  def matches(spark: org.apache.spark.sql.SparkSession,
              matchesDir: String): DataFrame =
    spark.read.parquet(matchesDir).select("doc_a", "doc_b").distinct()
}
