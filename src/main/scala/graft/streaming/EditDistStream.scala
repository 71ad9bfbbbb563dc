package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** STREAMING edit-distance near-duplicate detection on the
  * [[CandidateJoin]] skeleton: arriving documents are matched by bounded
  * Levenshtein distance on their fixed-length prefix, within the batch
  * and against everything ingested so far, with the SAME PassJoin
  * pigeonhole partitioning as the batch operator
  * ([[Dedup.editDistancePairs]]) — OCR noise or version-stamped
  * boilerplate caught when the document lands.
  *
  * Its probe rows and stored rows differ, so it brings its own pairing:
  * within the batch, the batch operator itself; across batches, the
  * batch's probe substrings ([[Dedup.passjoinProbe]]) equi-join the
  * segment store `(seg_part, i, sub, doc_id, s)` — partitioned by a
  * 64-way hash of the segment text and pruned to the probes' own parts —
  * then exact `levenshtein` runs on the distinct candidates only, with
  * prefixes read from the store rows, so the corpus is never re-read.
  * The format marker stamps `(k, prefixLen)`: segment boundaries depend
  * on both. */
object EditDistStream {

  private val SegParts = 64

  private def formatTag(k: Int, prefixLen: Int): String =
    s"editdist-passjoin/k=$k/prefix=$prefixLen"

  /** Start the detector: emits `(doc_a, doc_b, dist, __batch_id)` rows to
    * `matchesDir` and maintains the segment store at `stateDir`. `docs`
    * must be a streaming DataFrame with (doc_id: long, text: string). */
  def start(docs: DataFrame, stateDir: String, matchesDir: String,
            checkpoint: String, k: Int = 2, prefixLen: Int = 40,
            retainBatches: Int = 0, pruneEvery: Int = 0): StreamingQuery = {
    val store = new Streams.SideStore(stateDir, "seg_part",
      formatTag(k, prefixLen), "EditDistStream", retainBatches, pruneEvery)
    def segPart(rows: DataFrame) = rows.withColumn("seg_part",
      pmod(xxhash64(col("sub")), lit(SegParts)).cast("int"))
    def probe(keys: DataFrame) =
      segPart(Dedup.passjoinProbe(keys, k, prefixLen))
    CandidateJoin.start(docs, checkpoint, store, matchesDir,
        Seq("doc_id", "i"))(
      Dedup.prefixKeys(_, prefixLen),
      CandidateJoin.Pairing(
        intra = keys => Dedup.editDistancePairs(
          keys.select(col("doc_id"), col("s").as("text")), k, prefixLen),
        cross = (keys, stored) => probe(keys).alias("n")
          .join(stored.alias("p"),
            col("n.i") === col("p.i") && col("n.sub") === col("p.sub") &&
              col("n.doc_id") =!= col("p.doc_id"))
          .select(col("n.doc_id").as("new_id"),
            col("p.doc_id").as("old_id"), col("p.s").as("s_old"))
          .distinct()
          .join(keys.select(col("doc_id").as("new_id"), col("s").as("s_new")),
            "new_id")
          .withColumn("dist", levenshtein(col("s_new"), col("s_old")))
          .filter(col("dist") <= k)
          .select(least(col("new_id"), col("old_id")).as("doc_a"),
            greatest(col("new_id"), col("old_id")).as("doc_b"), col("dist")),
        probe = probe,
        stored = keys => segPart(Dedup.passjoinIndex(keys, k, prefixLen)
          .join(keys.select(col("doc_id"), col("s")), "doc_id"))))
  }

  /** All matches emitted so far, deduplicated (idempotent-append
    * contract: batch retries re-emit their rows). */
  def matches(spark: org.apache.spark.sql.SparkSession,
              matchesDir: String): DataFrame =
    spark.read.parquet(matchesDir)
      .select("doc_a", "doc_b", "dist").distinct()
}
