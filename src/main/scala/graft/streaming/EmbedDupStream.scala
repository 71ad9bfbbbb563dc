package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.{Hashing, VectorExpressions}

/** STREAMING embedding near-duplicate detection on the [[CandidateJoin]]
  * skeleton — the SemDeDup-style semantic-duplicate guard run when an
  * embedding lands: arriving vectors are LSH-bucketed with the SAME
  * codegen'd sign-plane expression as the batch operator
  * ([[graft.operators.Similarity.nearDupPairsLsh]]) and cosine-matched
  * within the batch and against everything ingested so far.
  *
  * The store holds `(vec_id, embedding, bucket)` rows, partitioned by
  * bucket (≤ 2^numPlanes directories); the cross-batch read is pruned to
  * the batch's own buckets. The format marker stamps the LSH geometry:
  * buckets from a different plane count or `dim` share an integer
  * keyspace but mean different things. */
object EmbedDupStream {

  private def formatTag(numPlanes: Int, dim: Int): String =
    s"lsh-signbucket/planes=$numPlanes/dim=$dim"

  /** Start the detector: emits `(vec_a, vec_b, score, __batch_id)` rows
    * to `matchesDir` and maintains the bucketed vector store at
    * `stateDir`. `vecs` must be a streaming DataFrame with
    * (vec_id: long, embedding: array<float>). */
  def start(vecs: DataFrame, stateDir: String, matchesDir: String,
            checkpoint: String, threshold: Double = 0.4,
            numPlanes: Int = 8, dim: Int = 64,
            retainBatches: Int = 0, pruneEvery: Int = 0): StreamingQuery = {
    val planes = Hashing.hyperplanes(numPlanes, dim)
    val store = new Streams.SideStore(stateDir, "bucket",
      formatTag(numPlanes, dim), "EmbedDupStream", retainBatches, pruneEvery)
    CandidateJoin.start(vecs, checkpoint, store, matchesDir, Seq("vec_id"),
        keep = col("score") > threshold,
        emit = Seq(col("vec_a"), col("vec_b"),
          round(col("score"), 6).as("score")))(
      batch => batch.select(col("vec_id"), col("embedding"))
        .withColumn("bucket",
          VectorExpressions.lshBucket(col("embedding"), planes)),
      CandidateJoin.symmetric(Seq("bucket"), "vec_id", "vec_a", "vec_b")(
        (l, r) => VectorExpressions.cosineSim(col(s"$l.embedding"),
          col(s"$r.embedding")).as("score")))
  }

  /** All matches emitted so far, deduplicated (idempotent-append
    * contract). */
  def matches(spark: org.apache.spark.sql.SparkSession,
              matchesDir: String): DataFrame =
    spark.read.parquet(matchesDir)
      .select("vec_a", "vec_b", "score").distinct()
}
