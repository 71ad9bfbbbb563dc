package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.functions.{CmsSketch, Hashing}

/** STREAMING heavy hitters: a continuously-maintained top-k over an
  * unbounded key stream with BOUNDED state — the streaming twin of the
  * dashboard top-k (SURVEY §2.8 D4, `q_topk_users`) for cardinalities
  * where an exact per-key count table cannot exist. Classic
  * sketch-plus-candidates design (CMS for frequencies, Cormode &
  * Muthukrishnan 2005; a slack'd candidate set for identity):
  *
  * Per microbatch (foreachBatch, serialized):
  *  1. the batch's keys aggregate into a count-min sketch with the SAME
  *     mergeable [[CmsSketch.CmsAggregator]] as the batch operator —
  *     map-side partial buffers, one d×w array (32 KB at defaults)
  *     reaches the driver;
  *  2. the running sketch merges the batch's (pure counter sums — merge
  *     order never changes the result);
  *  3. the candidate set — previous candidates ∪ the batch's own top
  *     `k·slack` keys by exact in-batch count (a bounded
  *     `TakeOrderedAndProject` collect, never the batch's full key set) —
  *     is re-estimated against the MERGED sketch and cut back to
  *     `k·slack`;
  *  4. the top `k` by estimate append to `topKDir` stamped with the batch
  *     id ([[topK]] reads the latest stamp).
  *
  * State is ONE file (`<stateDir>.__hh`): lineage, last-applied batch id,
  * sketch geometry, counters, candidate keys — written tmp-then-rename,
  * so the whole state swaps atomically. Replay safety comes from the
  * stamp, not luck: a batch that crashed after its state write replays,
  * sees `appliedBatch >= batchId` for its own lineage, SKIPS the merge
  * (the sketch already contains the batch) and just re-emits — the same
  * checkpoint-lineage discipline as [[SubstrDedupStream]]'s gram store,
  * with the lineage id persisted beside the checkpoint.
  *
  * Guarantees (the honest sketch contract): estimates never undercount
  * (true ≤ est ≤ true + ε·N, ε = e/w); any key whose true count reaches
  * the top-k threshold is reported as long as it re-surfaces in some
  * batch's top `k·slack` after crossing it — the miss window of every
  * bounded-candidate scheme; raise `slack` to shrink it. With few
  * distinct keys relative to `w` the estimates are exact and the view
  * equals the batch top-k over the whole prefix (spec'd). */
object HeavyHittersStream {

  private[graft] final case class State(lineage: String, appliedBatch: Long,
                                 d: Int, w: Int, sketch: Array[Long],
                                 candidates: Array[String])

  private[graft] def statePath(stateDir: String) =
    new org.apache.hadoop.fs.Path(stateDir + ".__hh")

  private[graft] def readState(fs: org.apache.hadoop.fs.FileSystem,
                        stateDir: String): Option[State] = {
    val p = statePath(stateDir)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
        val lineage = in.readUTF()
        val applied = in.readLong()
        val d = in.readInt(); val w = in.readInt()
        val sketch = Array.fill(d * w)(in.readLong())
        val n = in.readInt()
        val cands = Array.fill(n)(in.readUTF())
        Some(State(lineage, applied, d, w, sketch, cands))
      } finally in.close()
    }
  }

  private[graft] def writeState(fs: org.apache.hadoop.fs.FileSystem,
                         stateDir: String, s: State): Unit = {
    // An atomic replace, NOT delete-then-rename: a crash between those
    // two steps would leave no state file at all and the next batch would
    // silently reset the sketch and candidate set. The target always
    // holds either the old state or the new one.
    LocalCheckpointFileManager.replace(statePath(stateDir), fs.getConf) {
      out =>
        out.writeUTF(s.lineage); out.writeLong(s.appliedBatch)
        out.writeInt(s.d); out.writeInt(s.w)
        s.sketch.foreach(out.writeLong)
        out.writeInt(s.candidates.length)
        s.candidates.foreach(out.writeUTF)
    }
  }

  private def estimate(sk: Array[Long], d: Int, w: Int, key: String): Long = {
    val (h1, h2) = CmsSketch.fingerprints(key)
    (0 until d).map(i => sk(i * w + CmsSketch.bucket(h1, h2, i, w))).min
  }

  /** Start the view over `events`; `keyCol` is the counted key (cast to
    * string). Appends `(rank, key, est_count, __batch_id)` to `topKDir`
    * after every batch — the stamped history IS the trend ledger, but on
    * a forever-running stream it is also one small file per batch, so
    * `retainEmits > 0` periodically rewrites the ledger keeping the last
    * `retainEmits` stamps (crash-safe [[Streams.rewriteStore]] swap;
    * 0 = keep the full history). */
  def start(events: DataFrame, keyCol: String, stateDir: String,
            topKDir: String, checkpoint: String, k: Int = 10,
            slack: Int = 4, d: Int = 4, w: Int = 1024,
            retainEmits: Int = 0): StreamingQuery = {
    require(k > 0 && slack > 0, "k and slack must be positive")
    require(retainEmits >= 0, "retainEmits must be >= 0")
    val lineage = Streams.lineageId(
      events.sparkSession.sparkContext.hadoopConfiguration, checkpoint)
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val fs = statePath(stateDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a crash mid-ledger-compaction leaves the swap half-done;
        // restore before anything reads or appends
        if (retainEmits > 0) {
          val tfs = new org.apache.hadoop.fs.Path(topKDir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          Streams.recoverCompaction(tfs, topKDir)
        }
        val prior = readState(fs, stateDir)
        prior.foreach { s =>
          require(s.d == d && s.w == w, s"heavy-hitter state at $stateDir " +
            s"has geometry d=${s.d},w=${s.w}; query configured d=$d,w=$w")
        }
        val alreadyApplied = prior.exists(s =>
          s.lineage == lineage && s.appliedBatch >= batchId)
        val keys = batch.select(col(keyCol).cast("string").as("key"))
          .filter(col("key").isNotNull)
        val next = if (alreadyApplied) prior.get else {
          val batchSketch = keys
            .select(expr(Hashing.hash64("key")).as("h1"),
              expr(Hashing.hash64Hi("key")).as("h2"))
            .as[(Long, Long)]
            .select(new CmsSketch.CmsAggregator(d, w).toColumn)
            .head()
          val merged = prior.map(_.sketch.clone()).getOrElse(
            new Array[Long](d * w))
          var i = 0
          while (i < merged.length) { merged(i) += batchSketch(i); i += 1 }
          // bounded collect: the batch's own top k·slack by exact count
          val batchTop = keys.groupBy(col("key"))
            .agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc, col("key").asc).limit(k * slack)
            .collect().map(_.getString(0))
          val cands = (prior.map(_.candidates.toSeq).getOrElse(Seq.empty)
              ++ batchTop).distinct
            .map(c => (c, estimate(merged, d, w, c)))
            .sortBy { case (c, est) => (-est, c) }
            .take(k * slack)
          State(lineage, batchId, d, w, merged, cands.map(_._1).toArray)
        }
        if (!alreadyApplied) writeState(fs, stateDir, next)
        val top = next.candidates
          .map(c => (c, estimate(next.sketch, d, w, c)))
          .sortBy { case (c, est) => (-est, c) }
          .take(k).zipWithIndex
          .map { case ((key, est), r) => (r + 1, key, est, batchId) }
        spark.createDataset(top.toIndexedSeq)
          .toDF("rank", "key", "est_count", "__batch_id")
          .coalesce(1)
          .write.mode(SaveMode.Append).parquet(topKDir)
        if (retainEmits > 0 && batchId % retainEmits == (retainEmits - 1))
          Streams.rewriteStore(spark, topKDir)(
            _.filter(col("__batch_id") > batchId - retainEmits))
        ()
      }
      .start()
  }

  /** The CURRENT top-k view: the rows of the latest emitted batch
    * (idempotent-append contract — replays re-emit identical rows, and
    * the max-stamp read keeps the newest refinement). */
  def topK(spark: SparkSession, topKDir: String): DataFrame = {
    val all = spark.read.parquet(topKDir)
    all.join(broadcast(all.agg(max(col("__batch_id")).as("__batch_id"))),
        Seq("__batch_id"))
      .select("rank", "key", "est_count").distinct()
  }
}
