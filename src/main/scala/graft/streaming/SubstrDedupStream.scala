package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.operators.Dedup
import graft.functions.SketchExpressions

/** STREAMING exact substring dedup: as documents arrive, each batch's
  * duplicated k-token spans — against everything ingested so far AND within
  * the batch — are emitted continuously, the ingest-time form of
  * [[Dedup.duplicateSpans]]/[[Dedup.duplicateSpansAgainst]] (Lee et al.
  * 2021's ExactSubstr). The crawl-landing guard: flag the boilerplate the
  * moment a page arrives instead of re-scanning the whole corpus nightly.
  *
  * Shape per microbatch (foreachBatch, serialized by the engine):
  *  1. positional grams via the SAME operator as the batch twin
  *     ([[Dedup.positionalGramRows]] — tokenize + md5 once, checkpointed
  *     because three consumers follow);
  *  2. within-batch duplicated positions from the batch twin's window pass
  *     ([[Dedup.flaggedPositions]], first occurrence exempt);
  *  3. cross-batch positions: arriving grams are probed IN-SCAN against a
  *     persistent Bloom sidecar of every gram seen so far (~1.2 MB per
  *     million distinct grams at 1% fpp), and only Bloom-positive grams
  *     join the store — a LEFT SEMI on two longs. The store read is pruned
  *     to the `gram_part` partitions of the surviving candidates, so when
  *     the batch's duplicate rate is low the confirm join reads a sliver
  *     of the store, not the history (the Bloom bounds wasted join work;
  *     its false positives only cost confirm reads, never correctness);
  *  4. positions union → [[Dedup.mergeSpans]] → spans appended to
  *     `spansDir` with `__batch_id` (idempotent-append contract: a batch
  *     retry re-emits the same rows; [[spans]] dedupes);
  *  5. the batch's DISTINCT gram hashes append to the store (16 bytes per
  *     new gram — positions never persist) AFTER the lookup, so a gram
  *     never matches itself; the append is clustered on `gram_part`
  *     (≤256 dirs, ≤1 file per touched dir per batch — the small-files
  *     fix NearDupStream's 500k-doc run measured);
  *  6. the Bloom sidecar merges the batch's grams (bitwise OR — every
  *     batch builds with the same (expectedGrams, fpp) so the bit arrays
  *     are compatible) and swaps crash-safely; a missing sidecar
  *     self-heals by rebuilding from the store.
  *
  * Retention: `retainBatches > 0` periodically rewrites the store keeping
  * the last `retainBatches` batches of gram rows (crash-safe
  * [[Streams.rewriteStore]] swap) — spans are then detected within that
  * horizon and the store stays O(grams-per-horizon). A Bloom cannot
  * forget, so each pruning rewrite REBUILDS the sidecar from the surviving
  * store (one scan, amortized over the horizon); between rewrites the
  * sidecar only over-approximates, which costs confirm reads, not
  * correctness. */
object SubstrDedupStream {

  private def formatTag(k: Int): String = s"substr-grams/k=$k"

  /** Start the detector: emits `(doc_id, span_start, span_tokens, n_grams,
    * __batch_id)` rows to `spansDir` (parquet, append) and maintains the
    * distinct-gram store at `stateDir` plus its Bloom sidecar. `docs` must
    * be a streaming DataFrame with (doc_id: long, text: string).
    * `expectedGrams` sizes every Bloom build — batches merge bit arrays,
    * so it must estimate the STORE's final distinct-gram count, not a
    * batch's. `retainBatches`/`pruneEvery` bound the dedup horizon exactly
    * as in [[NearDupStream.start]] (0 = keep all history). Batch ids are
    * checkpoint-scoped, so the horizon counts batches of the CURRENT
    * checkpoint lineage; adopting an existing store under a fresh
    * checkpoint keeps its history for lookups (the replay guard is
    * lineage-scoped), but a retention rewrite compares adopted rows' old
    * ids against the new lineage's — run adoption without retention, or
    * accept that the first prune ages adopted rows by id. */
  def start(docs: DataFrame, stateDir: String, spansDir: String,
            checkpoint: String, k: Int = 8,
            expectedGrams: Long = 1L << 22, fpp: Double = 0.01,
            retainBatches: Int = 0, pruneEvery: Int = 0): StreamingQuery = {
    val store = new Streams.SideStore(stateDir, "gram_part",
      formatTag(k), "SubstrDedupStream", retainBatches, pruneEvery)
    // Checkpoint-lineage id ([[Streams.lineageId]]): the replay guard
    // below must only exclude rows written by this checkpoint's own
    // lineage — a store adopted under a fresh checkpoint restarts at
    // batch 0 and would otherwise mask genuine batch-0 history.
    val lineage = Streams.lineageId(
      docs.sparkSession.sparkContext.hadoopConfiguration, checkpoint)
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val grams = Dedup.positionalGramRows(batch, k).localCheckpoint(false)
        val intra = Dedup.flaggedPositions(grams, keepFirst = true)
        val fs = store.ensureReady(spark)
        // the single-file gram sidecar ([[Streams.writeBloomSidecar]])
        val bloom = Streams.readOrRebuildBloomSidecar(spark, fs, stateDir,
          "h1", expectedGrams, fpp)
        val cross = (if (store.exists(fs)) Some(()) else None)
          .flatMap { _ =>
            val candidates = bloom match {
              case Some(b) =>
                grams.filter(
                  SketchExpressions.bloomMightContain(col("h1"), b))
              case None => grams
            }
            // bounded collect: ≤256 distinct partition values — every
            // store partition outside the candidates' own parts cannot
            // confirm, so the read touches only those slices
            val parts = candidates
              .select(pmod(col("h1"), lit(256)).cast("int").as("p"))
              .distinct().collect().map(_.getInt(0))
            if (parts.isEmpty) None
            else Some(candidates.join(
              store.prunedRead(spark, parts.toIndexedSeq)
                // replay guard: a batch that crashed AFTER its store
                // append replays with its own grams already persisted
                // under THIS (lineage, batch id) — without the exclusion
                // every position would match itself and the replay would
                // emit whole-document spans (NearDupStream's doc_id =!=
                // guard, re-expressed for a store with no doc identity).
                // Scoped to the checkpoint lineage: a store adopted under
                // a fresh checkpoint restarts at batch 0, and its OLD
                // batch-0 rows are genuine history, not a failed attempt.
                // In a clean run the store never holds the current
                // (lineage, id) at lookup time, so this is a no-op.
                .filter(!(col("__lineage") <=> lit(lineage) &&
                  col("__batch_id") === lit(batchId)))
                .select("h1", "h2"),
              Seq("h1", "h2"), "left_semi")
              .select(col("doc_id"), col("i")))
          }
        val dupPos = cross.fold(intra)(intra.unionByName(_)).distinct()
        Streams.stampBatch(Dedup.mergeSpans(dupPos, k), batchId)
          .write.mode(SaveMode.Append).parquet(spansDir)
        // grow the store AFTER the lookup so a gram never matches itself;
        // distinct hashes only — positions never persist. The shared
        // crash-replay guard (round-12): a replayed batch's grams are
        // already excluded from LOOKUPS by the lineage filter above, but
        // an unconditional re-append still duplicated them in the store —
        // appendBatchOnce skips a completed append (sidecar) or appends
        // exactly a partial commit's missing remainder (anti-join)
        store.appendBatchOnce(spark,
          grams.select(col("h1"), col("h2")).distinct()
            .withColumn("gram_part", pmod(col("h1"), lit(256)).cast("int"))
            .withColumn("__lineage", lit(lineage)),
          lineage, batchId, Seq("h1", "h2"))
        // a batch can gram NOTHING (no doc reaches k tokens) — nothing to
        // add, the existing sidecar stays as-is
        Streams.bloomOfNonEmpty(grams, "h1", expectedGrams, fpp)
          .foreach { batchBloom =>
            Streams.writeBloomSidecar(fs, stateDir, bloom match {
              case Some(prev) =>
                // a restart with a different expectedGrams/fpp leaves a
                // sidecar whose bit array no longer matches the batch
                // builds; rebuild from the store (append already ran, so
                // the rebuild covers this batch) instead of failing the
                // stream
                try prev.mergeInPlace(batchBloom)
                catch {
                  case _: org.apache.spark.util.sketch.IncompatibleMergeException =>
                    spark.read.parquet(stateDir)
                      .stat.bloomFilter("h1", expectedGrams, fpp)
                }
              case None => batchBloom
            })
          }
        if (store.pruneIfDue(spark, batchId)) {
          // a Bloom cannot forget: rebuild from the pruned store. A
          // rewrite that keeps NOTHING deletes the dir outright — then
          // drop the stale sidecar too (absent store = fresh store; a
          // leftover sidecar would cost confirm reads forever)
          if (store.exists(fs))
            Streams.bloomOfNonEmpty(spark.read.parquet(stateDir), "h1",
                expectedGrams, fpp)
              .foreach(Streams.writeBloomSidecar(fs, stateDir, _))
          else {
            fs.delete(new org.apache.hadoop.fs.Path(stateDir + ".__bloom"),
              false)
            ()
          }
        }
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(grams)
          .foreach(_.unpersist(false))
        ()
      }
      .start()
  }

  /** All spans emitted so far, deduplicated (idempotent-append contract:
    * batch retries re-emit their rows). */
  def spans(spark: SparkSession, spansDir: String): DataFrame =
    spark.read.parquet(spansDir)
      .select("doc_id", "span_start", "span_tokens", "n_grams").distinct()

  /** Span-trimmed view of a document corpus against the accumulated
    * ledger — the streaming consumer's [[Dedup.trimDuplicateSpans]]:
    * every token the stream has flagged is removed, first occurrences
    * (never flagged) survive verbatim. */
  def trimmedDocs(spark: SparkSession, docs: DataFrame,
                  spansDir: String): DataFrame =
    Dedup.applySpans(docs, spans(spark, spansDir))
}
