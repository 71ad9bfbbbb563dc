package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The microbatch skeleton shared by the store-backed at-ingest dedup
  * streams ([[NearDupStream]], [[EmbedDupStream]], [[EditDistStream]],
  * [[MinHashDupStream]], [[JaccardDupStream]]): probe each new batch
  * against an indexed store of everything seen so far — the streaming
  * similarity-search shape of "Time Series Similarity Search for
  * Streaming Data in Distributed Systems" (EDBT 2019). Per batch:
  *  1. key the batch once and `localCheckpoint` it (every pairing and the
  *     store append read it);
  *  2. pair the keyed rows with each other;
  *  3. when the store exists, read it pruned to the probe rows' own
  *     partition values — a bounded collect, capped by the store's
  *     partition geometry — and pair the probes with that slice;
  *  4. union, keep, dedupe and append the matches stamped `__batch_id`;
  *  5. append the batch's store rows AFTER the lookup (a row never
  *     matches itself), stamped with the checkpoint lineage, through the
  *     crash-replay guard [[Streams.SideStore.appendBatchOnce]];
  *  6. run retention ([[Streams.SideStore.pruneIfDue]]) and free the
  *     checkpoint (`Dataset.unpersist` never reaches a checkpoint RDD).
  *
  * Replay follows the idempotent-sink contract of Structured Streaming
  * (SIGMOD 2018): a batch that crashed after its matches write or its
  * store append re-runs the same deterministic steps. Every pairing
  * orders its ids and excludes `id = id`, so the batch's own store rows
  * can only re-produce pairs the self-join already emits; the readers'
  * `distinct` absorbs the repeated rows, and the append guard keeps one
  * copy of the batch in the store. */
object CandidateJoin {

  /** How a modality pairs rows. `intra` pairs the keyed batch with
    * itself; `probe` derives the rows whose store partition values prune
    * the read; `cross` pairs the keyed batch with the pruned store;
    * `stored` derives the rows the batch appends to the store. */
  final case class Pairing(intra: DataFrame => DataFrame,
                           cross: (DataFrame, DataFrame) => DataFrame,
                           probe: DataFrame => DataFrame = identity,
                           stored: DataFrame => DataFrame = identity)

  /** The pairing of stores that hold the keyed rows themselves: equi-join
    * on `on`, pairs `(pairA, pairB)` ordered by `id`, plus the `score`
    * column built from the two sides' aliases. */
  def symmetric(on: Seq[String], id: String, pairA: String, pairB: String)
               (score: (String, String) => Column): Pairing = {
    val (l, r) = (col(s"l.$id"), col(s"r.$id"))
    def join(left: DataFrame, right: DataFrame, ids: Column): DataFrame =
      left.alias("l").join(right.alias("r"),
        on.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) && ids)
    Pairing(
      intra = rows => join(rows, rows.hint("shuffle_hash"), l < r)
        .select(l.as(pairA), r.as(pairB), score("l", "r")),
      cross = (rows, stored) => join(rows, stored, l =!= r)
        .select(least(l, r).as(pairA), greatest(l, r).as(pairB),
          score("l", "r")))
  }

  /** Start the stream: `key` turns a microbatch into the keyed rows,
    * `pairing` finds the candidate pairs, `keep` filters them and `emit`
    * projects the match rows written to `matchesDir`. `storeKeys`
    * identify a stored row for the append guard's repair anti-join. */
  def start(input: DataFrame, checkpoint: String, store: Streams.SideStore,
            matchesDir: String, storeKeys: Seq[String],
            keep: Column = lit(true), emit: Seq[Column] = Seq(col("*")))
           (key: DataFrame => DataFrame, pairing: Pairing): StreamingQuery = {
    val lineage = Streams.lineageId(
      input.sparkSession.sparkContext.hadoopConfiguration, checkpoint)
    input.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fs = store.ensureReady(spark)
        val keyed = key(batch).localCheckpoint(false)
        val intra = pairing.intra(keyed)
        val pairs =
          if (!store.exists(fs)) intra
          else {
            val parts = pairing.probe(keyed).select(store.partCol)
              .distinct().collect().map(_.get(0)).toIndexedSeq
            intra.unionByName(
              pairing.cross(keyed, store.prunedRead(spark, parts)))
          }
        Streams.stampBatch(pairs.filter(keep).select(emit: _*).distinct(),
          batchId).write.mode(SaveMode.Append).parquet(matchesDir)
        store.appendBatchOnce(spark,
          pairing.stored(keyed).withColumn("__lineage", lit(lineage)),
          lineage, batchId, storeKeys)
        store.pruneIfDue(spark, batchId)
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(keyed)
          .foreach(_.unpersist(false))
        ()
      }
      .start()
  }
}
