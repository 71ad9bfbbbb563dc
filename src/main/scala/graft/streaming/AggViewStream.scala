package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Cdc

/** Streaming incremental view maintenance — the at-ingest twin of
  * [[graft.operators.Cdc.maintainAggView]].
  *
  * A maintained aggregate over a CDC changelog is the canonical streaming
  * materialized view: every microbatch of Debezium-shaped envelopes
  * (`{before, after}` images) folds into the persisted view with
  * delta-sized work — `+after −before` per envelope, one tiny merge —
  * and the fact table behind the changelog is NEVER read. Spark's own
  * streaming aggregation cannot express this (sums over a changelog need
  * the retraction half), which is why it's a `foreachBatch` fold over a
  * crash-safe store rather than a `groupBy().agg()`.
  *
  * Exactly-once contract: the view carries the last applied batch id
  * AND the checkpoint lineage that wrote it ([[Streams.lineageId]]); a
  * replayed microbatch (crash between store swap and checkpoint commit)
  * is detected and skipped, so the fold is idempotent under Structured
  * Streaming's at-least-once `foreachBatch` delivery. The guard is
  * LINEAGE-SCOPED, not a bare id comparison: batch ids are
  * checkpoint-scoped, so a view store adopted under a fresh checkpoint
  * (ids restart at 0) would otherwise silently DROP every batch until
  * the new id exceeds the stored one — permanent data loss in the
  * maintained aggregate (the r10 verdict's adoption hole, the same one
  * [[Streams.foldAppendOnce]] closes for the additive stores). A
  * lineage mismatch means "nothing from THIS checkpoint applied yet":
  * the store's contents are kept (adoption) and the batch applies. The
  * store swap itself is the two-rename crash-recoverable pattern every
  * side store here uses ([[Streams.replaceStore]]).
  *
  * Delivery contract: envelopes must arrive in per-key order (the
  * Debezium/Kafka per-key partition guarantee). Under it a group's
  * maintained count is always the number of live keys currently in the
  * group — never negative — so dropping emptied groups (`cnt = 0`, whose
  * decimal sum has telescoped to exactly 0) is lossless. Cross-key /
  * cross-batch global order does NOT matter: contributions commute.
  *
  * Scale shape: per batch — one hash aggregate over the batch's
  * envelopes (map-side partials), a merge against an n_groups-row view,
  * one tiny file write. State is the view itself: O(n_groups), not
  * O(n_keys) — this maintains the AGGREGATE without materializing the
  * table, the reason incremental view maintenance beats
  * recompute-from-snapshot at 100 TB.
  */
object AggViewStream {

  private val viewSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("cnt", LongType),
    StructField("sum_value", DecimalType(28, 6)),
    StructField("nnz", LongType),
    StructField("__batch_id", LongType),
    // which checkpoint lineage stamped __batch_id
    StructField("__lineage", StringType)))

  /** The maintained view as of the last completed batch (empty frame on
    * a fresh store). */
  def view(spark: SparkSession, viewDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Streams.recoverCompaction(fs, viewDir)
    if (fs.exists(new org.apache.hadoop.fs.Path(viewDir)))
      spark.read.schema(viewSchema).parquet(viewDir)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], viewSchema)
  }

  /** Fold one microbatch of `{before, after}` envelopes into the view.
    * Public so the replay-idempotency AND adoption contracts are
    * testable without a running stream; [[start]] wires it into
    * `foreachBatch` with the checkpoint's [[Streams.lineageId]]. */
  def applyBatch(delta: DataFrame, viewDir: String, lineage: String,
                 batchId: Long): Unit = {
    val spark = delta.sparkSession
    val current = view(spark, viewDir).cache()
    try {
      // stored stamp: (last applied id, the lineage that wrote it) — both
      // columns are row-constant by construction, max() just collapses
      // them (to null on an empty store)
      val stamp = current.agg(max(col("__batch_id")),
        max(col("__lineage"))).head()
      val lastApplied = if (stamp.isNullAt(0)) -1L else stamp.getLong(0)
      val storedLineage = if (stamp.isNullAt(1)) None
                          else Some(stamp.getString(1))
      // at-least-once delivery: a batch the view already holds replays
      // after a crash between store swap and checkpoint commit — skip.
      // ONLY when the stamp came from THIS checkpoint lineage: a store
      // adopted under a fresh checkpoint restarts at id 0, and skipping
      // on the old lineage's id would drop the first batches of genuine
      // new data (r10 adoption hole). Unseen/absent lineage → apply.
      if (storedLineage.contains(lineage) && batchId <= lastApplied) return
      val base = current.select(col("event_type"), col("cnt"),
        col("sum_value"), col("nnz"))
      // pin the decimal width: repeated merges would otherwise creep the
      // precision up one digit per batch (28,6 holds ±10^22 — plenty)
      val next = Streams.stampBatch(Cdc.maintainAggView(base, delta)
        .select(col("event_type"), col("cnt"),
          col("sum_value").cast("decimal(28,6)").as("sum_value"),
          col("nnz")), batchId)
        .withColumn("__lineage", lit(lineage))
      Streams.replaceStore(spark, viewDir, next)
    } finally { current.unpersist(); () }
  }

  /** Maintain the view continuously from an envelope stream (any
    * streaming DataFrame with `before`/`after` image columns — a real
    * Debezium topic, or [[graft.operators.Cdc.envelopeWithBefore]]
    * chunked through a file stream in tests/benches). */
  def start(envelopes: DataFrame, viewDir: String,
            checkpointDir: String): StreamingQuery = {
    // resolved once per run, inside the first batch (the checkpoint dir
    // exists by then); stable across restarts of the same checkpoint,
    // fresh for a new one — exactly the scope batch ids have
    var lineage: Option[String] = None
    envelopes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val l = lineage.getOrElse {
          val id = Streams.lineageId(
            batch.sparkSession.sparkContext.hadoopConfiguration,
            checkpointDir)
          lineage = Some(id); id
        }
        applyBatch(batch, viewDir, l, batchId)
      }
      .start()
  }
}
