package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.streaming._

/** Scale certification for the at-ingest dedup streams: drive one
  * stream over a corpus split into deterministic microbatches (a file
  * stream with `maxFilesPerTrigger`, so batch boundaries are fixed and
  * the rows are read in executors) and report the per-batch latency
  * CURVE with throughput and store size. The curve is the deliverable:
  * every stream reads its store pruned to the batch's own partitions, so
  * per-batch cost must track the batch, not the store — a climbing curve
  * means the prune failed; with retention (`retainBatches`) the store is
  * horizon-bounded and the curve must flatten.
  *
  * With full history (`retainBatches = 0`) and `check = 1`, the minhash
  * and jaccard runs also count their batch twin's rows over the same
  * corpus ([[Dedup.minhashCandidatePairs]],
  * [[Dedup.minhashJaccardEstimate]]): the streamed union must equal it.
  *
  * Usage: `runMain graft.tools.DupStreamBench <modality> <dir>
  * [retainBatches=0] [pruneEvery=0] [maxFilesPerTrigger] [check=0]
  * [minEst=0.0]`, where `modality` is one of neardup, embed, editdist,
  * minhash, jaccard, substr, and `dir` is a documents (or, for embed,
  * embeddings) parquet dir such as a [[ScaleUp]] replica. Prints one
  * `DUPSTREAMBENCH {...}` JSON line. */
object DupStreamBench {

  /** Run settings a modality's `start` reads. */
  final case class Run(base: String, retain: Int, pruneEvery: Int,
                       minEst: Double) {
    def state: String = s"$base/state"
    def out: String = s"$base/out"
    def ckpt: String = s"$base/checkpoint"
  }

  /** One modality: its input columns, default microbatch size, how to
    * start it, how to count what it emitted, and its batch twin. */
  final case class Modality(cols: Seq[String], filesPerTrigger: Int,
                            start: (DataFrame, Run) => StreamingQuery,
                            emitted: (SparkSession, String) => DataFrame,
                            batchTwin: Option[DataFrame => DataFrame])

  private val docCols = Seq("doc_id", "text")

  val modalities: Map[String, Modality] = Map(
    "neardup" -> Modality(docCols, 5,
      (d, r) => NearDupStream.start(d, r.state, r.out, r.ckpt, wide = true,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      NearDupStream.matches, None),
    "embed" -> Modality(Seq("vec_id", "embedding"), 1,
      (d, r) => EmbedDupStream.start(d, r.state, r.out, r.ckpt,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      EmbedDupStream.matches, None),
    "editdist" -> Modality(docCols, 1,
      (d, r) => EditDistStream.start(d, r.state, r.out, r.ckpt,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      EditDistStream.matches, None),
    "minhash" -> Modality(docCols, 5,
      (d, r) => MinHashDupStream.start(d, r.state, r.out, r.ckpt,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      MinHashDupStream.matches,
      Some(Dedup.minhashCandidatePairs(_))),
    "jaccard" -> Modality(docCols, 5,
      (d, r) => JaccardDupStream.start(d, r.state, r.out, r.ckpt,
        minEst = r.minEst, retainBatches = r.retain,
        pruneEvery = r.pruneEvery),
      JaccardDupStream.matches,
      Some(Dedup.minhashJaccardEstimate(_))),
    "substr" -> Modality(docCols, 5,
      (d, r) => SubstrDedupStream.start(d, r.state, r.out, r.ckpt,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      SubstrDedupStream.spans, None))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && modalities.contains(args(0)),
      "usage: DupStreamBench <" + modalities.keys.toSeq.sorted.mkString("|") +
        "> <dir> [retainBatches] [pruneEvery] [maxFilesPerTrigger] " +
        "[check] [minEst]")
    val m = modalities(args(0))
    def arg(i: Int): Option[String] = args.lift(i)
    val base = java.nio.file.Files.createTempDirectory("graft-dupbench")
    val run = Run(base.toString, arg(2).fold(0)(_.toInt),
      arg(3).fold(0)(_.toInt), arg(6).fold(0.0)(_.toDouble))
    val filesPerTrigger = arg(4).fold(m.filesPerTrigger)(_.toInt)
    val check = arg(5).contains("1")
    require(!check ||
      (run.retain == 0 && run.minEst == 0.0 && m.batchTwin.isDefined),
      "the batch-twin check needs full history, no threshold and a twin")
    val cpus = graft.sources.EngineConf.localCpus
    val spark = graft.sources.EngineConf.localSession("graft-dupbench")
      // the progress ledger IS the measurement: the default keeps 100
      // entries, and a longer run would drop its earliest batches
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def input(df: DataFrame) = df.select(m.cols.head, m.cols.tail: _*)
    val static = input(spark.read.parquet(args(1)))
    val nRows = static.count()
    val t0 = System.nanoTime()
    val q = m.start(input(spark.readStream.schema(static.schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toLong)
      .parquet(args(1))), run)
    try {
      q.processAllAvailable() // file stream: drains every available file
      q.exception.foreach(throw _)
    } finally q.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val batches = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => (p.numInputRows,
        p.durationMs.get("triggerExecution").toLong / 1000.0))
    def rate(bs: Seq[(Long, Double)]): Long =
      if (bs.map(_._2).sum > 0) (bs.map(_._1).sum / bs.map(_._2).sum).round
      else 0L
    // steady state: the second half of the run, when the store holds most
    // of its history — the number that degrades if the store read grows
    // with the whole store
    val steady = rate(batches.drop(batches.length / 2).toSeq)
    def mb(path: String): String = {
      val p = base.resolve(path)
      val bytes = if (!java.nio.file.Files.exists(p)) 0L else {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
      f"${bytes / 1e6}%.1f"
    }
    val emitted = m.emitted(spark, run.out).count()
    val twin = if (check) m.batchTwin.get(static).count() else -1L
    val curve = batches
      .map { case (r, s) => s"""{"rows":$r,"sec":${f"$s%.2f"}}""" }
      .mkString("[", ",", "]")
    val execSec = batches.map(_._2).sum
    println(s"""DUPSTREAMBENCH {"modality":"${args(0)}","rows":$nRows,""" +
      s""""batches":${batches.length},"retain_batches":${run.retain},""" +
      s""""min_est":${run.minEst},"rows_per_sec":${rate(batches.toSeq)},""" +
      s""""steady_rows_per_sec":$steady,"exec_sec":${f"$execSec%.1f"},""" +
      s""""wall_sec":${f"$wallSec%.1f"},"store_mb":${mb("state")},""" +
      s""""sidecar_mb":${mb("state.__bloom")},"emitted":$emitted,""" +
      s""""batch_twin":$twin,"curve":$curve,"cpus":$cpus}""")
    spark.stop()
  }
}
