package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Tables
import graft.streaming._

/** Crash-point replay matrix over the [[CandidateJoin]] skeleton: for
  * every dedup stream built on it, a microbatch killed at each phase of
  * the skeleton must replay to the same matches and the same store as a
  * run that never crashed. The crash states are forged on disk, the way
  * the MinHash replay test in StreamingSpec forges its store: a run of
  * the first batches, then the artifacts a crash would not have left are
  * removed, and the batch's commit is dropped so Spark replays it.
  *  - (a) matches written, no store append: batch 0's store rows and
  *    both append markers are gone;
  *  - (b) store append done, `.__applied` never written: only
  *    `.__intent` records batch 0;
  *  - (c) `.__applied` written, retention not yet run: batch 1 of a
  *    `retainBatches = 1` stream, with batch 0's rows still stored. */
class CrashPointSpec extends GraftSuite {

  private case class Modality(input: () => DataFrame, idCol: String,
                              start: (DataFrame, String, Int) => StreamingQuery,
                              matches: String => DataFrame)

  private def docs() = Tables.documents(spark, sf).select("doc_id", "text")

  private val modalities = Seq(
    "NearDupStream" -> Modality(docs, "doc_id",
      (in, b, retain) => NearDupStream.start(in, s"$b/state", s"$b/matches",
        s"$b/ckpt", retainBatches = retain),
      NearDupStream.matches(spark, _)),
    "EmbedDupStream" -> Modality(
      () => Tables.embeddings(spark, sf).select("vec_id", "embedding"),
      "vec_id",
      (in, b, retain) => EmbedDupStream.start(in, s"$b/state",
        s"$b/matches", s"$b/ckpt", retainBatches = retain),
      EmbedDupStream.matches(spark, _)),
    "EditDistStream" -> Modality(docs, "doc_id",
      (in, b, retain) => EditDistStream.start(in, s"$b/state",
        s"$b/matches", s"$b/ckpt", retainBatches = retain),
      EditDistStream.matches(spark, _)),
    "MinHashDupStream" -> Modality(docs, "doc_id",
      (in, b, retain) => MinHashDupStream.start(in, s"$b/state",
        s"$b/matches", s"$b/ckpt", retainBatches = retain),
      MinHashDupStream.matches(spark, _)),
    "JaccardDupStream" -> Modality(docs, "doc_id",
      (in, b, retain) => JaccardDupStream.start(in, s"$b/state",
        s"$b/matches", s"$b/ckpt", retainBatches = retain),
      JaccardDupStream.matches(spark, _)))

  private val Chunks = 3

  /** Append chunks `from until to` of the input as one file each, with
    * increasing modification times, so batch i is exactly chunk i. */
  private def writeChunks(m: Modality, inDir: String, from: Int,
                          to: Int): Unit = (from until to).foreach { c =>
    val before = listFiles(inDir)
    m.input().filter(pmod(col(m.idCol), lit(Chunks)) === c).coalesce(1)
      .write.mode("append").parquet(inDir)
    (listFiles(inDir) -- before).foreach(
      _.setLastModified(1700000000000L + c * 60000L))
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def listFiles(dir: String): Set[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSet.flatten
      .filter(_.getName.endsWith(".parquet"))

  private def drain(m: Modality, base: String, inDir: String,
                    retain: Int): Unit = {
    val q = m.start(spark.readStream.schema(m.input().schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir), base, retain)
    try { q.processAllAvailable(); q.exception.foreach(throw _) }
    finally q.stop()
  }

  /** (pair rows, store row count) after a run of all chunks. */
  private def outcome(m: Modality, base: String): (Set[String], Long) =
    (m.matches(s"$base/matches").collect().map(_.mkString(",")).toSet,
      spark.read.parquet(s"$base/state").count())

  private def clean(m: Modality, retain: Int): (Set[String], Long) = {
    val base = tmpDir("graft-crash-clean")
    writeChunks(m, s"$base/in", 0, Chunks)
    drain(m, base, s"$base/in", retain)
    outcome(m, base)
  }

  /** Run batches 0..`crashBatch` cleanly (full history), apply `forge`,
    * drop the batch's commit, then resume over all chunks with
    * `retain`. */
  private def replayed(m: Modality, crashBatch: Int, retain: Int)
                      (forge: (FileSystem, String) => Unit)
      : (Set[String], Long) = {
    val base = tmpDir("graft-crash-replay")
    writeChunks(m, s"$base/in", 0, crashBatch + 1)
    drain(m, base, s"$base/in", retain = 0)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    forge(fs, s"$base/state")
    assert(fs.delete(new Path(s"$base/ckpt/commits/$crashBatch"), false),
      s"batch $crashBatch was not committed by the prefix run")
    writeChunks(m, s"$base/in", crashBatch + 1, Chunks)
    drain(m, base, s"$base/in", retain)
    outcome(m, base)
  }

  private def delete(fs: FileSystem, path: String): Unit =
    assert(fs.delete(new Path(path), true), s"$path missing")

  modalities.foreach { case (name, m) =>
    lazy val fullHistory = clean(m, retain = 0)

    test(s"$name crash after the matches write, before the store append") {
      val got = replayed(m, crashBatch = 0, retain = 0) { (fs, state) =>
        delete(fs, state)
        delete(fs, s"$state.__intent")
        delete(fs, s"$state.__applied")
      }
      assert(fullHistory._1.nonEmpty, "fixture must produce matches")
      assert(got === fullHistory)
    }

    test(s"$name crash after the store append, before the applied marker") {
      val got = replayed(m, crashBatch = 0, retain = 0) { (fs, state) =>
        delete(fs, s"$state.__applied")
        assert(fs.exists(new Path(s"$state.__intent")))
      }
      assert(got === fullHistory)
    }

    test(s"$name crash after the applied marker, before retention") {
      val want = clean(m, retain = 1)
      val got = replayed(m, crashBatch = 1, retain = 1) { (fs, state) =>
        assert(fs.exists(new Path(s"$state.__applied")))
      }
      assert(got === want)
    }
  }
}
