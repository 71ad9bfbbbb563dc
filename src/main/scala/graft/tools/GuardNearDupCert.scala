package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.Dedup
import graft.streaming.IngestGuard

/** Scale certification for the COMPOSED ingest guard with the at-ingest
  * NEAR-dedup stage (round-14: the parts were 100×-certified separately
  * in rounds 8-13; round-14 certified the dedup-lattice composition;
  * round-15 adds the QUOTA fold and the `minEst` signature-agreement
  * threshold, so every decision stage of the guard runs composed) — the
  * expected-answer-first protocol of [[DupStreamBench]]:
  *
  *  1. `expectedOnly=1` computes the ORACLE — a sequential fold over the
  *     same slices using the BATCH operators ([[Dedup.bandSigRows]],
  *     plain windows/joins, no streaming machinery): per slice,
  *     within-batch exact winners, store-exact membership, keeper bands
  *     vs the accumulated accepted-band table (signature-agreement
  *     gated when `minEst` is set), the one-level chain rule, the
  *     near-dup-winner twin rule, and — when `quotaCap` is set — the
  *     per-group admission quota with prior counts folded sequentially
  *     across slices and the quota-twin rule (a same-batch follower of
  *     a quota-denied winner is charged `quota`, never `exact_dup`) —
  *     the [[IngestGuard]] semantics re-derived independently of the
  *     guard's probe geometry (Bloom shards, pushed candidates, caches,
  *     fold stores). Prints the expected per-reason counts BEFORE any
  *     stream runs, so the stream's numbers are checked against a
  *     stated answer, never read off the run.
  *  2. The default mode drives [[IngestGuard.start]] with near-dedup
  *     (and, when configured, `Views(maxPerGroup)` + `minEst`) over the
  *     same slices — one microbatch per slice, batch boundaries pinned
  *     by copying slice files into the watched directory one at a
  *     time — then recomputes the oracle and asserts SET equality of
  *     the accepted corpus and of EVERY reject reason, and reports
  *     throughput, the per-slice latency curve (a flat curve =
  *     per-batch cost tracks the batch, not the store), and
  *     store/sidecar sizes.
  *
  * Guard config: `minTokens=1, maxPunctRatio=1` (all fixture docs pass
  * quality — the certification isolates the decision lattice), no eval
  * set; near-dup at the default `(k=16, bands=4, n=3)`. `minEst=0`
  * keeps the r14 max-recall mode (any band collision convicts);
  * `quotaCap=0` disables the quota stage (the r14 configuration).
  *
  * Usage: `runMain graft.tools.GuardNearDupCert <docsDir>
  * [expectedOnly=0|1] [quotaCap=0|N] [minEst=0|x]`. Prints one
  * `GUARDCERT {...}` or `GUARDCERT_EXPECTED {...}` JSON line. */
object GuardNearDupCert {

  private val fpExpr =
    expr(Hashing.hash64("regexp_replace(trim(lower(text)), '\\\\s+', ' ')"))

  private val GroupCol = "source"

  /** The sequential batch-operator oracle over `slices` (file paths, in
    * order): returns (acceptedIds, exactDupIds, nearDupIds, quotaIds).
    * Package-visible: [[GuardIvfPipelineCert]] reuses it as the guard
    * half of the composed guard→index oracle — ONE oracle per
    * semantics, never a second derivation to drift. */
  private[tools] def oracle(spark: SparkSession, slices: Seq[String],
                     scratch: String, quotaCap: Option[Long],
                     minEst: Option[Double])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val fpsDir = s"$scratch/oracle_fps"
    val bandsDir = s"$scratch/oracle_bands"
    val accDir = s"$scratch/oracle_accepted"
    val exactDir = s"$scratch/oracle_exact"
    val nearDir = s"$scratch/oracle_near"
    val quotaDir = s"$scratch/oracle_quota"
    val fs = new org.apache.hadoop.fs.Path(scratch)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def existing(dir: String): Option[DataFrame] =
      if (fs.exists(new org.apache.hadoop.fs.Path(dir)))
        Some(spark.read.parquet(dir)) else None
    // the quota's prior-admissions fold: ≤ n_groups entries, carried
    // sequentially across slices exactly like the guard's counts store
    val admitted = scala.collection.mutable.HashMap.empty[String, Long]
    val estGate = minEst.fold(lit(true))(t =>
      Dedup.sigAgreement(16, "nn.sig", "pp.sig") >= lit(t))
    val estGateBatch = minEst.fold(lit(true))(t =>
      Dedup.sigAgreement(16, "aa.sig", "bb.sig") >= lit(t))
    slices.foreach { slice =>
      val docs = spark.read.parquet(slice)
        .select(col("doc_id"), col("text"), col(GroupCol))
      val scored = docs.withColumn("__fp", fpExpr).localCheckpoint(false)
      val rn = row_number().over(
        Window.partitionBy(col("__fp")).orderBy(col("doc_id")))
      val seen = existing(fpsDir)
        .map(st => scored.join(
          st.select(col("__fp")).distinct().withColumn("__seen", lit(true)),
          Seq("__fp"), "left"))
        .getOrElse(scored.withColumn("__seen", lit(false)))
        .withColumn("__seen", coalesce(col("__seen"), lit(false)))
        .withColumn("__rn", rn)
        .localCheckpoint(false)
      val keepers = seen.filter(!col("__seen") && col("__rn") === 1)
        .select(col("doc_id"), col("text"))
      // k=16, bands=4, n=3 — the shared builder, signature riding each
      // band row so the minEst gate scores inside the band join
      val kb = Dedup.bandSigRows(keepers).localCheckpoint(false)
      val storeHits = existing(bandsDir)
        .map(st => kb.alias("nn").join(st.alias("pp"),
            col("nn.band_id") === col("pp.band_id") &&
              col("nn.band_key") === col("pp.band_key"))
          .filter(estGate)
          .select(col("nn.doc_id")).distinct())
        .getOrElse(kb.select(col("doc_id")).limit(0))
      val batchHits = kb.alias("aa").join(kb.alias("bb"),
          col("aa.band_id") === col("bb.band_id") &&
            col("aa.band_key") === col("bb.band_key") &&
            col("bb.doc_id") < col("aa.doc_id"))
        .filter(estGateBatch)
        .join(storeHits.withColumnRenamed("doc_id", "__bdoc"),
          col("bb.doc_id") === col("__bdoc"), "left_anti")
        .select(col("aa.doc_id")).distinct()
      val nearIds = storeHits.unionByName(batchHits).distinct()
        .withColumn("__near", lit(true))
      val withNear = seen.join(nearIds, Seq("doc_id"), "left")
        .withColumn("__near", coalesce(col("__near"), lit(false)))
        .withColumn("__winner_near",
          max(when(col("__rn") === 1, col("__near")).otherwise(lit(false)))
            .over(Window.partitionBy(col("__fp"))))
      // the quota stage, mirroring the guard's lattice: survivors rank
      // doc_id-ascending within their group, prior + rank > cap
      // condemns the overflow, and a quota-denied winner's same-batch
      // fp-twins are charged `quota` (their fp never entered the corpus)
      val withQuota = quotaCap match {
        case None =>
          withNear.withColumn("__over_quota", lit(false))
            .withColumn("__winner_quota", lit(false))
        case Some(cap) =>
          import spark.implicits._
          val surv = !col("__seen") && col("__rn") === 1 && !col("__near")
          val prior = admitted.toSeq.toDF("__qgrp", "__admitted")
          val rq = row_number().over(
            Window.partitionBy(col(GroupCol).cast("string"), surv)
              .orderBy(col("doc_id")))
          withNear.join(broadcast(prior),
              col(GroupCol).cast("string") <=> col("__qgrp"), "left")
            .drop("__qgrp")
            .withColumn("__over_quota", surv &&
              coalesce(col("__admitted"), lit(0L)) + rq > cap)
            .drop("__admitted")
            .withColumn("__winner_quota",
              max(when(col("__rn") === 1, col("__over_quota"))
                .otherwise(lit(false)))
                .over(Window.partitionBy(col("__fp"))))
      }
      val judged = withQuota
        .withColumn("reason",
          when(col("__seen"), "exact_dup")
            .when(col("__rn") > 1 && col("__winner_quota"), "quota")
            .when(col("__rn") > 1 && col("__winner_near"), "near_dup")
            .when(col("__rn") > 1, "exact_dup")
            .when(col("__near"), "near_dup")
            .when(col("__over_quota"), "quota"))
        .localCheckpoint(false)
      val accepted = judged.filter(col("reason").isNull)
      accepted.select(col("doc_id"))
        .write.mode(SaveMode.Append).parquet(accDir)
      judged.filter(col("reason") === "exact_dup").select(col("doc_id"))
        .write.mode(SaveMode.Append).parquet(exactDir)
      judged.filter(col("reason") === "near_dup").select(col("doc_id"))
        .write.mode(SaveMode.Append).parquet(nearDir)
      judged.filter(col("reason") === "quota").select(col("doc_id"))
        .write.mode(SaveMode.Append).parquet(quotaDir)
      accepted.select(col("__fp")).distinct()
        .write.mode(SaveMode.Append).parquet(fpsDir)
      kb.join(accepted.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .write.mode(SaveMode.Append).parquet(bandsDir)
      if (quotaCap.isDefined)
        accepted.groupBy(col(GroupCol).cast("string").as("g")).count()
          .collect().foreach(r => admitted(r.getString(0)) =
            admitted.getOrElse(r.getString(0), 0L) + r.getLong(1))
      Seq(scored, seen, judged).foreach(df =>
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
          .foreach(_.unpersist(false)))
    }
    def readIds(dir: String): DataFrame = existing(dir)
      .getOrElse(spark.range(0).select(col("id").as("doc_id")).limit(0))
    (readIds(accDir), readIds(exactDir), readIds(nearDir),
      readIds(quotaDir))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: GuardNearDupCert <docsDir> [expectedOnly] [quotaCap] [minEst]")
    val docsDir = args(0)
    val expectedOnly = args.length > 1 && args(1).toInt == 1
    val quotaCap = Option(args).filter(_.length > 2)
      .map(_(2).toLong).filter(_ > 0)
    val minEst = Option(args).filter(_.length > 3)
      .map(_(3).toDouble).filter(_ > 0)
    val cpus = graft.sources.EngineConf.localCpus
    val spark = graft.sources.EngineConf.localSession("graft-guardcert")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dirPath = new org.apache.hadoop.fs.Path(docsDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val slices = fs.listStatus(dirPath).toIndexedSeq
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName)
      .map(_.toString)
    require(slices.nonEmpty, s"no parquet slices under $docsDir")
    val nDocs = spark.read.parquet(docsDir).count()
    val base = java.nio.file.Files
      .createTempDirectory("graft-guardcert").toString
    val cfg = s""""quota_cap":${quotaCap.getOrElse(0L)},""" +
      s""""min_est":${minEst.getOrElse(0.0)}"""

    if (expectedOnly) {
      val (acc, ex, near, quo) =
        oracle(spark, slices, base, quotaCap, minEst)
      println(s"""GUARDCERT_EXPECTED {"docs":$nDocs,"slices":${slices.length},"accepted":${acc.count()},"exact_dup":${ex.count()},"near_dup":${near.count()},"quota":${quo.count()},$cfg,"cpus":$cpus}""")
      spark.stop()
      return
    }

    // ---- the stream run: one microbatch per slice, boundaries pinned ----
    val inDir = java.nio.file.Paths.get(s"$base/in")
    java.nio.file.Files.createDirectories(inDir)
    val schema = spark.read.parquet(slices.head)
      .select(col("doc_id"), col("text"), col(GroupCol)).schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .select(col("doc_id"), col("text"), col(GroupCol))
    val q = IngestGuard.start(docs, Array.empty[Long], s"$base/state",
      s"$base/accepted", s"$base/rejects", s"$base/checkpoint",
      minTokens = 1, maxPunctRatio = 1.0,
      views = quotaCap.map(cap => IngestGuard.Views(s"$base/views",
        groupCol = GroupCol, maxPerGroup = Some(cap))),
      nearDup = Some(IngestGuard.NearDup(s"$base/bands",
        minEst = minEst)))
    val sliceSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    try {
      slices.zipWithIndex.foreach { case (slice, i) =>
        val tS = System.nanoTime()
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(slice), fs,
          new org.apache.hadoop.fs.Path(inDir.toString,
            f"slice_$i%05d.parquet"),
          false, spark.sparkContext.hadoopConfiguration)
        q.processAllAvailable()
        q.exception.foreach(throw _)
        sliceSecs += (System.nanoTime() - tS) / 1e9
      }
    } finally q.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9

    // ---- the oracle over the same slices, then exact set comparison ----
    val (oAcc, oEx, oNear, oQuo) =
      oracle(spark, slices, base, quotaCap, minEst)
    val gAcc = IngestGuard.accepted(spark, s"$base/accepted")
      .select(col("doc_id"))
    val rej = IngestGuard.rejects(spark, s"$base/rejects")
    val gEx = rej.filter(col("reason") === "exact_dup").select(col("doc_id"))
    val gNear = rej.filter(col("reason") === "near_dup").select(col("doc_id"))
    val gQuo = rej.filter(col("reason") === "quota").select(col("doc_id"))
    def setEq(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val accMatch = setEq(gAcc, oAcc)
    val exMatch = setEq(gEx, oEx)
    val nearMatch = setEq(gNear, oNear)
    val quoMatch = setEq(gQuo, oQuo)
    def dirBytes(p: String): Long = {
      val path = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(path)) 0L
      else {
        val s = java.nio.file.Files.walk(path)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    }
    val sorted = sliceSecs.sorted
    val curve = Seq(
      "first" -> sliceSecs.head,
      "median" -> sorted(sorted.length / 2),
      "p90" -> sorted((sorted.length * 9) / 10),
      "last" -> sliceSecs.last)
      .map { case (k, v) => s""""$k":${f"$v%.2f"}""" }.mkString("{", ",", "}")
    println(s"""GUARDCERT {"docs":$nDocs,"slices":${slices.length},"docs_per_sec":${(nDocs / wallSec).round},"wall_sec":${f"$wallSec%.1f"},"accepted":${gAcc.count()},"exact_dup":${gEx.count()},"near_dup":${gNear.count()},"quota":${gQuo.count()},"accepted_match":$accMatch,"exact_match":$exMatch,"near_match":$nearMatch,"quota_match":$quoMatch,$cfg,"fp_store_mb":${f"${dirBytes(s"$base/state") / 1e6}%.1f"},"fp_sidecar_mb":${f"${dirBytes(s"$base/state.__bloomparts") / 1e6}%.1f"},"band_store_mb":${f"${dirBytes(s"$base/bands") / 1e6}%.1f"},"band_sidecar_mb":${f"${dirBytes(s"$base/bands.__bloomparts") / 1e6}%.1f"},"slice_sec":$curve,"cpus":$cpus}""")
    spark.stop()
  }
}
