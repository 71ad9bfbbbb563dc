package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.IvfIndexStream

/** Scale certification for the streaming IVF index
  * ([[IvfIndexStream]]) — the expected-answer-first protocol of
  * [[GuardNearDupCert]] applied to the round-15 component:
  *
  *  1. `expectedOnly=1` computes the ORACLE with batch operators only:
  *     centroids re-derived deterministically from slice 0 (the same
  *     first-`nlist`-by-vec_id seed + Lloyd's the stream will use on
  *     its first microbatch), then [[Similarity.annIvfWith]] over the
  *     FULL corpus — and prints the result-set hash BEFORE any stream
  *     runs.
  *  2. The default mode ingests the corpus one slice per microbatch,
  *     queries the maintained store, and asserts the result set equals
  *     the oracle EXACTLY (same hash), reporting ingest throughput,
  *     the per-slice latency curve (flat = per-batch cost tracks the
  *     batch, not the index), store size, and the query read's
  *     decoded-row fraction (the pruned-read evidence).
  *
  * Round 16 adds the DRIFT-REMEDY certification
  * ([[IvfIndexStream.reindexInto]]) with the same protocol:
  *
  *  3. `reindex-expected` computes the post-rebuild ORACLE from the
  *     INPUT corpus alone (the drifted union built exactly as the
  *     subject run will ingest it; centroids via the shared
  *     [[IvfIndexStream.stratifiedSeed]] + Lloyd's over it), printing
  *     the batch-operator result hash and a centroid digest BEFORE any
  *     stream or rebuild runs.
  *  4. `reindex` ingests distribution A (index born on it) then a
  *     DRIFTED distribution B, measures the top-cell occupancy share,
  *     runs `reindexInto`, and asserts: occupancy share drops, the new
  *     store's queries equal [[Similarity.annIvfWith]] over the
  *     persisted new centroids EXACTLY, the persisted centroids match
  *     the oracle digest, and a post-swap resumed ingest lands exactly
  *     once.
  *
  * Round 17 adds the DELETION certification (r16 verdict Next #1's
  * cert-scale row) with the same protocol — see [[deleteCert]]:
  * `delete-expected` prints the survivors-oracle hash first;
  * `delete` ingests, deletes 10% (twice — idempotence), and must
  * reproduce the hash masked, purged, and after a resume that
  * re-emits deleted ids.
  *
  * Usage: `runMain graft.tools.IvfIndexBench <embDir> [mode]` with mode
  * `1` (expected), default (stream cert), `reindex-expected`,
  * `reindex`, `delete-expected`, `delete`. Prints one `IVFINDEX*`
  * JSON line per invocation. */
object IvfIndexBench {

  private val NSlices = 10
  private val NList = 16
  private val Dim = 64
  private val K = 10
  private val NQueries = 100
  private val NProbe = 2

  private def slice(emb: DataFrame, s: Int): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(NSlices)) === s)

  /** Stage the corpus as one single-file parquet per slice. BOTH modes
    * derive centroids from the STAGED slice-0 file: a single input
    * split makes the Lloyd's update's partial sums accumulate in row
    * order in one task, so the oracle's centroids are bit-identical to
    * what the stream's first microbatch (the same file) trains. */
  private def stage(spark: SparkSession, emb: DataFrame,
                    dir: String): Seq[String] = {
    (0 until NSlices).map { s =>
      val d = s"$dir/s$s"
      slice(emb, s).coalesce(1).write.mode("overwrite").parquet(d)
      val f = new java.io.File(d).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
      require(f.length == 1, s"expected one staged file for slice $s")
      f.head.getAbsolutePath
    }
  }

  private def oracleCents(spark: SparkSession,
                          slice0: String): Array[Array[Double]] = {
    val s0 = spark.read.parquet(slice0)
      .select(col("vec_id"), col("embedding"))
    val seed = s0.orderBy(col("vec_id")).limit(NList)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    Similarity.trainCentroidsFrom(s0, seed, 5)
  }

  private def queriesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))

  private val DriftIdOffset = 10000000L

  /** Distribution B: a cluster around the all-ones direction with noise
    * a quarter of the offset — nothing the birth batch trained on
    * points that way (the IvfIndexSpec drift fixture at cert scale). */
  private def drift(emb: DataFrame): DataFrame =
    emb.withColumn("vec_id", col("vec_id") + DriftIdOffset)
      .withColumn("embedding",
        transform(col("embedding"), x => x * lit(0.25f) + lit(1.0f)))

  private def topCellShare(spark: SparkSession, dir: String): Double = {
    val occ = spark.read.parquet(dir).groupBy("cell").count()
      .collect().map(_.getLong(1))
    occ.max.toDouble / occ.sum
  }

  /** The DELETION certification (modes `delete-expected` / `delete` —
    * r16 verdict Next #1's cert-scale row): over the doubled corpus
    * (2 × nVecs vectors, the drift fixture's union so the scale row is
    * the verdict's "delete 10% of 400k"), the oracle is
    * [[Similarity.annIvfWith]] over the SURVIVORS (every vec_id with
    * `vec_id % 10 == 3` deleted — deterministic, ids-derived) and the
    * slice-0-trained centroids, hash printed BEFORE any stream runs.
    * The subject ingests all slices, issues `deleteIds` TWICE (the
    * replayed delete must be a no-op), and must reproduce the hash
    * exactly (a) immediately — masking, rows still physical — and (b)
    * after `compactIndex` — purging, store shrunk by the deleted rows,
    * tombstones kept; then a post-delete resumed ingest lands exactly
    * once and a RE-EMITTED deleted id stays erased. */
  private def deleteCert(spark: SparkSession, emb: DataFrame,
                         nVecs: Long, expectedOnly: Boolean,
                         cpus: Int): Unit = {
    val corpus = emb.unionByName(
        emb.withColumn("vec_id", col("vec_id") + DriftIdOffset))
      .select(col("vec_id"), col("embedding"))
    val deletePred = pmod(col("vec_id"), lit(10)) === 3
    val survivors = corpus.filter(!deletePred)
    val base = java.nio.file.Files
      .createTempDirectory("graft-ivfdelete").toString
    // stage 10 single-file slices of the doubled corpus via the shared
    // helper (its one-file require guards the bit-identical-centroids
    // protocol); BOTH modes train from the staged slice-0 file
    val staged = stage(spark, corpus, s"$base/staged")
    val cents = oracleCents(spark, staged.head)
    val nDeleted = corpus.filter(deletePred).count()
    if (expectedOnly) {
      val (n, hash) = CertHash.resultHash(
        Similarity.annIvfWith(survivors, cents, K, NQueries, NProbe))
      println(s"""IVFDELETE_EXPECTED {"vectors":${2 * nVecs},"deleted":$nDeleted,"survivors":${2 * nVecs - nDeleted},"rows":$n,"hash":"$hash","cents":"${CertHash.centsDigest(cents)}","k":$K,"queries":$NQueries,"nprobe":$NProbe,"cpus":$cpus}""")
      return
    }
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def copyIn(f: String, i: Int): Unit =
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(f), fs,
        new org.apache.hadoop.fs.Path(inDir, f"slice_$i%05d.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
    val stateDir = s"$base/state"
    def startQ() = IvfIndexStream.start(
      spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      stateDir, s"$base/ckpt", nlist = NList, dim = Dim)
    val tI0 = System.nanoTime()
    val q = startQ()
    try {
      staged.zipWithIndex.foreach { case (f, i) =>
        copyIn(f, i); q.processAllAvailable(); q.exception.foreach(throw _)
      }
    } finally q.stop()
    val ingestSec = (System.nanoTime() - tI0) / 1e9
    // the deletion: ids-only frame, issued twice (replay idempotence)
    val delIds = corpus.filter(deletePred).select(col("vec_id"))
    val tD0 = System.nanoTime()
    IvfIndexStream.deleteIds(spark, stateDir, delIds)
    val deleteSec = (System.nanoTime() - tD0) / 1e9
    IvfIndexStream.deleteIds(spark, stateDir, delIds)
    val tombCount = IvfIndexStream.readTombstones(spark, stateDir)
      .get.count()
    // queries against survivors that remain queryable: NQueries
    // smallest surviving ids (vec_id % 10 != 3 and < some bound —
    // annIvfWith picks vec_id < NQueries from ITS corpus, and the
    // oracle corpus IS the survivors, so the subject queries the same
    // surviving ids)
    val qFrame = survivors.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val persisted = IvfIndexStream.readCentroids(spark, stateDir).get
    val centsMatch = persisted.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq
    val (n1, hash1) = CertHash.resultHash(IvfIndexStream.queryMany(
      spark, stateDir, qFrame, K, NProbe))
    val rowsBefore = spark.read.parquet(stateDir).count()
    val tC0 = System.nanoTime()
    IvfIndexStream.compactIndex(spark, stateDir)
    val compactSec = (System.nanoTime() - tC0) / 1e9
    val rowsAfter = spark.read.parquet(stateDir).count()
    val (n2, hash2) = CertHash.resultHash(IvfIndexStream.queryMany(
      spark, stateDir, qFrame, K, NProbe))
    val tombAfter = IvfIndexStream.readTombstones(spark, stateDir)
      .get.count()
    // post-delete ingest: fresh ids land exactly once; a re-emitted
    // DELETED id stays erased from queries
    val resumeFresh = corpus
      .filter(pmod(col("vec_id"), lit(NSlices)) === 0)
      .withColumn("vec_id", col("vec_id") + 4 * DriftIdOffset)
    val resume = resumeFresh
      .unionByName(corpus.filter(deletePred && col("vec_id") < 10000))
    val d = s"$base/staged/resume"
    resume.coalesce(1).write.mode("overwrite").parquet(d)
    copyIn(new java.io.File(d).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")).head.getAbsolutePath, NSlices)
    val q2 = startQ()
    try { q2.processAllAvailable(); q2.exception.foreach(throw _) }
    finally q2.stop()
    val (n3, hash3) = CertHash.resultHash(IvfIndexStream.queryMany(
      spark, stateDir, qFrame, K, NProbe))
    val resumeN = resume.count()
    val totalAfterResume = spark.read.parquet(stateDir).count()
    // the resume lands whole (1000 re-emitted deleted ids included —
    // ingest never reads tombstones), but the re-emits stay MASKED:
    // hash3 must still equal the survivors oracle
    val exactResume = totalAfterResume == rowsAfter + resumeN
    val (oN, oHash) = CertHash.resultHash(
      Similarity.annIvfWith(survivors, persisted, K, NQueries, NProbe))
    // the post-resume oracle ADMITS the fresh resumed vectors (they
    // are legitimate new neighbors) and still EXCLUDES every deleted
    // id — the re-emitted copies in the store must stay erased
    val (oN3, oHash3) = CertHash.resultHash(Similarity.annIvfWith(
      survivors.unionByName(resumeFresh), persisted, K, NQueries, NProbe))
    println(s"""IVFDELETE {"vectors":${2 * nVecs},"deleted":$nDeleted,"tombstones":$tombCount,"idempotent":${tombCount == nDeleted},"ingest_wall_sec":${f"$ingestSec%.1f"},"delete_sec":${f"$deleteSec%.2f"},"compact_sec":${f"$compactSec%.1f"},"rows_before_compact":$rowsBefore,"rows_after_compact":$rowsAfter,"purged":${rowsBefore - rowsAfter},"purge_exact":${rowsBefore - rowsAfter == nDeleted},"tombstones_kept":${tombAfter == nDeleted},"rows":$n1,"hash_masked":"$hash1","hash_purged":"$hash2","hash_post_resume":"$hash3","oracle_rows":$oN,"oracle_hash":"$oHash","post_resume_oracle_hash":"$oHash3","hash_match":${hash1 == oHash && hash2 == oHash && n1 == oN && n2 == oN},"post_resume_match":${hash3 == oHash3 && n3 == oN3},"cents_match":$centsMatch,"resume_rows":$resumeN,"post_resume_total":$totalAfterResume,"exact_resume":$exactResume,"k":$K,"queries":$NQueries,"nprobe":$NProbe,"cpus":$cpus}""")
  }

  /** The drift-remedy certification (modes `reindex-expected` /
    * `reindex` — see the object scaladoc). */
  private def reindexCert(spark: SparkSession, emb: DataFrame,
                          nVecs: Long, expectedOnly: Boolean,
                          cpus: Int): Unit = {
    val corpus = emb.unionByName(drift(emb))
      .select(col("vec_id"), col("embedding"))
    if (expectedOnly) {
      // the post-rebuild oracle from the INPUT corpus alone — printed
      // before any stream or rebuild runs. (Float-sum caveat: the
      // subject trains over the STORE's files; identical values summed
      // in a different partition order can differ in the last bits, so
      // the run also reports its own persisted-centroid parity — a
      // digest mismatch here with hash_match=true means exactly that
      // benign divergence, not a wrong rebuild.)
      val seed = IvfIndexStream.stratifiedSeed(corpus, NList)
      val cents = Similarity.trainCentroidsBalanced(corpus, seed, 8)
      val (n, hash) = CertHash.resultHash(
        Similarity.annIvfWith(corpus, cents, K, NQueries, NProbe))
      println(s"""IVFREINDEX_EXPECTED {"vectors":${2 * nVecs},"rows":$n,"hash":"$hash","cents":"${CertHash.centsDigest(cents)}","k":$K,"queries":$NQueries,"nprobe":$NProbe,"cpus":$cpus}""")
      return
    }
    val base = java.nio.file.Files
      .createTempDirectory("graft-ivfreindex").toString
    // stage: A as 5 slices (the index births on pure pre-drift data),
    // then B as 5 slices of the drifted distribution
    val halves = Seq(emb, drift(emb))
    val staged = halves.zipWithIndex.flatMap { case (h, hi) =>
      (0 until 5).map { s =>
        val d = s"$base/staged/h${hi}s$s"
        h.filter(pmod(col("vec_id"), lit(5)) === s)
          .coalesce(1).write.mode("overwrite").parquet(d)
        new java.io.File(d).listFiles()
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".")).head.getAbsolutePath
      }
    }
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def copyIn(f: String, i: Int): Unit =
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(f), fs,
        new org.apache.hadoop.fs.Path(inDir, f"slice_$i%05d.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
    val stateDir = s"$base/state"
    def startQ(dir: String) = IvfIndexStream.start(
      spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      dir, s"$base/ckpt", nlist = NList, dim = Dim)
    val tI0 = System.nanoTime()
    val q = startQ(stateDir)
    try {
      staged.zipWithIndex.foreach { case (f, i) =>
        copyIn(f, i)
        q.processAllAvailable()
        q.exception.foreach(throw _)
      }
    } finally q.stop()
    val ingestSec = (System.nanoTime() - tI0) / 1e9
    val before = topCellShare(spark, stateDir)
    val newDir = s"$base/state_v2"
    val tR0 = System.nanoTime()
    val newCents =
      IvfIndexStream.reindexInto(spark, stateDir, newDir, NList)
    val reindexSec = (System.nanoTime() - tR0) / 1e9
    val after = topCellShare(spark, newDir)
    val persisted = IvfIndexStream.readCentroids(spark, newDir).get
    val persistedMatch = persisted.map(_.toSeq).toSeq ==
      newCents.map(_.toSeq).toSeq
    val (n, hash) = CertHash.resultHash(IvfIndexStream.queryMany(
      spark, newDir, queriesOf(corpus), K, NProbe))
    val (oN, oHash) = CertHash.resultHash(
      Similarity.annIvfWith(corpus, persisted, K, NQueries, NProbe))
    // the SWAP: resume ingesting into the new dir under the SAME
    // checkpoint — one more slice, landed exactly once
    val resume = emb.withColumn("vec_id",
      col("vec_id") + 2 * DriftIdOffset)
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val resumeN = resume.count()
    val d = s"$base/staged/resume"
    resume.coalesce(1).write.mode("overwrite").parquet(d)
    copyIn(new java.io.File(d).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".")).head.getAbsolutePath, 10)
    val q2 = startQ(newDir)
    try { q2.processAllAvailable(); q2.exception.foreach(throw _) }
    finally q2.stop()
    val total = spark.read.parquet(newDir).count()
    val distinct = spark.read.parquet(newDir)
      .select("vec_id").distinct().count()
    val exactResume =
      total == 2 * nVecs + resumeN && distinct == total
    println(s"""IVFREINDEX {"vectors":${2 * nVecs},"ingest_wall_sec":${f"$ingestSec%.1f"},"top_share_before":${f"$before%.3f"},"top_share_after":${f"$after%.3f"},"balance_restored":${after < before * 0.7},"reindex_sec":${f"$reindexSec%.1f"},"rows":$n,"hash":"$hash","oracle_rows":$oN,"oracle_hash":"$oHash","hash_match":${hash == oHash && n == oN},"cents":"${CertHash.centsDigest(persisted)}","persisted_match":$persistedMatch,"resume_rows":$resumeN,"post_resume_total":$total,"exact_resume":$exactResume,"k":$K,"queries":$NQueries,"nprobe":$NProbe,"cpus":$cpus}""")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: IvfIndexBench <embDir> [1|reindex-expected|reindex]")
    val mode = if (args.length > 1) args(1) else "run"
    val expectedOnly = mode == "1"
    val cpus = graft.sources.EngineConf.localCpus
    val spark = graft.sources.EngineConf.localSession("graft-ivfbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(args(0))
      .select(col("vec_id"), col("embedding"))
    val nVecs = emb.count()

    if (mode == "reindex-expected" || mode == "reindex") {
      reindexCert(spark, emb, nVecs,
        expectedOnly = mode == "reindex-expected", cpus)
      spark.stop()
      return
    }
    if (mode == "delete-expected" || mode == "delete") {
      deleteCert(spark, emb, nVecs,
        expectedOnly = mode == "delete-expected", cpus)
      spark.stop()
      return
    }

    val base = java.nio.file.Files
      .createTempDirectory("graft-ivfbench").toString
    val staged = stage(spark, emb, s"$base/staged")

    if (expectedOnly) {
      val (n, hash) = CertHash.resultHash(Similarity.annIvfWith(
        emb, oracleCents(spark, staged.head), K, NQueries, NProbe))
      println(s"""IVFINDEX_EXPECTED {"vectors":$nVecs,"rows":$n,"hash":"$hash","k":$K,"queries":$NQueries,"nprobe":$NProbe,"cpus":$cpus}""")
      spark.stop()
      return
    }

    // one slice per microbatch, batch boundaries pinned by copying the
    // staged files into the watched dir one at a time (GuardNearDupCert
    // protocol)
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stateDir = s"$base/state"
    val q = IvfIndexStream.start(
      spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      stateDir, s"$base/ckpt", nlist = NList, dim = Dim)
    val sliceSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    try {
      staged.zipWithIndex.foreach { case (f, i) =>
        val tS = System.nanoTime()
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(f), fs,
          new org.apache.hadoop.fs.Path(inDir, f"slice_$i%05d.parquet"),
          false, spark.sparkContext.hadoopConfiguration)
        q.processAllAvailable()
        q.exception.foreach(throw _)
        sliceSecs += (System.nanoTime() - tS) / 1e9
      }
    } finally q.stop()
    val ingestSec = (System.nanoTime() - t0) / 1e9

    val got = IvfIndexStream.queryMany(spark, stateDir, queriesOf(emb),
      K, NProbe)
    val tQ0 = System.nanoTime()
    val (n, hash) = CertHash.resultHash(got)
    val querySec = (System.nanoTime() - tQ0) / 1e9
    val decoded = org.apache.spark.sql.GraftColumnBridge
      .scanOutputRows(got)
    // the pruning evidence: 100 queries x nprobe=2 legitimately probe
    // every one of 16 cells, so the batch metric above reads ~1.0 by
    // construction — ONE query at nprobe=1 shows the per-query read
    // (at production nlist >> 16 the batch fraction shrinks the same way)
    val one = IvfIndexStream.queryMany(spark, stateDir,
      queriesOf(emb).limit(1), K, nprobe = 1)
    one.collect()
    val oneDecoded = org.apache.spark.sql.GraftColumnBridge
      .scanOutputRows(one)
    val (oN, oHash) = CertHash.resultHash(Similarity.annIvfWith(
      emb, IvfIndexStream.readCentroids(spark, stateDir).get,
      K, NQueries, NProbe))
    def dirMb(p: String): Double = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum() / 1e6
      finally s.close()
    }
    val sorted = sliceSecs.sorted
    val curve = Seq("first" -> sliceSecs.head,
      "median" -> sorted(sorted.length / 2), "last" -> sliceSecs.last)
      .map { case (kk, v) => s""""$kk":${f"$v%.2f"}""" }
      .mkString("{", ",", "}")
    println(s"""IVFINDEX {"vectors":$nVecs,"ingest_vecs_per_sec":${(nVecs / ingestSec).round},"ingest_wall_sec":${f"$ingestSec%.1f"},"rows":$n,"hash":"$hash","oracle_rows":$oN,"oracle_hash":"$oHash","hash_match":${hash == oHash && n == oN},"query_sec":${f"$querySec%.2f"},"query_decoded_rows":$decoded,"decoded_frac":${f"${decoded.toDouble / nVecs}%.3f"},"one_query_decoded_rows":$oneDecoded,"one_query_frac":${f"${oneDecoded.toDouble / nVecs}%.3f"},"store_mb":${f"${dirMb(stateDir)}%.1f"},"slice_sec":$curve,"k":$K,"queries":$NQueries,"nprobe":$NProbe,"cpus":$cpus}""")
    spark.stop()
  }
}
