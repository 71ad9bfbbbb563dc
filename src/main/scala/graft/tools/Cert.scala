package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.Hashing
import graft.operators.{Dedup, Similarity}
import graft.sources.EngineConf
import graft.streaming._

/** Scale certification of the streaming components: a stream's output
  * over a prefix must equal the batch answer over that prefix. Each
  * target is expected-answer-first: its `-expected` twin derives the
  * answer with BATCH operators only and prints it before any stream
  * runs; the run form drives the stream one microbatch per slice (slice
  * files copied one at a time into a watched directory), re-derives
  * the same answer and gates on exact equality, reporting throughput,
  * the per-slice latency curve (flat = per-batch cost tracks the batch,
  * not the store) and store sizes.
  * {{{
  * runMain graft.tools.Cert <target> <dir> [args]
  *   guard[-expected]           <docsDir> [quotaCap=0] [minEst=0]
  *   guard-ivf[-expected]       <docsDir> [quotaCap=0] [minEst=0]
  *   guard-ivf-crash[-expected] <docsDir> [quotaCap=0] [minEst=0]
  *   guard-ivf-erase[-expected] <docsDir> [quotaCap=0] [minEst=0]
  *   ivf[-expected]             <embDir>
  *   ivf-reindex[-expected]     <embDir>
  *   ivf-delete[-expected]      <embDir>
  *   dup-<modality>             <dir> [retainBatches=0] [pruneEvery=0]
  *                              [maxFilesPerTrigger] [check=0] [minEst=0]
  * }}}
  * A docs dir's parquet files, in name order, are the slices (a
  * [[ScaleUp]] replica has one per replica). Each invocation prints one
  * JSON line: `GUARDCERT`, `GUARDIVF`, `GUARDIVF_ERASE`, `IVFINDEX`,
  * `IVFREINDEX`, `IVFDELETE` (each with an `_EXPECTED` twin) or
  * `DUPSTREAMBENCH`.
  *
  *  - `guard`: [[IngestGuard]] with near-dedup at `(k=16, bands=4, n=3)`
  *    and, when set, the per-source quota and the `minEst`
  *    signature-agreement gate; `minTokens=1, maxPunctRatio=1` so every
  *    fixture doc passes quality and the decision lattice is isolated.
  *    The oracle is [[guardOracle]]; the run gates on SET equality of
  *    the accepted corpus and of every reject reason.
  *  - `guard-ivf`: the guard's accepted ledger feeding [[IvfIndexStream]]
  *    as a second chained query in one process (accept → embed → index,
  *    with synthetic hash-derived embeddings). The guard half of the
  *    oracle is [[guardOracle]]; the index half trains centroids by the
  *    index's birth rule over the oracle's accepted slice 0 and hashes
  *    [[Similarity.annIvfWith]] over the accepted corpus. The run adds
  *    the index holding exactly the accepted ids, once each, and
  *    `queryMany` reproducing the batch operator over the PERSISTED
  *    centroids. `expected_hash_match` / `expected_cents_match` compare
  *    against the oracle-trained centroids: false there beside
  *    `hash_match:true` is float-sum layout divergence, not a fault.
  *  - `guard-ivf-crash`: the index dies before slice 1 lands, the guard
  *    commits it and dies too (the guard a full commit ahead of the
  *    index), both restart under their checkpoints and every gate must
  *    still hold. The certified window is index-side: a guard-side
  *    crash between its accepted append and its commit re-appends
  *    accepted files the index ingests as duplicate `vec_id`s (the
  *    documented data-property contract of [[IvfIndexStream.start]]).
  *  - `guard-ivf-erase`: after the run, retire [[RetireN]] accepted docs
  *    from the guard and delete their vectors from the index, restart
  *    both and re-ingest one retired doc's exact text and a near twin of
  *    another ([[eraseFixture]]). Gates: both re-admissions accepted and
  *    indexed once (the guard forgot), every retired id masked even from
  *    a query at its own embedding (the index never forgets), the ANN
  *    hash equal to the batch operator over the post-erasure corpus,
  *    centroids unmoved, and all of it stable across `compactIndex`.
  *  - `ivf`: the corpus staged as [[NSlices]] single-file slices by
  *    `vec_id % 10`; centroids by the birth rule over the staged slice-0
  *    file (one input split, so the oracle's Lloyd sums accumulate in
  *    the stream's row order and match bit for bit).
  *  - `ivf-reindex`: ingest A, then a drifted B, rebuild with
  *    `reindexInto`; gates balance restored, the new store equal to the
  *    batch operator over its persisted centroids, and a resumed ingest
  *    into the swapped dir landing exactly once. The expected centroids
  *    are trained over the input frame, the run's over the store's
  *    files: a digest mismatch beside `hash_match:true` is float-sum
  *    layout, not a wrong rebuild.
  *  - `ivf-delete`: over the doubled corpus, delete every `vec_id % 10 ==
  *    3` twice (replay idempotence) and reproduce the survivors oracle
  *    masked, purged by `compactIndex`, and after a resume that
  *    re-emits deleted ids (they land but stay erased).
  *  - `dup-<modality>`: one at-ingest dedup stream over the dir's files,
  *    `maxFilesPerTrigger` per batch; the curve is per batch from the
  *    progress ledger. With full history and `check=1`, minhash and
  *    jaccard also count their batch twin, which the stream's output
  *    must equal. */
object Cert {

  /** A target: the session and `<dir> [args]`, returning its JSON line. */
  type Target = (SparkSession, Array[String]) => String

  private def cpus: Int = EngineConf.localCpus

  // ---- the shared harness ----

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The parquet files under `dir` (or `dir` itself, if it is one), in
    * name order. */
  private def slices(spark: SparkSession, dir: String): Seq[String] = {
    val files = fsOf(spark, dir).listStatus(new Path(dir)).toIndexedSeq
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName).map(_.toString)
    require(files.nonEmpty, s"no parquet slices under $dir")
    files
  }

  /** Write `df` as exactly one parquet file under `dir`; its path. */
  private def stageOne(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val files = slices(df.sparkSession, dir)
    require(files.length == 1, s"expected one staged file under $dir")
    files.head
  }

  /** The microbatch-per-slice loop: for each file, run `before(i)`,
    * copy it into the watched `inDir` as `slice_<i>.parquet` (i counting
    * from `first`), then run `step(i)`. The copy lands under a hidden
    * name and is renamed, so a live file stream never lists a
    * half-written slice. Returns each slice's seconds. */
  private def drive(spark: SparkSession, files: Seq[String], inDir: String,
                    first: Int = 0, before: Int => Unit = _ => ())(
                    step: Int => Unit): Seq[Double] = {
    val fs = fsOf(spark, inDir)
    files.zipWithIndex.map { case (f, j) =>
      val i = first + j
      timed {
        before(i)
        val hidden = new Path(inDir, f".slice_$i%05d.parquet")
        FileUtil.copy(fs, new Path(f), fs, hidden, false,
          spark.sparkContext.hadoopConfiguration)
        fs.rename(hidden, new Path(inDir, f"slice_$i%05d.parquet"))
        step(i)
      }._2
    }
  }

  /** Drain each query and surface its failure. */
  private def settle(qs: StreamingQuery*): Unit = qs.foreach { q =>
    q.processAllAvailable()
    q.exception.foreach(throw _)
  }

  /** One query over `files`, a slice per microbatch, stopped after. */
  private def ingest(spark: SparkSession, q: StreamingQuery,
                     files: Seq[String], inDir: String): Seq[Double] =
    try drive(spark, files, inDir)(_ => settle(q)) finally q.stop()

  /** Start a query, drain what is already there, stop it. */
  private def once(q: StreamingQuery): Unit =
    try settle(q) finally q.stop()

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def setEq(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Megabytes of regular files under `p` (0 when absent), as `%.1f`. */
  private def mb(p: String): String = {
    val path = Paths.get(p)
    val bytes = if (!Files.exists(path)) 0L else {
      val s = Files.walk(path)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
    f"${bytes / 1e6}%.1f"
  }

  /** The per-slice latency curve: first, median, p90 and last seconds. */
  private def curve(secs: Seq[Double]): String = {
    val sorted = secs.sorted
    Seq("first" -> secs.head, "median" -> sorted(sorted.length / 2),
      "p90" -> sorted(sorted.length * 9 / 10), "last" -> secs.last)
      .map { case (k, v) => s""""$k":${f"$v%.2f"}""" }
      .mkString("{", ",", "}")
  }

  private def md5(feed: java.security.MessageDigest => Unit): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    feed(md)
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** (row count, 16-hex MD5) of a `(query_id, neighbor_id, score, rank)`
    * result set, order-independent: every `hash_match` gates on it. */
  private def resultHash(df: DataFrame): (Long, String) = {
    val rows = df.collect()
      .map(r => s"${r.getLong(0)}|${r.getLong(1)}|${r.getDouble(2)}|${r.getInt(3)}")
      .sorted
    (rows.length.toLong, md5(md => rows.foreach(s =>
      md.update(s.getBytes("UTF-8")))))
  }

  /** 16-hex MD5 over a centroid matrix's doubles in row-major order. */
  private def centsDigest(cents: Array[Array[Double]]): String =
    md5(md => cents.foreach(_.foreach(d => md.update(
      java.nio.ByteBuffer.allocate(8).putDouble(d).array()))))

  // ---- the IVF index geometry every target shares ----

  private val NSlices = 10
  private val NList = 16
  private val Dim = 64
  private val K = 10
  private val NQueries = 100
  private val NProbe = 2
  private val DriftIdOffset = 10000000L
  private val ivfCfg = s""""k":$K,"queries":$NQueries,"nprobe":$NProbe"""

  /** The index's birth rule, re-derived with batch operators: seed =
    * the first `NList` embeddings in `vec_id` order, then Lloyd's at the
    * birth default (5 iterations) over the birth batch. */
  private def birthCents(birth: DataFrame): Array[Array[Double]] = {
    val seed = birth.orderBy(col("vec_id")).limit(NList)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(seed.length >= NList, s"birth batch holds ${seed.length} " +
      s"vectors < nlist=$NList — the index would not birth on it")
    Similarity.trainCentroidsFrom(birth, seed, 5)
  }

  /** The `vec_id < NQueries` rows as a query frame: the queries
    * [[Similarity.annIvfWith]] runs over the same corpus. */
  private def queriesOf(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding"))

  private def vectors(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("vec_id"), col("embedding"))

  /** An index query over a watched `<base>/in`, files one per batch. */
  private def startIvf(spark: SparkSession, schema: StructType,
                       base: String, stateDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(s"$base/in"))
    IvfIndexStream.start(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      stateDir, s"$base/ckpt", nlist = NList, dim = Dim)
  }

  // ---- the ingest guard and its oracle ----

  private val GroupCol = "source"
  private val docCols = Seq(col("doc_id"), col("text"), col(GroupCol))
  private val fpExpr =
    expr(Hashing.hash64("regexp_replace(trim(lower(text)), '\\\\s+', ' ')"))

  /** The guard's optional stages: the per-source quota and the near-dup
    * signature-agreement threshold (`0` in the args turns either off). */
  private final case class Guard(quotaCap: Option[Long],
                                 minEst: Option[Double]) {
    def cfg: String = s""""quota_cap":${quotaCap.getOrElse(0L)},""" +
      s""""min_est":${minEst.getOrElse(0.0)}"""
  }

  private def guardOf(args: Array[String]): Guard =
    Guard(args.lift(1).map(_.toLong).filter(_ > 0),
      args.lift(2).map(_.toDouble).filter(_ > 0))

  private type Ledgers = (DataFrame, DataFrame, DataFrame, DataFrame)

  /** The guard's oracle: a sequential fold over `slices` (in order) with
    * BATCH operators only — per slice, within-batch exact winners,
    * store-exact membership, keeper bands against the accumulated
    * accepted-band table (signature-agreement gated when `minEst` is
    * set), the one-level chain rule, the near-dup-winner twin rule and,
    * when `quotaCap` is set, the per-group quota with prior admissions
    * folded across slices and the quota-twin rule (a same-batch follower
    * of a quota-denied winner is charged `quota`). It re-derives the
    * [[IngestGuard]] semantics independently of the guard's probe
    * geometry (Bloom shards, pushed candidates, caches, fold stores).
    * Returns the (accepted, exact_dup, near_dup, quota) doc ids; one
    * oracle serves every guard target. */
  private def guardOracle(spark: SparkSession, slices: Seq[String],
                          scratch: String, g: Guard): Ledgers = {
    val Seq(fpsDir, bandsDir, accDir, exactDir, nearDir, quotaDir) =
      Seq("fps", "bands", "accepted", "exact", "near", "quota")
        .map(d => s"$scratch/oracle_$d")
    val fs = fsOf(spark, scratch)
    def existing(dir: String): Option[DataFrame] =
      if (fs.exists(new Path(dir))) Some(spark.read.parquet(dir)) else None
    // the quota's prior-admissions fold: ≤ n_groups entries, carried
    // sequentially across slices exactly like the guard's counts store
    val admitted = scala.collection.mutable.HashMap.empty[String, Long]
    def estGate(a: String, b: String) = g.minEst.fold(lit(true))(t =>
      Dedup.sigAgreement(16, s"$a.sig", s"$b.sig") >= lit(t))
    slices.foreach { slice =>
      val scored = spark.read.parquet(slice).select(docCols: _*)
        .withColumn("__fp", fpExpr).localCheckpoint(false)
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
          .filter(estGate("nn", "pp"))
          .select(col("nn.doc_id")).distinct())
        .getOrElse(kb.select(col("doc_id")).limit(0))
      val batchHits = kb.alias("aa").join(kb.alias("bb"),
          col("aa.band_id") === col("bb.band_id") &&
            col("aa.band_key") === col("bb.band_key") &&
            col("bb.doc_id") < col("aa.doc_id"))
        .filter(estGate("aa", "bb"))
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
      val withQuota = g.quotaCap match {
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
      Seq(exactDir -> "exact_dup", nearDir -> "near_dup", quotaDir -> "quota")
        .foreach { case (dir, reason) =>
          judged.filter(col("reason") === reason).select(col("doc_id"))
            .write.mode(SaveMode.Append).parquet(dir)
        }
      accepted.select(col("__fp")).distinct()
        .write.mode(SaveMode.Append).parquet(fpsDir)
      kb.join(accepted.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .write.mode(SaveMode.Append).parquet(bandsDir)
      if (g.quotaCap.isDefined)
        accepted.groupBy(col(GroupCol).cast("string").as("g")).count()
          .collect().foreach(r => admitted(r.getString(0)) =
            admitted.getOrElse(r.getString(0), 0L) + r.getLong(1))
      Seq(scored, seen, judged).foreach(df =>
        org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
          .foreach(_.unpersist(false)))
    }
    def readIds(dir: String): DataFrame = existing(dir)
      .getOrElse(spark.range(0).select(col("id").as("doc_id")).limit(0))
    (readIds(accDir), readIds(exactDir), readIds(nearDir), readIds(quotaDir))
  }

  private def counts(l: Ledgers): String =
    s""""accepted":${l._1.count()},"exact_dup":${l._2.count()},""" +
      s""""near_dup":${l._3.count()},"quota":${l._4.count()}"""

  /** The guard over the watched `<base>/in`, one slice per batch, its
    * stores and ledgers under `base`. */
  private def startGuard(spark: SparkSession, base: String,
                         schema: StructType, g: Guard,
                         ckpt: String): StreamingQuery = {
    Files.createDirectories(Paths.get(s"$base/in"))
    IngestGuard.start(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .select(docCols: _*),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/$ckpt", minTokens = 1, maxPunctRatio = 1.0,
      views = g.quotaCap.map(cap => IngestGuard.Views(s"$base/views",
        groupCol = GroupCol, maxPerGroup = Some(cap))),
      nearDup = Some(IngestGuard.NearDup(s"$base/bands", minEst = g.minEst)))
  }

  /** The guard's ledgers under `base` against the oracle: the JSON
    * counts and `*_match` fields, and the rejects count. */
  private def guardGates(spark: SparkSession, base: String,
                         o: Ledgers): (String, Long) = {
    val rej = IngestGuard.rejects(spark, s"$base/rejects")
    def reason(r: String) = rej.filter(col("reason") === r)
      .select(col("doc_id"))
    val got = (IngestGuard.accepted(spark, s"$base/accepted")
      .select(col("doc_id")), reason("exact_dup"), reason("near_dup"),
      reason("quota"))
    (s"""${counts(got)},"accepted_match":${setEq(got._1, o._1)},""" +
      s""""exact_match":${setEq(got._2, o._2)},""" +
      s""""near_match":${setEq(got._3, o._3)},""" +
      s""""quota_match":${setEq(got._4, o._4)}""", rej.count())
  }

  private def guard(expected: Boolean)(spark: SparkSession,
                                        args: Array[String]): String = {
    val g = guardOf(args)
    val ss = slices(spark, args(0))
    val nDocs = spark.read.parquet(args(0)).count()
    val base = tmp("graft-guardcert")
    val head = s""""docs":$nDocs,"slices":${ss.length}"""
    if (expected)
      s"""GUARDCERT_EXPECTED {$head,${counts(guardOracle(spark, ss, base, g))},${g.cfg},"cpus":$cpus}"""
    else {
      val q = startGuard(spark, base,
        spark.read.parquet(ss.head).select(docCols: _*).schema, g,
        "checkpoint")
      val (secs, wallSec) = timed(ingest(spark, q, ss, s"$base/in"))
      val (gates, _) = guardGates(spark, base, guardOracle(spark, ss, base, g))
      s"""GUARDCERT {$head,"docs_per_sec":${(nDocs / wallSec).round},"wall_sec":${f"$wallSec%.1f"},$gates,${g.cfg},"fp_store_mb":${mb(s"$base/state")},"fp_sidecar_mb":${mb(s"$base/state.__bloomparts")},"band_store_mb":${mb(s"$base/bands")},"band_sidecar_mb":${mb(s"$base/bands.__bloomparts")},"slice_sec":${curve(secs)},"cpus":$cpus}"""
    }
  }

  // ---- guard → index: the chained curation topology ----

  /** Deterministic embedding of a `doc_id` column — a pure per-row hash
    * expression shared by the chained stream and the oracle, so the two
    * sides can differ only through the pipeline, never the fixture. */
  private def withEmbedding(ids: DataFrame): DataFrame =
    ids.select(col("doc_id").cast("long").as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)), i =>
        ((pmod(xxhash64(col("doc_id"), i), lit(2001)) - lit(1000))
          .cast("double") / 500.0).cast("float")).as("embedding"))

  /** `ids` as an index query frame `(query_id, embedding)`. */
  private def queryFrame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    withEmbedding(ids.toDF("doc_id")).withColumnRenamed("vec_id", "query_id")
  }

  /** [[queryFrame]] under ids no row has (`-1 - id`): `queryMany` drops
    * `neighbor_id == query_id`, which would hide each id's own row, its
    * cosine-1.0 top hit. */
  private def probeFrame(spark: SparkSession, ids: Seq[Long]): DataFrame =
    queryFrame(spark, ids).withColumn("query_id", -col("query_id") - 1)

  /** Query ids = the `NQueries` smallest accepted ids, and the exclusive
    * threshold that makes [[Similarity.annIvfWith]] (whose queries are
    * `vec_id < nQueries` from its corpus) pick exactly them. */
  private def queryIds(accepted: DataFrame): (Seq[Long], Int) = {
    val ids = accepted.select(col("doc_id").cast("long"))
      .orderBy(col("doc_id")).limit(NQueries)
      .collect().map(_.getLong(0)).toIndexedSeq
    (ids, (ids.last + 1).toInt)
  }

  /** The batch ANN hash over an embedded `corpus`, queried by the
    * `accepted` set's query ids. */
  private def annHash(corpus: DataFrame, accepted: DataFrame,
                      cents: Array[Array[Double]]): (Long, String) =
    resultHash(Similarity.annIvfWith(corpus, cents, K, queryIds(accepted)._2,
      NProbe))

  private val RetireN = 100

  private final case class EraseFixture(retired: Seq[Long], readmitId: Long,
                                        readmitText: String,
                                        readmitSrc: String, twinId: Long,
                                        twinBase: Long, twinText: String,
                                        twinSrc: String) {
    def rows: Seq[(Long, String, String)] = Seq(
      (readmitId, readmitText, readmitSrc), (twinId, twinText, twinSrc))

    /** The accepted corpus after the erasure, embedded. */
    def postErase(spark: SparkSession, acc: DataFrame): DataFrame = {
      import spark.implicits._
      withEmbedding(acc.filter(!col("doc_id").isin(retired: _*)))
        .unionByName(withEmbedding(Seq(readmitId, twinId).toDF("doc_id")))
    }
  }

  /** The erase fixture, derived once from the oracle-accepted set (the
    * expected and run forms compute it identically): retired = the
    * [[RetireN]] smallest accepted ids ABOVE the query threshold (so the
    * query frame survives the erasure unchanged); the re-admit doc is
    * the first retired id's exact text; the near-twin base is the first
    * later retired id whose `text + " appendix"` band-collides with its
    * own base text and with NOTHING that survives — the re-admitted text
    * included, as it lands first — so its acceptance proves the band
    * rows left. New ids start past the corpus max. */
  private def eraseFixture(spark: SparkSession, docsDir: String,
                           acc: DataFrame): EraseFixture = {
    import spark.implicits._
    val accIds = acc.select(col("doc_id").cast("long"))
      .orderBy(col("doc_id")).collect().map(_.getLong(0)).toIndexedSeq
    require(accIds.length >= NQueries + RetireN + 2,
      s"fixture too small: ${accIds.length} accepted docs < " +
        s"${NQueries + RetireN + 2} — shrink RetireN or grow the corpus")
    val retired = accIds.slice(NQueries, NQueries + RetireN)
    val docs = spark.read.parquet(docsDir)
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head().getLong(0)
    val byId = docs.filter(col("doc_id").isin(retired: _*))
      .select(col("doc_id").cast("long"), col("text"), col(GroupCol))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    val (readmitText, readmitSrc) = byId(retired.head)
    def bands(id: Long, text: String) =
      Dedup.bandSigRows(Seq((id, text)).toDF("doc_id", "text"))
        .select(col("band_id"), col("band_key"))
    val survivorBands = Dedup.bandSigRows(
      docs.join(acc.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .filter(!col("doc_id").isin(retired: _*))
        .select(col("doc_id"), col("text"))
        .unionByName(Seq((maxId + 1, readmitText)).toDF("doc_id", "text")))
      .select(col("band_id"), col("band_key")).distinct()
      .localCheckpoint(false)
    val twinBase = retired.tail.take(20).find { cand =>
      val twin = bands(0L, byId(cand)._1 + " appendix")
      !twin.join(bands(1L, byId(cand)._1), Seq("band_id", "band_key"))
        .isEmpty &&
        twin.join(survivorBands, Seq("band_id", "band_key")).isEmpty
    }.getOrElse(throw new IllegalStateException(
      "no retired candidate yields a clean near twin in 20 tries — " +
        "fixture texts too short or too homogeneous"))
    EraseFixture(retired, maxId + 1, readmitText, readmitSrc, maxId + 2,
      twinBase, byId(twinBase)._1 + " appendix", byId(twinBase)._2)
  }

  /** `mode` is `expected`, `erase-expected`, `run`, `crash` or `erase`. */
  private def guardIvf(mode: String)(spark: SparkSession,
                                    args: Array[String]): String = {
    import spark.implicits._
    val g = guardOf(args)
    val docsDir = args(0)
    val ss = slices(spark, docsDir)
    val nDocs = spark.read.parquet(docsDir).count()
    val base = tmp("graft-guardivf")
    val cfg = s"""${g.cfg},"nlist":$NList,"dim":$Dim,$ivfCfg"""
    // derived first in the expected forms, after the streams in the runs
    lazy val o = guardOracle(spark, ss, base, g)
    lazy val oAcc = o._1
    lazy val eCents = birthCents(withEmbedding(
      guardOracle(spark, ss.take(1), s"$base/s0", g)._1))
    if (mode == "expected") {
      val (n, hash) = annHash(withEmbedding(oAcc), oAcc, eCents)
      return s"""GUARDIVF_EXPECTED {"docs":$nDocs,"slices":${ss.length},${counts(o)},"index_rows":${oAcc.count()},"ann_rows":$n,"ann_hash":"$hash","cents":"${centsDigest(eCents)}",$cfg,"cpus":$cpus}"""
    }
    if (mode == "erase-expected") {
      val fx = eraseFixture(spark, docsDir, oAcc)
      val nAcc = oAcc.count()
      val (n, hash) = annHash(fx.postErase(spark, oAcc), oAcc, eCents)
      return s"""GUARDIVF_ERASE_EXPECTED {"docs":$nDocs,"accepted":$nAcc,"retired":${fx.retired.length},"readmit_id":${fx.readmitId},"twin_id":${fx.twinId},"twin_base":${fx.twinBase},"index_rows_pre_compact":${nAcc + 2},"index_rows_post_compact":${nAcc - fx.retired.length + 2},"ann_rows":$n,"ann_hash":"$hash","cents":"${centsDigest(eCents)}",$cfg,"cpus":$cpus}"""
    }

    val inDir = s"$base/in"
    val acceptedDir = s"$base/accepted"
    val indexDir = s"$base/index"
    // the index's file stream needs the accepted dir to exist at start
    Files.createDirectories(Paths.get(acceptedDir))
    val docSchema = spark.read.parquet(ss.head).select(docCols: _*).schema
    def startG() = startGuard(spark, base, docSchema, g, "ckpt_guard")
    // chained query #2: accepted ledger -> synthetic embed -> index (no
    // maxFilesPerTrigger: each drain folds every new accepted file into
    // one microbatch, so the birth batch is slice 0's whole accepted
    // set — the same union the oracle trains on)
    def startIndex() = IvfIndexStream.start(
      withEmbedding(spark.readStream.schema(StructType(docSchema.fields :+
        StructField("__batch_id", LongType))).parquet(acceptedDir)),
      indexDir, s"$base/ckpt_index", nlist = NList, dim = Dim)
    // crash at the FIRST post-birth slice: the index birthed on slice 0,
    // and slice 1's acceptances still grow (once the per-source quota
    // saturates a later slice accepts nothing, closing the window)
    val crashAt = if (mode == "crash") 1 else -1
    var guard = startG()
    var index = startIndex()
    var acceptedAtCrash = -1L
    var indexedAtCrash = -1L
    // the seam, opened deterministically: the index dies FIRST (its
    // continuous trigger would otherwise drain the guard's output the
    // moment it lands), then the guard commits slice i and dies too
    val (_, wallSec) = timed {
      try drive(spark, ss, inDir,
          before = i => if (i == crashAt) index.stop()) { i =>
        settle(guard)
        if (i == crashAt) {
          acceptedAtCrash = spark.read.parquet(acceptedDir)
            .select(col("doc_id")).distinct().count()
          indexedAtCrash = if (fsOf(spark, indexDir).exists(new Path(indexDir)))
            spark.read.parquet(indexDir).count() else 0L
          require(acceptedAtCrash > indexedAtCrash,
            s"crash fixture failed to open the guard-ahead window: " +
              s"accepted=$acceptedAtCrash indexed=$indexedAtCrash at slice $i")
          guard.stop()
          guard = startG(); index = startIndex()
          settle(guard)
        }
        settle(index)
      } finally { guard.stop(); index.stop() }
    }

    val (guardFields, nRejects) = guardGates(spark, base, o)
    // index gates: exactly the oracle-accepted ids, exactly once
    val store = spark.read.parquet(indexDir)
    val storeRows = store.count()
    val storeDistinct = store.select(col("vec_id")).distinct().count()
    val idsMatch = setEq(store.select(col("vec_id").as("doc_id")).distinct(),
      oAcc.select(col("doc_id").cast("long").as("doc_id")))
    // ANN gate: the maintained store's queries == the batch operator
    // over the oracle-accepted embeddings and the PERSISTED centroids
    val persisted = IvfIndexStream.readCentroids(spark, indexDir).get
    val qFrame = queryFrame(spark, queryIds(oAcc)._1)
    def storeHash() = resultHash(
      IvfIndexStream.queryMany(spark, indexDir, qFrame, K, NProbe))
    val (n, hash) = storeHash()
    val (oN, oHash) = annHash(withEmbedding(oAcc), oAcc, persisted)
    val (_, eHash) = annHash(withEmbedding(oAcc), oAcc, eCents)
    val crashFields =
      if (mode == "crash") s""""crash_at_slice":$crashAt,"accepted_at_crash":$acceptedAtCrash,"indexed_at_crash":$indexedAtCrash,"""
      else ""
    val baseFields = s""""docs":$nDocs,"slices":${ss.length},"docs_per_sec":${(nDocs / wallSec).round},"wall_sec":${f"$wallSec%.1f"},$guardFields,"index_rows":$storeRows,"index_distinct":$storeDistinct,"index_ids_match":$idsMatch,"exactly_once":${storeRows == storeDistinct && idsMatch},${crashFields}"rows":$n,"hash":"$hash","oracle_rows":$oN,"oracle_hash":"$oHash","hash_match":${hash == oHash && n == oN},"expected_hash_match":${hash == eHash},"expected_cents_match":${centsDigest(persisted) == centsDigest(eCents)},"cents":"${centsDigest(persisted)}""""
    if (mode != "erase")
      return s"""GUARDIVF {"mode":"$mode",$baseFields,$cfg,"cpus":$cpus}"""

    // ---- the erase epilogue: retire → delete → re-admit → compact ----
    val fx = eraseFixture(spark, docsDir, oAcc)
    // both streams are stopped (the run loop's finally) — single-writer
    val (applied, eraseSec) = timed {
      val n = IngestGuard.retireDocs(spark, fx.retired.toDF("doc_id"),
        acceptedDir, s"$base/state", Some(s"$base/bands"))
      IvfIndexStream.deleteIds(spark, indexDir, fx.retired)
      n
    }
    // restart BOTH under their checkpoints; the exact re-admission lands
    // first (its own microbatch), so the twin is judged against the
    // post-readmit store, never within the same batch
    val extra = fx.rows.zipWithIndex.map { case (r, i) =>
      stageOne(Seq(r).toDF("doc_id", "text", GroupCol), s"$base/extra$i")
    }
    val g2 = startG()
    val i2 = startIndex()
    try drive(spark, extra, inDir, first = ss.length)(_ => settle(g2, i2))
    finally { g2.stop(); i2.stop() }
    // guard gates: the guard FORGOT — both re-admissions accepted, the
    // ledgers otherwise unchanged (retirement never rewrites history)
    val guardForgot = setEq(
      IngestGuard.accepted(spark, acceptedDir)
        .select(col("doc_id").cast("long").as("doc_id")),
      oAcc.select(col("doc_id").cast("long").as("doc_id"))
        .unionByName(Seq(fx.readmitId, fx.twinId).toDF("doc_id")))
    val rejAfter = IngestGuard.rejects(spark, s"$base/rejects")
    val rejectsUnchanged = rejAfter.count() == nRejects &&
      rejAfter.filter(col("doc_id").isin(fx.readmitId, fx.twinId)).isEmpty
    // index gates: the re-admissions landed exactly once; every retired
    // vec_id is masked even from a query AT ITS OWN embedding; centroids
    // unmoved
    val preRows = spark.read.parquet(indexDir).count()
    val readmitIndexed = spark.read.parquet(indexDir)
      .filter(col("vec_id").isin(fx.readmitId, fx.twinId)).count() == 2L
    def maskedEverywhere(): Boolean = IvfIndexStream.queryMany(spark,
        indexDir, probeFrame(spark, fx.retired), K, NProbe)
      .filter(col("neighbor_id").isin(fx.retired: _*)).isEmpty
    val maskPre = maskedEverywhere()
    val readmitReachable = IvfIndexStream.queryMany(spark, indexDir,
        probeFrame(spark, Seq(fx.readmitId)), K, NProbe)
      .filter(col("rank") === 1 && col("neighbor_id") === fx.readmitId)
      .count() == 1L
    val persistedAfter = IvfIndexStream.readCentroids(spark, indexDir).get
    // ANN gates: the maintained store == the batch operator over the
    // post-erasure corpus with the persisted centroids, beside parity
    // with the erase-expected oracle-cents hash
    val postCorpus = fx.postErase(spark, oAcc)
    val (gotN, gotHash) = storeHash()
    val (oN2, oHash2) = annHash(postCorpus, oAcc, persistedAfter)
    val (_, eHash2) = annHash(postCorpus, oAcc, eCents)
    // compaction: the physical purge changes NOTHING observable
    val (_, compactSec) = timed(IvfIndexStream.compactIndex(spark, indexDir))
    val postRows = spark.read.parquet(indexDir).count()
    val (gotN2, gotHash2) = storeHash()
    val maskPost = maskedEverywhere()
    s"""GUARDIVF_ERASE {"mode":"erase",$baseFields,"retired":${fx.retired.length},"retire_applied":$applied,"erase_sec":${f"$eraseSec%.1f"},"compact_sec":${f"$compactSec%.1f"},"readmit_id":${fx.readmitId},"twin_id":${fx.twinId},"twin_base":${fx.twinBase},"guard_forgot":$guardForgot,"rejects_unchanged":$rejectsUnchanged,"readmit_indexed":$readmitIndexed,"readmit_reachable":$readmitReachable,"mask_pre_compact":$maskPre,"mask_post_compact":$maskPost,"cents_unmoved":${centsDigest(persistedAfter) == centsDigest(persisted)},"index_rows_pre_compact":$preRows,"index_rows_post_compact":$postRows,"rows_pre_match":${preRows == oAcc.count() + 2},"rows_post_match":${postRows == oAcc.count() - fx.retired.length + 2},"erase_rows":$gotN,"erase_hash":"$gotHash","erase_oracle_rows":$oN2,"erase_oracle_hash":"$oHash2","erase_hash_match":${gotHash == oHash2 && gotN == oN2},"erase_expected_hash_match":${gotHash == eHash2},"compact_stable":${gotHash2 == gotHash && gotN2 == gotN},$cfg,"cpus":$cpus}"""
  }

  // ---- the streaming IVF index alone ----

  /** The corpus as [[NSlices]] single-file slices by `vec_id % 10`. */
  private def stage(emb: DataFrame, dir: String): Seq[String] =
    (0 until NSlices).map(s => stageOne(
      emb.filter(pmod(col("vec_id"), lit(NSlices)) === s), s"$dir/s$s"))

  private def ivf(expected: Boolean)(spark: SparkSession,
                                     args: Array[String]): String = {
    val emb = vectors(spark, args(0))
    val nVecs = emb.count()
    val base = tmp("graft-ivfbench")
    val staged = stage(emb, s"$base/staged")
    if (expected) {
      val (n, hash) = resultHash(Similarity.annIvfWith(emb,
        birthCents(vectors(spark, staged.head)), K, NQueries, NProbe))
      s"""IVFINDEX_EXPECTED {"vectors":$nVecs,"rows":$n,"hash":"$hash",$ivfCfg,"cpus":$cpus}"""
    } else {
      val stateDir = s"$base/state"
      val q = startIvf(spark, emb.schema, base, stateDir)
      val (secs, ingestSec) = timed(ingest(spark, q, staged, s"$base/in"))
      val queries = queriesOf(emb)
      val got = IvfIndexStream.queryMany(spark, stateDir, queries, K, NProbe)
      val ((n, hash), querySec) = timed(resultHash(got))
      val decoded = org.apache.spark.sql.GraftColumnBridge.scanOutputRows(got)
      // the pruning evidence: 100 queries x nprobe=2 legitimately probe
      // every one of 16 cells, so the batch read is ~1.0 by construction
      // — ONE query at nprobe=1 shows the per-query read
      val one = IvfIndexStream.queryMany(spark, stateDir, queries.limit(1), K,
        nprobe = 1)
      one.collect()
      val oneDecoded = org.apache.spark.sql.GraftColumnBridge.scanOutputRows(one)
      val (oN, oHash) = resultHash(Similarity.annIvfWith(emb,
        IvfIndexStream.readCentroids(spark, stateDir).get, K, NQueries, NProbe))
      s"""IVFINDEX {"vectors":$nVecs,"ingest_vecs_per_sec":${(nVecs / ingestSec).round},"ingest_wall_sec":${f"$ingestSec%.1f"},"rows":$n,"hash":"$hash","oracle_rows":$oN,"oracle_hash":"$oHash","hash_match":${hash == oHash && n == oN},"query_sec":${f"$querySec%.2f"},"query_decoded_rows":$decoded,"decoded_frac":${f"${decoded.toDouble / nVecs}%.3f"},"one_query_decoded_rows":$oneDecoded,"one_query_frac":${f"${oneDecoded.toDouble / nVecs}%.3f"},"store_mb":${mb(stateDir)},"slice_sec":${curve(secs)},$ivfCfg,"cpus":$cpus}"""
    }
  }

  /** Distribution B: a cluster around the all-ones direction with noise a
    * quarter of the offset — nothing the birth batch trained on points
    * that way. */
  private def drift(emb: DataFrame): DataFrame =
    emb.withColumn("vec_id", col("vec_id") + DriftIdOffset)
      .withColumn("embedding",
        transform(col("embedding"), x => x * lit(0.25f) + lit(1.0f)))

  private def topCellShare(spark: SparkSession, dir: String): Double = {
    val occ = spark.read.parquet(dir).groupBy("cell").count()
      .collect().map(_.getLong(1))
    occ.max.toDouble / occ.sum
  }

  private def reindex(expected: Boolean)(spark: SparkSession,
                                         args: Array[String]): String = {
    val emb = vectors(spark, args(0))
    val nVecs = emb.count()
    val corpus = emb.unionByName(drift(emb))
    if (expected) {
      // the post-rebuild oracle from the INPUT corpus alone
      val cents = Similarity.trainCentroidsBalanced(corpus,
        IvfIndexStream.stratifiedSeed(corpus, NList), 8)
      val (n, hash) = resultHash(
        Similarity.annIvfWith(corpus, cents, K, NQueries, NProbe))
      s"""IVFREINDEX_EXPECTED {"vectors":${2 * nVecs},"rows":$n,"hash":"$hash","cents":"${centsDigest(cents)}",$ivfCfg,"cpus":$cpus}"""
    } else {
      val base = tmp("graft-ivfreindex")
      // A as 5 slices (the index births on pure pre-drift data), then B
      val staged = Seq(emb, drift(emb)).zipWithIndex.flatMap { case (h, hi) =>
        (0 until 5).map(s => stageOne(h.filter(pmod(col("vec_id"), lit(5)) === s),
          s"$base/staged/h${hi}s$s"))
      }
      val stateDir = s"$base/state"
      val (_, ingestSec) = timed(ingest(spark,
        startIvf(spark, emb.schema, base, stateDir), staged, s"$base/in"))
      val before = topCellShare(spark, stateDir)
      val newDir = s"$base/state_v2"
      val (newCents, reindexSec) =
        timed(IvfIndexStream.reindexInto(spark, stateDir, newDir, NList))
      val after = topCellShare(spark, newDir)
      val persisted = IvfIndexStream.readCentroids(spark, newDir).get
      val persistedMatch =
        persisted.map(_.toSeq).toSeq == newCents.map(_.toSeq).toSeq
      val (n, hash) = resultHash(IvfIndexStream.queryMany(
        spark, newDir, queriesOf(corpus), K, NProbe))
      val (oN, oHash) = resultHash(
        Similarity.annIvfWith(corpus, persisted, K, NQueries, NProbe))
      // the SWAP: resume ingesting into the new dir under the SAME
      // checkpoint — one more slice, landed exactly once
      val resume = emb.withColumn("vec_id", col("vec_id") + 2 * DriftIdOffset)
        .filter(pmod(col("vec_id"), lit(5)) === 0)
      val resumeN = resume.count()
      drive(spark, Seq(stageOne(resume, s"$base/staged/resume")),
        s"$base/in", first = staged.length)(_ =>
        once(startIvf(spark, emb.schema, base, newDir)))
      val total = spark.read.parquet(newDir).count()
      val distinct = spark.read.parquet(newDir)
        .select("vec_id").distinct().count()
      s"""IVFREINDEX {"vectors":${2 * nVecs},"ingest_wall_sec":${f"$ingestSec%.1f"},"top_share_before":${f"$before%.3f"},"top_share_after":${f"$after%.3f"},"balance_restored":${after < before * 0.7},"reindex_sec":${f"$reindexSec%.1f"},"rows":$n,"hash":"$hash","oracle_rows":$oN,"oracle_hash":"$oHash","hash_match":${hash == oHash && n == oN},"cents":"${centsDigest(persisted)}","persisted_match":$persistedMatch,"resume_rows":$resumeN,"post_resume_total":$total,"exact_resume":${total == 2 * nVecs + resumeN && distinct == total},$ivfCfg,"cpus":$cpus}"""
    }
  }

  private def delete(expected: Boolean)(spark: SparkSession,
                                        args: Array[String]): String = {
    val emb = vectors(spark, args(0))
    val nVecs = emb.count()
    val corpus = emb.unionByName(
      emb.withColumn("vec_id", col("vec_id") + DriftIdOffset))
    val deletePred = pmod(col("vec_id"), lit(10)) === 3
    val survivors = corpus.filter(!deletePred)
    val base = tmp("graft-ivfdelete")
    // both forms train from the staged slice-0 file
    val staged = stage(corpus, s"$base/staged")
    val cents = birthCents(vectors(spark, staged.head))
    val nDeleted = corpus.filter(deletePred).count()
    if (expected) {
      val (n, hash) = resultHash(
        Similarity.annIvfWith(survivors, cents, K, NQueries, NProbe))
      s"""IVFDELETE_EXPECTED {"vectors":${2 * nVecs},"deleted":$nDeleted,"survivors":${2 * nVecs - nDeleted},"rows":$n,"hash":"$hash","cents":"${centsDigest(cents)}",$ivfCfg,"cpus":$cpus}"""
    } else {
      val stateDir = s"$base/state"
      val (_, ingestSec) = timed(ingest(spark,
        startIvf(spark, emb.schema, base, stateDir), staged, s"$base/in"))
      // the deletion: ids-only frame, issued twice (replay idempotence)
      val delIds = corpus.filter(deletePred).select(col("vec_id"))
      val (_, deleteSec) =
        timed(IvfIndexStream.deleteIds(spark, stateDir, delIds))
      IvfIndexStream.deleteIds(spark, stateDir, delIds)
      def tombstones() =
        IvfIndexStream.readTombstones(spark, stateDir).get.count()
      val tombCount = tombstones()
      // annIvfWith queries vec_id < NQueries from ITS corpus, and the
      // oracle corpus IS the survivors: query the same surviving ids
      val qFrame = queriesOf(survivors)
      def storeHash() = resultHash(
        IvfIndexStream.queryMany(spark, stateDir, qFrame, K, NProbe))
      val persisted = IvfIndexStream.readCentroids(spark, stateDir).get
      val centsMatch = persisted.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq
      val (n1, hash1) = storeHash()
      val rowsBefore = spark.read.parquet(stateDir).count()
      val (_, compactSec) =
        timed(IvfIndexStream.compactIndex(spark, stateDir))
      val rowsAfter = spark.read.parquet(stateDir).count()
      val (n2, hash2) = storeHash()
      val tombAfter = tombstones()
      // post-delete ingest: fresh ids land exactly once; re-emitted
      // DELETED ids land too (ingest never reads tombstones) but stay
      // masked from queries
      val resumeFresh = corpus.filter(pmod(col("vec_id"), lit(NSlices)) === 0)
        .withColumn("vec_id", col("vec_id") + 4 * DriftIdOffset)
      val resume = resumeFresh
        .unionByName(corpus.filter(deletePred && col("vec_id") < 10000))
      drive(spark, Seq(stageOne(resume, s"$base/staged/resume")),
        s"$base/in", first = NSlices)(_ =>
        once(startIvf(spark, emb.schema, base, stateDir)))
      val (n3, hash3) = storeHash()
      val resumeN = resume.count()
      val totalAfterResume = spark.read.parquet(stateDir).count()
      val (oN, oHash) = resultHash(
        Similarity.annIvfWith(survivors, persisted, K, NQueries, NProbe))
      // the post-resume oracle ADMITS the fresh vectors and still
      // EXCLUDES every deleted id
      val (oN3, oHash3) = resultHash(Similarity.annIvfWith(
        survivors.unionByName(resumeFresh), persisted, K, NQueries, NProbe))
      s"""IVFDELETE {"vectors":${2 * nVecs},"deleted":$nDeleted,"tombstones":$tombCount,"idempotent":${tombCount == nDeleted},"ingest_wall_sec":${f"$ingestSec%.1f"},"delete_sec":${f"$deleteSec%.2f"},"compact_sec":${f"$compactSec%.1f"},"rows_before_compact":$rowsBefore,"rows_after_compact":$rowsAfter,"purged":${rowsBefore - rowsAfter},"purge_exact":${rowsBefore - rowsAfter == nDeleted},"tombstones_kept":${tombAfter == nDeleted},"rows":$n1,"hash_masked":"$hash1","hash_purged":"$hash2","hash_post_resume":"$hash3","oracle_rows":$oN,"oracle_hash":"$oHash","post_resume_oracle_hash":"$oHash3","hash_match":${hash1 == oHash && hash2 == oHash && n1 == oN && n2 == oN},"post_resume_match":${hash3 == oHash3 && n3 == oN3},"cents_match":$centsMatch,"resume_rows":$resumeN,"post_resume_total":$totalAfterResume,"exact_resume":${totalAfterResume == rowsAfter + resumeN},$ivfCfg,"cpus":$cpus}"""
    }
  }

  // ---- the at-ingest dedup streams ----

  /** Run settings a modality's `start` reads. */
  private final case class Run(base: String, retain: Int, pruneEvery: Int,
                               minEst: Double) {
    def state: String = s"$base/state"
    def out: String = s"$base/out"
    def ckpt: String = s"$base/checkpoint"
  }

  /** One modality: its input columns, default microbatch size, how to
    * start it, how to read what it emitted, and its batch twin. */
  private final case class Modality(cols: Seq[String], filesPerTrigger: Int,
                                    start: (DataFrame, Run) => StreamingQuery,
                                    emitted: (SparkSession, String) => DataFrame,
                                    batchTwin: Option[DataFrame => DataFrame])

  private val textCols = Seq("doc_id", "text")

  private val modalities: Map[String, Modality] = Map(
    "neardup" -> Modality(textCols, 5,
      (d, r) => NearDupStream.start(d, r.state, r.out, r.ckpt, wide = true,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      NearDupStream.matches, None),
    "embed" -> Modality(Seq("vec_id", "embedding"), 1,
      (d, r) => EmbedDupStream.start(d, r.state, r.out, r.ckpt,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      EmbedDupStream.matches, None),
    "editdist" -> Modality(textCols, 1,
      (d, r) => EditDistStream.start(d, r.state, r.out, r.ckpt,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      EditDistStream.matches, None),
    "minhash" -> Modality(textCols, 5,
      (d, r) => MinHashDupStream.start(d, r.state, r.out, r.ckpt,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      MinHashDupStream.matches, Some(Dedup.minhashCandidatePairs(_))),
    "jaccard" -> Modality(textCols, 5,
      (d, r) => JaccardDupStream.start(d, r.state, r.out, r.ckpt,
        minEst = r.minEst, retainBatches = r.retain,
        pruneEvery = r.pruneEvery),
      JaccardDupStream.matches, Some(Dedup.minhashJaccardEstimate(_))),
    "substr" -> Modality(textCols, 5,
      (d, r) => SubstrDedupStream.start(d, r.state, r.out, r.ckpt,
        retainBatches = r.retain, pruneEvery = r.pruneEvery),
      SubstrDedupStream.spans, None))

  private def dup(name: String, m: Modality)(spark: SparkSession,
                                            args: Array[String]): String = {
    val run = Run(tmp("graft-dupbench"), args.lift(1).fold(0)(_.toInt),
      args.lift(2).fold(0)(_.toInt), args.lift(5).fold(0.0)(_.toDouble))
    val filesPerTrigger = args.lift(3).fold(m.filesPerTrigger)(_.toInt)
    val check = args.lift(4).contains("1")
    require(!check ||
      (run.retain == 0 && run.minEst == 0.0 && m.batchTwin.isDefined),
      "the batch-twin check needs full history, no threshold and a twin")
    def input(df: DataFrame) = df.select(m.cols.head, m.cols.tail: _*)
    val static = input(spark.read.parquet(args(0)))
    val nRows = static.count()
    val (q, wallSec) = timed {
      val q = m.start(input(spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toLong)
        .parquet(args(0))), run)
      once(q) // a file stream drains every available file
      q
    }
    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
      .map(p => (p.numInputRows,
        p.durationMs.get("triggerExecution").toLong / 1000.0))
    def rate(bs: Seq[(Long, Double)]): Long =
      if (bs.map(_._2).sum > 0) (bs.map(_._1).sum / bs.map(_._2).sum).round
      else 0L
    // steady state: the second half of the run, when the store holds most
    // of its history — the number that degrades if the store read grows
    // with the whole store
    val steady = rate(batches.drop(batches.length / 2))
    val emitted = m.emitted(spark, run.out).count()
    val twin = if (check) m.batchTwin.get(static).count() else -1L
    val perBatch = batches
      .map { case (r, s) => s"""{"rows":$r,"sec":${f"$s%.2f"}}""" }
      .mkString("[", ",", "]")
    s"""DUPSTREAMBENCH {"modality":"$name","rows":$nRows,""" +
      s""""batches":${batches.length},"retain_batches":${run.retain},""" +
      s""""min_est":${run.minEst},"rows_per_sec":${rate(batches)},""" +
      s""""steady_rows_per_sec":$steady,"exec_sec":${f"${batches.map(_._2).sum}%.1f"},""" +
      s""""wall_sec":${f"$wallSec%.1f"},"store_mb":${mb(run.state)},""" +
      s""""sidecar_mb":${mb(s"${run.state}.__bloom")},"emitted":$emitted,""" +
      s""""batch_twin":$twin,"curve":$perBatch,"cpus":$cpus}"""
  }

  /** Every target by name. */
  val targets: Map[String, Target] = Map(
    "guard" -> guard(expected = false) _,
    "guard-expected" -> guard(expected = true) _,
    "guard-ivf" -> guardIvf("run") _,
    "guard-ivf-expected" -> guardIvf("expected") _,
    "guard-ivf-crash" -> guardIvf("crash") _,
    "guard-ivf-crash-expected" -> guardIvf("expected") _,
    "guard-ivf-erase" -> guardIvf("erase") _,
    "guard-ivf-erase-expected" -> guardIvf("erase-expected") _,
    "ivf" -> ivf(expected = false) _,
    "ivf-expected" -> ivf(expected = true) _,
    "ivf-reindex" -> reindex(expected = false) _,
    "ivf-reindex-expected" -> reindex(expected = true) _,
    "ivf-delete" -> delete(expected = false) _,
    "ivf-delete-expected" -> delete(expected = true) _) ++
    modalities.map { case (name, m) => s"dup-$name" -> dup(name, m) _ }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && targets.contains(args(0)),
      s"usage: Cert <${targets.keys.toSeq.sorted.mkString("|")}> <dir> [args]")
    val spark = EngineConf.localSession("graft-cert")
      // the dup targets read their curve off the progress ledger, which
      // keeps 100 entries by default and would drop a long run's first
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(targets(args(0))(spark, args.tail)) finally spark.stop()
  }
}
