package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.{Engine, ReferencePipeline}
import graft.operators.{Cdc, Relational}
import graft.sources.Tables
import graft.streaming.LocalCheckpointFileManager

/** End-to-end topology test: the reference's whole statement file running
  * as named persistent queries, then pull-queried — SURVEY §3 EP2+EP3. */
class EngineSpec extends GraftSuite {
  import spark.implicits._

  test("reference pipeline: 4 named queries, consistent derived streams, pull query") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val upsertDir = java.nio.file.Files
      .createTempDirectory("graft-upsert-spec").toString
    val engine = ReferencePipeline.start(
      new Engine(spark), in.toDF(), Tables.customer(spark, sf), upsertDir)

    val rows = Tables.events(spark, sf).as[Event].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    in.addData(b1.toIndexedSeq); engine.processAllAvailable()
    in.addData(b2.toIndexedSeq); engine.processAllAvailable()

    // SHOW QUERIES: all four running
    assert(engine.showQueries.map(_._1) === Seq("ratings_live",
      "ratings_per_customer_per_15minute", "ratings_with_customer_data",
      "unhappy_platinum_customers"))
    assert(engine.showQueries.forall(_._2))

    // the readme invariants: live is the error-free subset; unhappy is the
    // filtered projection of enriched; enriched only has known customers
    val live = spark.table("ratings_live")
    assert(live.filter(lower(col("event_type")).contains("error")).count() === 0)
    val enriched = spark.table("ratings_with_customer_data")
    assert(enriched.filter(col("full_name").isNull).count() === 0)
    val unhappy = spark.table("unhappy_platinum_customers")
    assert(unhappy.count() ===
      enriched.filter(col("stars") < 3 && col("club_status") === "BUILDING").count())

    // EP3 pull query: point-in-time lookup over the materialized agg
    val name = enriched.select("full_name").first().getString(0)
    val pulled = engine.pullQuery(
      s"""SELECT * FROM ratings_per_customer_per_15minute
          WHERE full_name = '$name'
            AND window_start > TIMESTAMP '2024-01-01 00:00:00'""")
    assert(pulled.count() > 0)
    // the aggregate agrees with re-aggregating the enriched table
    val expectedTotal = enriched.filter(col("full_name") === name).count()
    val gotTotal = pulled.agg(sum("ratings_count")).first().getLong(0)
    assert(gotTotal === expectedTotal)

    // update-mode upsert materialization: the changelog holds per-batch
    // CHANGED rows only — later batches must not re-emit the whole table
    // (Complete mode would append >= the full table size every batch)
    val changelog = spark.read.parquet(s"$upsertDir/store")
    val tableSize = spark.table("ratings_per_customer_per_15minute").count()
    val firstBatch = changelog.agg(min("__batch_id")).first().getLong(0)
    val laterBatchRows = changelog.filter(col("__batch_id") > firstBatch).count()
    assert(laterBatchRows > 0, "second batch produced no changes")
    assert(laterBatchRows < tableSize,
      s"later batches appended $laterBatchRows rows vs table size $tableSize — " +
        "looks like full re-emission, not update-mode changes")
    // compacted view has no duplicate (window, customer) keys
    val dupKeys = spark.table("ratings_per_customer_per_15minute")
      .groupBy("window_start", "full_name").count().filter(col("count") > 1)
    assert(dupKeys.count() === 0)

    // DESCRIBE + terminate
    assert(engine.describe("ratings_live").contains("event_type"))
    engine.terminateAll()
    assert(engine.showQueries.isEmpty)
  }

  test("upsert changelog compaction bounds the store under sustained batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact-spec").toString
    val engine = new Engine(spark)
    // per-user running counts, compacted every 2 batches
    engine.createUpsertTableAs("compacted_counts",
      in.toDF().groupBy("user_id").agg(count(lit(1)).as("n")),
      Seq("user_id"), dir, compactEvery = 2)

    // 6 microbatches over the SAME small key set: uncompacted, the
    // changelog would hold ~6x the live rows
    val rows = Tables.events(spark, sf).as[Event].collect()
      .filter(_.user_id <= 20)
    for (chunk <- rows.grouped(math.max(1, rows.length / 6))) {
      in.addData(chunk.toIndexedSeq)
      engine.processAllAvailable()
    }

    val liveKeys = spark.table("compacted_counts").count()
    val changelogRows = spark.read.parquet(s"$dir/store").count()
    // bounded: at most live keys + the appends since the last compaction
    // (2 batches x live keys), nowhere near the 6x of an uncompacted log
    assert(changelogRows <= liveKeys * 3,
      s"changelog holds $changelogRows rows for $liveKeys live keys — " +
        "compaction did not bound the store")

    // pull results unchanged: the compacted view equals re-aggregating
    // the full input
    val expected = rows.groupBy(_.user_id).view.mapValues(_.length.toLong).toMap
    val got = spark.table("compacted_counts").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    engine.terminateAll()
  }

  test("table changelog push under mid-stream compaction re-emits only " +
    "latest-per-key (no stale resurrections, no missed keys)") {
    // Round-7 verdict item 6: `Engine.changelogStream`'s scaladoc claims a
    // mid-push retention compaction is benign under upsert semantics —
    // pin it. The compacted snapshot's files are NEW to the file-stream
    // reader, so compaction re-emits rows; those must be EXACTLY the
    // latest-per-key refinements.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val dir = java.nio.file.Files
      .createTempDirectory("graft-changelog-compact").toString
    val engine = new Engine(spark)
    val q = engine.createUpsertTableAs("push_compact_tab",
      in.toDF().toDF("key", "v").groupBy("key").agg(count(lit(1)).as("n")),
      Seq("key"), dir) // compactEvery = 0: the test triggers compaction itself
    in.addData((1L, 0L), (1L, 0L), (2L, 0L))
    engine.processAllAvailable()
    in.addData((1L, 0L))
    engine.processAllAvailable()
    // changelog now holds refinements (1→2), (2→1), (1→3) across batches

    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    val push = engine.changelogStream("push_compact_tab").get
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        seen.synchronized { seen += rows }; ()
      }
      .start()
    push.processAllAvailable()
    val preCompaction = seen.synchronized(seen.flatten.toVector)
    assert(preCompaction.toSet === Set((1L, 2L), (2L, 1L), (1L, 3L)),
      s"reader must replay the full changelog first: $preCompaction")
    val emittedBefore = seen.synchronized(seen.size)

    // mid-push retention compaction, exactly what createUpsertTableAs
    // runs on its compactEvery cadence
    graft.streaming.Streams.compactUpsertLog(spark, s"$dir/store", Seq("key"))
    push.processAllAvailable()
    val reEmitted = seen.synchronized(seen.drop(emittedBefore).flatten.toVector)
    assert(reEmitted.toSet === Set((1L, 3L), (2L, 1L)),
      s"compaction must re-emit latest-per-key only, got: $reEmitted")
    assert(!reEmitted.contains((1L, 2L)),
      "a superseded refinement must not resurrect")

    // updates after the compaction still flow (no missed keys / dead reader)
    val afterCompaction = seen.synchronized(seen.size)
    in.addData((2L, 0L))
    engine.processAllAvailable()
    push.processAllAvailable()
    val tail = seen.synchronized(seen.drop(afterCompaction).flatten.toVector)
    assert(tail.contains((2L, 2L)), s"post-compaction update lost: $tail")
    push.stop(); q.stop()
    engine.terminateAll()
  }

  test("CDC delete flows source connector -> ES sink end-to-end: " +
    "drop.tombstones=false pairs with behavior.on.null.values=delete") {
    // The reference's SMT chain (ksqldb-statements.sql:19-38) with the
    // two knobs Debezium documents for index-synchronized deletes: the
    // unwrap SMT passes tombstones through, the ES sink turns them into
    // bulk delete actions — a customer deleted in MySQL leaves the index.
    val dataDir = java.nio.file.Files
      .createTempDirectory("graft-cdc-del-src").toString
    val esDir = java.nio.file.Files
      .createTempDirectory("graft-cdc-del-es").toString
    val engine = new Engine(spark, connectorDataDir = dataDir,
      esTransport = _ => new graft.sinks.FileBulkTransport(esDir))
    engine.createSourceConnector("SOURCE_MYSQL_DEL", Map(
      "connector.class" -> "io.debezium.connector.mysql.MySqlConnector",
      "database.server.name" -> "asgard",
      "table.whitelist" -> "demo.customers",
      "transforms" -> "unwrap,extractkey",
      "transforms.unwrap.type" -> "io.debezium.transforms.ExtractNewRecordState",
      "transforms.unwrap.drop.tombstones" -> "false",
      "transforms.extractkey.type" ->
        "org.apache.kafka.connect.transforms.ExtractField$Key",
      "transforms.extractkey.field" -> "id"))
    engine.createSinkConnector("SINK_ES_DEL", Map(
      "connector.class" ->
        "io.confluent.connect.elasticsearch.ElasticsearchSinkConnector",
      "topics" -> "asgard.demo.customers",
      "connection.url" -> "http://elasticsearch:9200",
      "key.ignore" -> "false",
      "behavior.on.null.values" -> "delete"))
    try {
      // the "binlog": a create for user 5, then its delete, one file (=
      // one microbatch) each — Cdc.envelope derives op from event_id
      // (every 10th is a DELETE)
      val events = Seq(
        Event(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
          5L, "click", 4.0, "{}"),
        Event(10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:02"),
          5L, "click", 4.0, "{}")).toDF()
      val envelope = graft.operators.Cdc.envelope(events)
      val topicDir = s"$dataDir/asgard.demo.customers"
      envelope.filter(col("op") === "c")
        .write.mode("append").parquet(topicDir)
      engine.processAllAvailable()
      envelope.filter(col("op") === "d")
        .write.mode("append").parquet(topicDir)
      engine.processAllAvailable()
      val lines = java.nio.file.Files.list(java.nio.file.Paths.get(esDir))
        .iterator()
      val spooled = scala.jdk.CollectionConverters
        .IteratorHasAsScala(lines).asScala
        .flatMap(p => scala.jdk.CollectionConverters
          .ListHasAsScala(java.nio.file.Files.readAllLines(p)).asScala)
        .toSeq
      assert(spooled.exists(l => l.startsWith("""{"index"""") &&
        l.contains(""""_id":"5"""")), s"create must index doc 5: $spooled")
      assert(spooled.contains(
        """{"delete":{"_index":"asgard.demo.customers","_id":"5"}}"""),
        s"delete envelope must become a bulk delete: $spooled")
    } finally engine.terminateAll()
  }

  test("engine rejects duplicate query names") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val engine = new Engine(spark)
    engine.createStreamAs("dup_test", in.toDF())
    intercept[IllegalArgumentException] {
      engine.createStreamAs("dup_test", in.toDF())
    }
    engine.terminateAll()
  }

  test("one malformed view store surfaces its error without blocking " +
      "healthy views") {
    // round-13 advice made a corrupted backing store SURFACE instead of
    // silently serving empty; round-14 advice bounds the blast radius:
    // the error must not abort the refresh of every remaining healthy
    // view — refresh them all, then rethrow with the failures aggregated
    val engine = new Engine(spark)
    engine.registerView("healthy_v", () => spark.range(3).toDF("n"))
    engine.registerView("broken_v", () => throw new IllegalStateException(
      "histogram store marker mismatch (simulated corruption)"))
    val e = intercept[IllegalStateException] {
      engine.pullQuery("SELECT * FROM healthy_v")
    }
    assert(e.getMessage.contains("broken_v"), e.getMessage)
    assert(spark.sql("SELECT count(*) AS c FROM healthy_v")
      .head().getLong(0) === 3L,
      "the healthy view must have been refreshed before the rethrow")
    engine.terminateAll()
  }

  test("sink connector over an upsert TABLE streams its changelog to ES: " +
    "the index mirrors latest-per-key") {
    // ksqlDB's table->ES pattern: the connector attaches to the TABLE's
    // changelog topic; key.ignore=false + _id-keyed upserts make the
    // INDEX the materialized view (each refinement overwrites its doc).
    implicit val sqlCtx = spark.sqlContext
    OrderedBulkTransport.clear()
    val in = MemoryStream[(Long, Long)]
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tab-sink").toString
    val engine = new Engine(spark,
      esTransport = _ => new OrderedBulkTransport)
    val q = engine.createUpsertTableAs("mirror_tab",
      in.toDF().toDF("k", "v").groupBy("k").agg(count(lit(1)).as("n")),
      Seq("k"), dir)
    in.addData((1L, 0L), (2L, 0L))
    engine.processAllAvailable()
    // the table must have data before it resolves as a topic (same as a
    // not-yet-created Kafka topic)
    engine.createSinkConnector("SINK_ES_TABLE", Map(
      "connector.class" ->
        "io.confluent.connect.elasticsearch.ElasticsearchSinkConnector",
      "topics" -> "mirror_tab",
      "connection.url" -> "http://elasticsearch:9200",
      "key.ignore" -> "false"))
    engine.processAllAvailable()
    in.addData((1L, 0L)) // k=1 refines to n=2 -> changelog append -> re-sink
    engine.processAllAvailable()
    q.stop()
    // apply entries in arrival order (per-key order holds: one action per
    // key per microbatch, microbatches sequential)
    val index = scala.collection.mutable.Map[String, String]()
    OrderedBulkTransport.entries.forEach { e =>
      val id = e.split(""""_id":"""")(1).takeWhile(_ != '"')
      index(id) = e.split("\n", 2)(1)
    }
    engine.terminateAll()
    assert(index.keySet === Set("1", "2"),
      s"index must hold one doc per table key: $index")
    assert(index("1").contains(""""n":2"""),
      s"refinement must overwrite the doc: ${index("1")}")
    assert(index("2").contains(""""n":1"""))
  }

  // ------------------------------------------------------------------- //
  // Backlog admission of the connector's file-backed topic: a backlog
  // that arrived between triggers drains in one scan wave, not one
  // microbatch per file.
  // ------------------------------------------------------------------- //

  private val RatingsTopic = "asgard.demo.ratings"
  private val RatingsTable = "ratings_backlog_15min"
  private val WindowKeys = Seq("window_start", "full_name")
  private val Digest = Seq("COUNT(*) AS n", "SUM(CAST(xxhash64(window_start, " +
    "full_name, ratings_count, ratings) AS DECIMAL(38,0))) AS h")

  /** Source-connector rows in the events shape the relational operators
    * take. */
  private def asEvents(topic: DataFrame): DataFrame = topic.select(
    col("id").as("event_id"), timestamp_millis(col("ts_ms")).as("ts"),
    col("user_id"), col("event_type"), col("value"), col("props"))

  private def windowed(topic: DataFrame): DataFrame =
    Relational.ratingsPerCustomerPer15Min(Relational.enriched(
      Relational.eventsLive(asEvents(topic)), Tables.customer(spark, sf)))

  /** The events fixture as CDC envelopes, one parquet file per
    * `offset % 3`, all written before any query starts. Returns the
    * topic directory's parquet files. */
  private def writeBacklog(dataDir: String): Seq[java.io.File] = {
    val topicDir = s"$dataDir/$RatingsTopic"
    val envelope = Cdc.envelope(Tables.events(spark, sf))
    (0 until 3).foreach { c =>
      envelope.filter(pmod(col("offset"), lit(3)) === c).coalesce(1)
        .write.mode("append").parquet(topicDir)
    }
    new java.io.File(topicDir).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
  }

  private def startSource(engine: Engine): Unit = {
    engine.createSourceConnector("SOURCE_RATINGS", Map(
      "connector.class" -> "io.debezium.connector.mysql.MySqlConnector",
      "database.server.name" -> "asgard",
      "table.whitelist" -> "demo.ratings",
      "transforms" -> "unwrap",
      "transforms.unwrap.type" ->
        "io.debezium.transforms.ExtractNewRecordState"))
    ()
  }

  private def startTable(engine: Engine, tableDir: String): StreamingQuery =
    engine.createUpsertTableAs(RatingsTable,
      windowed(engine.topicStream(RatingsTopic).get), WindowKeys, tableDir)

  /** The EP2 shape over the connector's topic: a keyed ES sink (one doc
    * per event id) and the 15-minute windowed upsert table. Returns every
    * query it started, the table's last. */
  private def startRatings(engine: Engine, tableDir: String): Seq[StreamingQuery] = {
    val before = spark.streams.active.map(_.id).toSet
    startSource(engine)
    engine.registerTopic("ratings_keyed", engine.topicStream(RatingsTopic).get
      .withColumn("key", col("id").cast("string")))
    engine.createSinkConnector("SINK_ES_KEYED", Map(
      "connector.class" ->
        "io.confluent.connect.elasticsearch.ElasticsearchSinkConnector",
      "topics" -> "ratings_keyed",
      "connection.url" -> "http://elasticsearch:9200",
      "key.ignore" -> "false"))
    val sinks = spark.streams.active.filterNot(q => before(q.id)).toSeq
    sinks :+ startTable(engine, tableDir)
  }

  /** (batch id, input rows) of every microbatch that read input. */
  private def inputBatches(q: StreamingQuery): Seq[(Long, Long)] =
    q.recentProgress.filter(_.numInputRows > 0)
      .map(p => p.batchId -> p.numInputRows).toSeq.distinct

  private def tableDigest(engine: Engine): Seq[Row] =
    engine.pullQuery(s"SELECT ${Digest.mkString(", ")} FROM $RatingsTable")
      .collect().toSeq

  private def batchDigest(dataDir: String): Seq[Row] =
    windowed(Cdc.unwrap(spark.read.schema(Engine.cdcEnvelopeSchema(spark))
      .parquet(s"$dataDir/$RatingsTopic"))).selectExpr(Digest: _*)
      .collect().toSeq

  /** Event ids the keyed sink indexed, one entry per received doc. */
  private def keyedIds(): Seq[Long] = {
    val ids = Seq.newBuilder[Long]
    OrderedBulkTransport.entries.forEach { e =>
      ids += e.split(""""_id":"""")(1).takeWhile(_ != '"').toLong
    }
    ids.result().sorted
  }

  private def liveIds(): Seq[Long] = Cdc.envelope(Tables.events(spark, sf))
    .filter(col("op") =!= "d").select("offset").as[Long].collect()
    .toSeq.sorted

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Hidden files under a checkpoint: Hadoop's `.<name>.crc` checksums,
    * which only Spark's default manager writes, and `.tmp` leftovers. */
  private def hiddenFiles(checkpoint: String): List[String] = {
    val all = java.nio.file.Files.walk(java.nio.file.Paths.get(checkpoint))
    try scala.jdk.CollectionConverters.IteratorHasAsScala(all.iterator)
      .asScala.map(_.getFileName.toString).filter(_.startsWith(".")).toList
    finally all.close()
  }

  test("source connector drains a 3-file backlog in one microbatch per " +
    "query; the bound follows maxPartitionBytes and admits an oversized " +
    "file alone") {
    def drainBacklog(): (Seq[java.io.File], Seq[Seq[(Long, Long)]]) = {
      OrderedBulkTransport.clear()
      val dataDir = tmpDir("graft-backlog-src")
      val files = writeBacklog(dataDir)
      val engine = new Engine(spark, connectorDataDir = dataDir,
        esTransport = _ => new OrderedBulkTransport)
      try {
        val qs = startRatings(engine, tmpDir("graft-backlog-tab"))
        assert(qs.size === 2)
        engine.processAllAvailable()
        assert(keyedIds() === liveIds(),
          "the keyed sink must index every live doc exactly once")
        assert(tableDigest(engine) === batchDigest(dataDir))
        (files, qs.map(inputBatches))
      } finally engine.terminateAll()
    }

    val (files, batches) = drainBacklog()
    assert(files.size === 3)
    batches.foreach { b =>
      assert(b.size === 1, s"one scan wave must take the whole backlog: $b")
    }

    // a session bound below one file's size: every file exceeds the wave
    // and is still admitted, alone
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    val wave = files.map(_.length).min / 2
    spark.conf.set(key, math.max(1L, wave / spark.sparkContext.defaultParallelism))
    val (_, small) = try drainBacklog()
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    small.foreach { b =>
      assert(b.size === 3, s"each oversized file must be its own batch: $b")
    }
  }

  test("a crashed multi-file batch replays the same files in one batch " +
    "to the same table") {
    val dataDir = tmpDir("graft-backlog-crash-src")
    val tableDir = tmpDir("graft-backlog-crash-tab")
    writeBacklog(dataDir)
    val first = new Engine(spark, connectorDataDir = dataDir)
    val (cleanBatches, clean) = try {
      val table = startRatings(first, tableDir).last
      first.processAllAvailable()
      (inputBatches(table), tableDigest(first))
    } finally first.terminateAll()
    assert(cleanBatches.size === 1 && cleanBatches.head._1 === 0L,
      s"the clean run must take the backlog as batch 0: $cleanBatches")
    assert(hiddenFiles(s"$tableDir/checkpoint") === Nil,
      "the engine's checkpoint manager writes no checksum and no leftover")

    // the crash: batch 0's offsets are logged, its commit never landed
    val fs = new Path(tableDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$tableDir/checkpoint/offsets/0")))
    assert(fs.delete(new Path(s"$tableDir/checkpoint/commits/0"), false),
      "batch 0 was not committed by the clean run")

    val restarted = new Engine(spark, connectorDataDir = dataDir)
    try {
      startSource(restarted)
      val q = startTable(restarted, tableDir)
      restarted.processAllAvailable()
      assert(inputBatches(q) === cleanBatches,
        "the replay must re-read the same files as one batch")
      assert(tableDigest(restarted) === clean)
      assert(clean === batchDigest(dataDir))
    } finally restarted.terminateAll()
  }

  test("a crashed checkpoint written under Spark's default manager " +
    "resumes under the engine's, past leftover temp files") {
    val dataDir = tmpDir("graft-backlog-mgr-src")
    val tableDir = tmpDir("graft-backlog-mgr-tab")
    val checkpoint = s"$tableDir/checkpoint"
    writeBacklog(dataDir)
    val key = LocalCheckpointFileManager.ConfKey
    val engineManager = spark.conf.get(key)
    spark.conf.unset(key)
    val first = new Engine(spark, connectorDataDir = dataDir)
    val clean = try {
      startRatings(first, tableDir)
      first.processAllAvailable()
      tableDigest(first)
    } finally {
      first.terminateAll()
      spark.conf.set(key, engineManager)
    }
    def file(name: String) = new java.io.File(s"$checkpoint/$name")
    assert(file("offsets/.0.crc").exists,
      "the first run must write through Spark's default manager")

    // the crash: batch 0's commit never landed, and a writer died while
    // writing batch 1's offset and commit entries
    assert(file("commits/0").delete() && file("commits/.0.crc").delete())
    val leftovers = Seq("offsets", "commits").map(d =>
      file(s"$d/.1.${java.util.UUID.randomUUID}.tmp"))
    leftovers.foreach(f => java.nio.file.Files.writeString(f.toPath, "torn"))

    val restarted = new Engine(spark, connectorDataDir = dataDir)
    try {
      startSource(restarted)
      val q = startTable(restarted, tableDir)
      restarted.processAllAvailable()
      assert(inputBatches(q).map(_._1) === Seq(0L),
        "the replay must re-run batch 0 and find no batch 1")
      assert(tableDigest(restarted) === clean)
      assert(clean === batchDigest(dataDir))
    } finally restarted.terminateAll()
    assert(file("commits/0").exists && !file("commits/.0.crc").exists,
      "the replayed commit must be written by the engine's manager")
  }

  test("a keyed sink over a 2-file backlog that updates one key in both " +
    "files indexes only the newer image") {
    OrderedBulkTransport.clear()
    val engine = new Engine(spark,
      connectorDataDir = tmpDir("graft-backlog-key-src"),
      esTransport = _ => new OrderedBulkTransport)
    try {
      startSource(engine)
      val cols = Seq("key", "id", "user_id", "event_type", "value", "ts_ms",
        "offset")
      // file 1 holds the older image of keys 7 and 8, file 2 the newer;
      // key 8's two images share ts_ms, so the binlog offset decides
      engine.insertInto(RatingsTopic, cols, Seq("7", 1L, 7L, "click", 1.0, 1000L, 1L))
      engine.insertInto(RatingsTopic, cols, Seq("8", 3L, 8L, "click", 1.0, 3000L, 3L))
      engine.insertInto(RatingsTopic, cols, Seq("7", 2L, 7L, "click", 5.0, 2000L, 2L))
      engine.insertInto(RatingsTopic, cols, Seq("8", 4L, 8L, "click", 5.0, 3000L, 4L))
      val before = spark.streams.active.map(_.id).toSet
      engine.createSinkConnector("SINK_ES_RATINGS", Map(
        "connector.class" ->
          "io.confluent.connect.elasticsearch.ElasticsearchSinkConnector",
        "topics" -> RatingsTopic,
        "connection.url" -> "http://elasticsearch:9200",
        "key.ignore" -> "false"))
      val sink = spark.streams.active.filterNot(q => before(q.id)).head
      engine.processAllAvailable()
      assert(inputBatches(sink).map(_._1) === Seq(0L),
        "the backlog must reach the sink as one batch")
      val docs = Seq.newBuilder[(String, String)]
      OrderedBulkTransport.entries.forEach { e =>
        docs += e.split(""""_id":"""")(1).takeWhile(_ != '"') ->
          e.split("\n", 2)(1)
      }
      val byId = docs.result().groupMap(_._1)(_._2)
      assert(byId.keySet === Set("7", "8"))
      byId.foreach { case (k, d) =>
        assert(d.size === 1, s"key $k must go out once per batch: $d")
        assert(d.head.contains(""""value":5.0"""),
          s"key $k must keep its newer image: $d")
      }
    } finally engine.terminateAll()
  }

  test("a keyed sink over a table changelog backlog that refines keys " +
    "indexes each key once, with its newest row and no __batch_id") {
    implicit val sqlCtx = spark.sqlContext
    OrderedBulkTransport.clear()
    val in = MemoryStream[(Long, Long)]
    val engine = new Engine(spark,
      esTransport = _ => new OrderedBulkTransport)
    try {
      engine.createUpsertTableAs("refined_tab",
        in.toDF().toDF("k", "v").groupBy("k").agg(count(lit(1)).as("n")),
        Seq("k"), tmpDir("graft-tab-refine"))
      // two table batches: the changelog holds (1→1, 2→1, 3→1), then the
      // refinements (1→3, 2→2)
      in.addData((1L, 0L), (2L, 0L), (3L, 0L))
      engine.processAllAvailable()
      in.addData((1L, 0L), (1L, 0L), (2L, 0L))
      engine.processAllAvailable()
      val before = spark.streams.active.map(_.id).toSet
      engine.createSinkConnector("SINK_ES_REFINED", Map(
        "connector.class" ->
          "io.confluent.connect.elasticsearch.ElasticsearchSinkConnector",
        "topics" -> "refined_tab",
        "connection.url" -> "http://elasticsearch:9200",
        "key.ignore" -> "false"))
      val sink = spark.streams.active.filterNot(q => before(q.id)).head
      engine.processAllAvailable()
      assert(inputBatches(sink).map(_._1) === Seq(0L),
        "the changelog backlog must reach the sink as one batch")
      val docs = Seq.newBuilder[(String, String)]
      OrderedBulkTransport.entries.forEach { e =>
        docs += e.split(""""_id":"""")(1).takeWhile(_ != '"') ->
          e.split("\n", 2)(1)
      }
      val byId = docs.result().groupMap(_._1)(_._2)
      val newest = Map("1" -> 3, "2" -> 2, "3" -> 1)
      assert(byId.keySet === newest.keySet)
      byId.foreach { case (k, d) =>
        assert(d.size === 1, s"key $k must go out once: $d")
        assert(d.head.contains(s""""n":${newest(k)}"""),
          s"key $k must keep its newest row: $d")
        assert(!d.head.contains("__batch_id"), s"doc carries __batch_id: $d")
      }
    } finally engine.terminateAll()
  }
}

/** Test transport recording bulk entries in arrival order in a JVM-shared
  * buffer (local mode: executors share the JVM) — lets specs assert
  * per-key overwrite order, which a spool of randomly-named files can't. */
class OrderedBulkTransport extends graft.sinks.BulkTransport {
  def send(lines: Iterator[String]): Unit =
    lines.foreach(OrderedBulkTransport.entries.add)
}
object OrderedBulkTransport {
  val entries = new java.util.concurrent.CopyOnWriteArrayList[String]()
  def clear(): Unit = entries.clear()
}
