package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Engine, RestServer}
import graft.operators.Relational
import graft.sinks.BulkTransport
import graft.sources.Tables

/** What the two ES sink connectors received. A JVM-wide singleton: the
  * transports run inside executor tasks, which in local mode share this
  * JVM, so every task writes straight into it. */
object SinkLog {
  @volatile var arrivals: Array[Double] = Array.emptyDoubleArray
  @volatile var counts: AtomicIntegerArray = new AtomicIntegerArray(0)
  val unhappy = new AtomicLong(0)
  val strays = new AtomicLong(0)
  val malformed = new AtomicLong(0)

  def reset(maxId: Int): Unit = {
    arrivals = new Array[Double](maxId + 1)
    counts = new AtomicIntegerArray(maxId + 1)
    unhappy.set(0); strays.set(0); malformed.set(0)
  }

  /** One `_bulk` request: entries of one action line and its doc line. */
  def receive(kind: String, payload: Array[String], n: Int, now: Double): Unit = {
    var i = 0
    while (i < n) {
      val entry = payload(i)
      val nl = entry.indexOf('\n')
      if (nl < 0 || !entry.startsWith("{\"index\"") || nl + 1 >= entry.length)
        malformed.incrementAndGet()
      else if (kind == "keyed") {
        val k = entry.indexOf("\"_id\":\"")
        val id = if (k < 0 || k > nl) -1L
          else entry.substring(k + 7, entry.indexOf('"', k + 7)).toLongOption.getOrElse(-1L)
        if (id <= 0 || id >= counts.length()) strays.incrementAndGet()
        else { arrivals(id.toInt) = now; counts.incrementAndGet(id.toInt) }
      } else unhappy.incrementAndGet()
      i += 1
    }
  }
}

/** The benchmark-owned `_bulk` transport: batches each partition's lines
  * into requests of at most 4 MiB and hands each request to [[SinkLog]] —
  * a loopback stand-in for Elasticsearch that records when each doc
  * arrived. */
final class BenchTransport(kind: String) extends BulkTransport {
  private val MaxBytes = 4 << 20

  def send(lines: Iterator[String]): Unit = {
    val task = Option(TaskContext.get()).map(t => s"task:${t.taskAttemptId()}")
    Trace.span("sinks", "send", kind, parent = task) {
      val buf = new Array[String](1 << 16)
      var n = 0
      var bytes = 0L
      var renderMs = 0.0
      def flush(): Unit = if (n > 0) {
        val t0 = Trace.nowMs
        SinkLog.receive(kind, buf, n, t0)
        if (Trace.on) {
          Trace.add("sinks.request_ms", Trace.nowMs - t0)
          Trace.add("sinks.requests", 1)
          Trace.add("sinks.bulk_bytes", bytes.toDouble)
          Trace.add("sinks.docs", n.toDouble)
        }
        n = 0; bytes = 0
      }
      var t = if (Trace.on) Trace.nowMs else 0.0
      while (lines.hasNext) {
        val l = lines.next()
        buf(n) = l; n += 1; bytes += l.length + 1
        if (bytes >= MaxBytes || n == buf.length) {
          if (Trace.on) renderMs += Trace.nowMs - t
          flush()
          if (Trace.on) t = Trace.nowMs
        }
      }
      if (Trace.on) { renderMs += Trace.nowMs - t; Trace.add("sinks.render_ms", renderMs) }
      flush()
    }
  }
}

/** An [[Engine]] whose pull path is timed. A pull names the client span
  * it serves in an SQL comment, so the server-side spans join the
  * client's round trip. */
final class TimedEngine(spark: SparkSession, dir: String,
                        transport: String => BulkTransport)
    extends Engine(spark, dir, transport) {
  private val SpanRe = "/\\* (span:\\d+) \\*/".r
  override def pullQuery(sql: String): DataFrame = {
    val parent = SpanRe.findFirstMatchIn(sql).map(_.group(1))
    val df = Trace.span("api", "pullQuery", parent = parent) { super.pullQuery(sql) }
    // the server collects right after this returns, on this thread
    parent.foreach(p => spark.sparkContext.setLocalProperty(Trace.SpanProp, p))
    df
  }
}

/** The reference's EP2 topology, built through the engine's connector
  * surface: CDC source connector → live filter → customer enrichment →
  * keyed ES sink + auto-id ES sink on the unhappy stream + the 15-minute
  * windowed upsert table that pull queries read. */
final class Topology(spark: SparkSession, inputs: String, dir: String) {
  val Topic = "mysql.demo.ratings"
  val Table = "ratings_per_customer_per_15minute"
  val engine = new TimedEngine(spark, s"$dir/connect",
    url => new BenchTransport(if (url.contains("keyed")) "keyed" else "unhappy"))
  val sourceDir = s"${engine.connectorDataDir}/$Topic"
  val upsertDir = s"$dir/upsert"

  Trace.span("api", "createSourceConnector") {
    engine.createSourceConnector("mysql_source", Map(
      "connector.class" -> "io.debezium.connector.mysql.MySqlConnector",
      "database.server.name" -> "mysql",
      "table.whitelist" -> "demo.ratings",
      "transforms" -> "unwrap",
      "transforms.unwrap.type" -> "io.debezium.transforms.ExtractNewRecordState"))
  }
  private val customers = Trace.span("sources", "Tables.customer") {
    Tables.customer(spark, inputs)
  }
  private val enriched = Trace.span("operators", "Relational.enriched") {
    Relational.enriched(Relational.eventsLive(Topology.asEvents(
      engine.topicStream(Topic).get)), customers)
  }
  Trace.span("api", "registerTopic") {
    engine.registerTopic("ratings_with_customer_data",
      enriched.withColumn("key", col("rating_id").cast("string")))
    engine.registerTopic("unhappy_platinum_customers",
      Relational.unhappyPlatinum(enriched))
  }
  Trace.span("api", "createSinkConnector") {
    engine.createSinkConnector("es_ratings", Map(
      "connector.class" -> "io.confluent.connect.elasticsearch.ElasticsearchSinkConnector",
      "topics" -> "ratings_with_customer_data", "key.ignore" -> "false",
      "connection.url" -> "http://keyed.loopback"))
    engine.createSinkConnector("es_unhappy", Map(
      "connector.class" -> "io.confluent.connect.elasticsearch.ElasticsearchSinkConnector",
      "topics" -> "unhappy_platinum_customers", "key.ignore" -> "true",
      "connection.url" -> "http://unhappy.loopback"))
  }
  Trace.span("api", "createUpsertTableAs") {
    engine.createUpsertTableAs(Table, Relational.ratingsPerCustomerPer15Min(enriched),
      Seq("window_start", "full_name"), upsertDir)
  }

  /** Block until every query of this topology has processed all released
    * files. */
  def drain(): Unit = spark.streams.active.foreach { q =>
    q.processAllAvailable()
    q.exception.foreach(e => throw e)
  }

  def stop(): Unit = engine.terminateAll()

  /** The windowed table recomputed in batch over every released file. */
  def batchWindowTable(): DataFrame =
    Relational.ratingsPerCustomerPer15Min(Relational.enriched(
      Relational.eventsLive(Topology.asEvents(Topology.unwrapped(
        spark.read.schema(Engine.cdcEnvelopeSchema(spark)).parquet(sourceDir)))),
      Tables.customer(spark, inputs)))
}

object Topology {
  /** Source-connector rows (after-image + envelope fields) in the events
    * shape the relational operators take. */
  def asEvents(topic: DataFrame): DataFrame = topic.select(
    col("id").as("event_id"), timestamp_millis(col("ts_ms")).as("ts"),
    col("user_id"), col("event_type"), col("value"), col("props"))

  /** `ExtractNewRecordState` in batch, as the source connector applies it. */
  def unwrapped(envelope: DataFrame): DataFrame =
    envelope.filter(col("op") =!= "d").select(col("after.*"), col("ts_ms"))
}

/** Pre-generated CDC files and the release schedule. Files move into the
  * source directory by atomic rename; each release time is kept by file
  * so a doc's latency is found from its id alone. */
final class Releases(inputs: String, manifest: Manifest) {
  val files: IndexedSeq[Manifest.CdcFile] = manifest.files
  private val released = new Array[Double](files.size)
  private val perDir = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  @volatile var lateMsMax = 0.0

  /** Release file `i` into `targetDir`; its latency clock starts at `due`
    * (the scheduled time in the open loop), else at the rename. */
  def release(i: Int, targetDir: String, due: Double = Double.NaN): Unit = {
    val f = files(i)
    val src = Paths.get(inputs, "staged", f.name)
    val tmp = Paths.get(targetDir, s".${f.name}.tmp")
    val dst = Paths.get(targetDir, f.name)
    // copy beside the target, then rename: the source only ever sees
    // whole files (the staged copy stays for a later setup round)
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    released(i) = if (due.isNaN) Trace.nowMs else due
    // the lag reference: files released into the live topology's source
    Lag.released = perDir.getOrElseUpdate(targetDir, new AtomicLong).incrementAndGet()
  }

  /** Release `idx` on a fixed schedule from `t0` every `periodMs`, on one
    * thread — open loop: the schedule never waits for the engine, and a
    * doc's latency counts from when its file was due, so a stalled
    * generator cannot hide a wait. */
  def openLoop(idx: Seq[Int], targetDir: String, periodMs: Double): Thread = {
    val t = new Thread(() => {
      val t0 = Trace.nowMs
      idx.zipWithIndex.foreach { case (i, k) =>
        val due = t0 + k * periodMs
        val wait = due - Trace.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        lateMsMax = math.max(lateMsMax, Trace.nowMs - due)
        release(i, targetDir, due)
      }
    }, "perfbench-release")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Release-to-arrival latency of every keyed doc of files `idx`. */
  def latencies(idx: Seq[Int]): Seq[Double] = idx.flatMap { i =>
    val f = files(i)
    val rel = released(i)
    (f.idLo to f.idHi).iterator.filter(id => SinkLog.counts.get(id) > 0)
      .map(id => SinkLog.arrivals(id) - rel).toSeq
  }
}

object Ep2 {
  val SetupRounds = 3
  val WarmRounds = 2

  /** Build the topology [[SetupRounds]] times, each time up to its first
    * completed micro-batch (a warm file), and keep the last one. Returns
    * the kept topology, its released warm file and every set-up time. In a
    * traced run the last set-up is traced (the connector calls). */
  def setUp(spark: SparkSession, inputs: String, work: String, rel: Releases,
            traced: Boolean, res: Result): (Topology, Int, Seq[Double]) = {
    val warm = rel.files.indices.filter(i => rel.files(i).role == "warm")
    var kept: Topology = null
    val times = warm.take(SetupRounds).zipWithIndex.map { case (w, k) =>
      if (kept != null) { kept.stop(); SinkLog.reset(rel.files.last.idHi) }
      val tracedRound = traced && k == SetupRounds - 1
      Trace.on = tracedRound
      val t0 = Trace.nowMs
      def once(): Unit = {
        kept = new Topology(spark, inputs, s"$work/setup$k")
        rel.release(w, kept.sourceDir)
        kept.drain()
      }
      if (tracedRound) Trace.window(once()) else once()
      val dt = (Trace.nowMs - t0) / 1000.0
      if (tracedRound) Trace.drain(spark)
      Trace.on = false
      Main.log(f"set-up $k: $dt%.3f s")
      if (k == 0) res.perLayer("setup.jvm_to_first_op_s",
        (Trace.nowMs - Main.jvmStartMs) / 1000.0, "s")
      dt
    }
    (kept, warm(times.size - 1), times)
  }

  /** The correctness gate of the EP2 workload. */
  def verify(spark: SparkSession, topo: Topology, rel: Releases,
             releasedIdx: Seq[Int], traced: Boolean, res: Result): Unit = {
    val expectKeyed = releasedIdx.map(i => rel.files(i).keyed.toLong).sum
    val expectUnhappy = releasedIdx.map(i => rel.files(i).unhappy.toLong).sum
    var distinct = 0L
    var dups = 0L
    releasedIdx.foreach { i =>
      val f = rel.files(i)
      (f.idLo to f.idHi).foreach { id =>
        val c = SinkLog.counts.get(id)
        if (c > 0) distinct += 1
        if (c > 1) dups += c - 1
      }
    }
    res.attempted += expectKeyed + expectUnhappy
    res.failed += math.abs(expectKeyed - distinct) + dups +
      math.abs(expectUnhappy - SinkLog.unhappy.get) + SinkLog.strays.get
    res.check(distinct == expectKeyed,
      s"keyed index holds $distinct distinct docs, expected $expectKeyed")
    res.check(dups == 0, s"keyed index received $dups duplicate docs")
    res.check(SinkLog.strays.get == 0, s"${SinkLog.strays.get} docs with unknown _id")
    res.check(SinkLog.malformed.get == 0, s"${SinkLog.malformed.get} malformed bulk lines")
    res.check(SinkLog.unhappy.get == expectUnhappy,
      s"unhappy index holds ${SinkLog.unhappy.get} docs, expected $expectUnhappy")
    // the final pull goes over REST, as a client would read the table: an
    // order-free digest (row count, sum of row hashes) of the whole table
    val digest = "COUNT(*) AS n, SUM(CAST(xxhash64(window_start, full_name, " +
      "ratings_count, ratings) AS DECIMAL(38,0))) AS h"
    val server = new RestServer(topo.engine).start()
    Trace.on = traced
    val pulled = try Trace.window {
      Pulls.post(s"http://127.0.0.1:${server.boundPort}/query",
        s"SELECT $digest FROM ${topo.Table}", "verify")
    } finally server.stop()
    if (traced) Trace.drain(spark)
    Trace.on = false
    topo.batchWindowTable().createOrReplaceTempView("perfbench_batch_window")
    val batch = spark.sql(s"SELECT $digest FROM perfbench_batch_window").toJSON.collect()
      .mkString("[", ",", "]")
    res.check(pulled == (200, batch),
      s"windowed table pulled over REST $pulled differs from its batch recomputation $batch")
  }

  /** ep2_ingest: phase A drains pre-staged backlogs (throughput), phase B
    * releases files open loop at a fixed rate (latency). */
  def ingest(spark: SparkSession, inputs: String, work: String, seconds: Double,
             traced: Boolean, manifest: Manifest, res: Result): Unit = {
    val rel = new Releases(inputs, manifest)
    SinkLog.reset(rel.files.last.idHi)
    val (topo, warm, setups) = setUp(spark, inputs, work, rel, traced, res)
    res.metric("setup_s", Stats.median(setups), "s")
    val backlogs = rel.files.indices.filter(i => rel.files(i).role == "A")
      .groupBy(i => rel.files(i).round).toSeq.sortBy(_._1).map(_._2)
    // untimed rounds first: the first backlog-sized batches pay for code
    // generation and JIT that later rounds do not (round times fall over
    // the first rounds, then level off)
    val (warmRounds, measured) = backlogs.splitAt(WarmRounds)
    warmRounds.foreach { b => b.foreach(rel.release(_, topo.sourceDir)); topo.drain() }
    val warmRound = warmRounds.flatten
    val open = rel.files.indices.filter(i => rel.files(i).role == "B")
    val phaseA = seconds * manifest.phaseAShare
    val start = Trace.nowMs
    val rounds = mutable.ArrayBuffer.empty[(Boolean, Double, Long)]
    val releasedIdx = mutable.ArrayBuffer(warm) ++ warmRound
    // phase A: each round releases one backlog at once and waits for the
    // whole topology to drain it; in a traced run rounds alternate
    // untraced / traced so the tracing overhead is measured on like work
    measured.iterator.takeWhile(_ => rounds.size < 2 || Trace.nowMs - start < phaseA * 1000)
      .foreach { b =>
        val tracedRound = traced && rounds.size % 2 == 1
        Trace.on = tracedRound
        val t0 = Trace.nowMs
        def once(): Unit = { b.foreach(rel.release(_, topo.sourceDir)); topo.drain() }
        if (tracedRound) Trace.window(once()) else once()
        val dt = Trace.nowMs - t0
        if (tracedRound) Trace.drain(spark)
        Trace.on = false
        releasedIdx ++= b
        rounds += ((tracedRound, dt, b.map(i => rel.files(i).rows.toLong).sum))
      }
    Main.log(s"phase A: ${rounds.map(r => f"${r._2}%.0f").mkString(" ")} ms")
    val plain = rounds.filter(!_._1)
    res.metric("throughput_per_s", Stats.median(plain.map(r => r._3 / (r._2 / 1000))), "1/s")
    // phase B: open loop, traced as a whole in a traced run
    Trace.on = traced
    Trace.window {
      rel.openLoop(open, topo.sourceDir, manifest.periodMs).join()
      topo.drain()
    }
    if (traced) Trace.drain(spark)
    Trace.on = false
    releasedIdx ++= open
    Main.log("phase B done")
    val lat = rel.latencies(open)
    res.perLayer("latency_p50_ms", Stats.pct(lat, 50), "ms")
    res.perLayer("latency_p95_ms", Stats.pct(lat, 95), "ms")
    res.perLayer("ingest.latency_p99_ms", Stats.pct(lat, 99), "ms")
    res.evidence("latency_samples") = s"${lat.size} docs in ${open.size} files"
    res.perLayer("gen.late_ms_max", rel.lateMsMax, "ms")
    res.perLayer("sources.lag_files_max", Trace.maximum("sources.lag_files"), "count")
    if (traced) {
      val t = rounds.filter(_._1).map(_._2)
      res.perLayer("trace.overhead_pct",
        100 * (Stats.median(t) / Stats.median(plain.map(_._2)) - 1), "%")
    }
    res.evidence("phase_a_rounds") = plain.size.toString
    res.evidence("phase_b_files") = open.size.toString
    verify(spark, topo, rel, releasedIdx.toSeq, traced, res)
    Main.log("verified")
    upsertFiles(topo, res)
    topo.stop()
  }

  def upsertFiles(topo: Topology, res: Result): Unit = {
    val store = Paths.get(s"${topo.upsertDir}/store")
    val n = if (Files.exists(store))
      Files.walk(store).filter(_.toString.endsWith(".parquet")).count() else 0L
    res.perLayer("streaming.upsert_store_files", n.toDouble, "count")
  }
}

/** The pull client. */
object Pulls {
  private val http = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1).build()

  /** POST one pull query to `/query`; returns (status, body). The body is
    * built with the engine's own JSON quoting. */
  def post(url: String, sql: String, kind: String): (Int, String) =
    Trace.span("api", "rest.pull", kind) {
      // the span id rides along as an SQL comment, so the server-side
      // spans of this pull join its round trip
      val tag = Trace.current.map(s => s" /* $s */").getOrElse("")
      val body = graft.functions.Json.quote(sql + tag)
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(s"""{"sql":$body}""")).build()
      val rsp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      (rsp.statusCode, rsp.body)
    }
}
