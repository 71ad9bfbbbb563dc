package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.sinks.{EsSink, FileBulkTransport}

class EsSinkSpec extends GraftSuite {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("bulk lines: keyed mode sets _id (idempotent upsert), auto mode omits it") {
    val df = Seq((1L, "alice"), (2L, "bo\"b")).toDF("id", "name")
    val keyed = EsSink.bulkLines(df, "ratings", Some("id")).collect()
    assert(keyed.forall(_.startsWith("""{"index":{"_index":"ratings","_id":""")))
    val auto = EsSink.bulkLines(df, "enriched", None).collect()
    assert(auto.forall(_.startsWith("""{"index":{"_index":"enriched"}}""" + "\n")))
    // doc payload is valid JSON with escaping intact
    assert(auto.exists(_.contains("""bo\"b""")))
  }

  test("*_TS and timestamp columns render as ISO-8601 dates (index template rule)") {
    val df = Seq((1L, Timestamp.valueOf("2024-03-01 12:30:45.5")))
      .toDF("id", "RATING_TS")
    val line = EsSink.bulkLines(df, "idx", None).collect().head
    assert(line.contains(""""RATING_TS":"2024-03-01T12:30:45.500Z""""))
  }

  test("timestamp rendering asserts the true UTC instant on a non-UTC session") {
    // the shared test session pins UTC, which used to mask a bug where the
    // rendered string carried a literal 'Z' but session-zone wall-clock
    // digits; force a -05:00 session and check the INSTANT is preserved
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val ts = Timestamp.valueOf("2024-01-15 12:00:00") // JVM-zone wall clock
      val expected = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ts.getTime))
      val df = Seq((1L, ts)).toDF("id", "RATING_TS")
      val line = EsSink.bulkLines(df, "idx", None).collect().head
      assert(line.contains(s""""RATING_TS":"$expected""""),
        s"expected instant $expected in: $line")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("EXTRACT_TS injection mirrors the InsertField SMT") {
    val df = Seq((1L, Timestamp.valueOf("2024-03-01 00:00:00")))
      .toDF("id", "ts")
    val out = EsSink.withExtractTs(df, eventTime = Some("ts"))
    assert(out.columns.contains("EXTRACT_TS"))
    val line = EsSink.bulkLines(out, "idx", None).collect().head
    assert(line.contains(""""EXTRACT_TS":"2024-03-01T00:00:00.000Z""""))
  }

  test("keyed bulk replay is idempotent under a tiny ES model") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val lines = EsSink.bulkLines(df, "idx", Some("id")).collect()
    // apply the same bulk twice to a map keyed by _id — upsert semantics
    val index = scala.collection.mutable.Map[String, String]()
    (lines ++ lines).foreach { entry =>
      val Array(action, doc) = entry.split("\n", 2)
      val id = action.split(""""_id":"""")(1).takeWhile(_ != '"')
      index(id) = doc
    }
    assert(index.size === 2)
  }

  // ------------------------------------------------------------------ //
  // CDC DELETE propagation — Kafka-Connect `behavior.on.null.values`
  // (round-7 verdict item 2): a tombstone (null value column) must be able
  // to DELETE its doc from the index, not linger forever.
  // ------------------------------------------------------------------ //

  /** Tiny ES model: apply bulk entries in order — `index` actions upsert
    * by `_id`, `delete` actions remove the `_id`. ES deletes are
    * idempotent (deleting a missing doc is a per-item 404, not an error),
    * which the plain `remove` mirrors. */
  private def applyBulk(index: scala.collection.mutable.Map[String, String],
                        entries: Seq[String]): Unit =
    entries.foreach { entry =>
      val parts = entry.split("\n", 2)
      val id = parts(0).split(""""_id":"""")(1).takeWhile(_ != '"')
      if (parts(0).startsWith("""{"delete"""")) index.remove(id)
      else index(id) = parts(1)
    }

  /** Connect's unwrap output shape: the flattened value column (`name`)
    * plus the null-when-deleted marker (`after`) — which the sink treats
    * as control metadata and excludes from the rendered doc. */
  private def cdcBatch(rows: (String, Option[String], String)*) =
    rows.toSeq.toDF("key", "after", "op")
      .withColumn("name", col("after"))

  test("behavior.on.null.values: ignore skips tombstones, delete emits a " +
    "bulk delete action, fail raises") {
    val df = cdcBatch(("1", Some("alice"), "c"), ("2", None, "d"))
    val ign = EsSink.bulkLines(df, "customers", Some("key"),
      Some("after"), "ignore").collect()
    assert(ign.length === 1 && ign.head.contains(""""_id":"1""""))

    val del = EsSink.bulkLines(df, "customers", Some("key"),
      Some("after"), "delete").collect()
    assert(del.length === 2)
    val delLine = del.find(_.startsWith("""{"delete"""")).get
    assert(delLine === """{"delete":{"_index":"customers","_id":"2"}}""")
    assert(!delLine.contains("\n"), "a delete action carries no source doc")

    val ex = intercept[Throwable] {
      EsSink.bulkLines(df, "customers", Some("key"),
        Some("after"), "fail").collect()
    }
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("tombstone"), s"unexpected failure: $messages")

    // Connect rejects delete mode without a record key (key.ignore=true):
    // there is no _id to delete by
    intercept[IllegalArgumentException] {
      EsSink.bulkLines(df, "customers", None, Some("after"), "delete")
    }

    // a tombstone whose KEY is also null is malformed: dropped entirely —
    // an id-less delete action would 400 the whole _bulk request and
    // wedge the sink on checkpoint replay
    val nullKey = Seq((Option.empty[String], Option.empty[String], "d"))
      .toDF("key", "after", "op")
    assert(EsSink.bulkLines(nullKey, "customers", Some("key"),
      Some("after"), "delete").collect().isEmpty)
  }

  test("a key deleted upstream disappears from the index and replaying the " +
    "microbatch is a no-op") {
    val b1 = cdcBatch(("1", Some("alice"), "c"), ("2", Some("bob"), "c"))
    val b2 = cdcBatch(("2", None, "d"), ("1", Some("alicia"), "u"))
    def lines(b: org.apache.spark.sql.DataFrame) =
      EsSink.bulkLines(b, "customers", Some("key"), Some("after"), "delete")
        .collect().toSeq
    val index = scala.collection.mutable.Map[String, String]()
    applyBulk(index, lines(b1))
    assert(index.keySet === Set("1", "2"))
    applyBulk(index, lines(b2))
    assert(index.keySet === Set("1"), "deleted key must leave the index")
    assert(index("1").contains(""""name":"alicia""""))
    assert(!index("1").contains(""""after""""),
      "the tombstone marker is control metadata, not doc payload")
    // checkpoint replay (at-least-once): re-applying the same microbatch
    // must converge to the same index — upserts overwrite, deletes 404
    val before = index.toMap
    applyBulk(index, lines(b2))
    assert(index.toMap === before, "replay must be a no-op")
  }

  test("delete-mode batches reduce to latest-action-per-key when an order " +
    "column exists (cross-partition create/delete cannot race)") {
    // Kafka-Connect gets per-key ordering from topic partitioning; a
    // Spark microbatch doesn't — a create and delete of one key can land
    // in different partitions whose _bulk POSTs race. With orderCol the
    // sink first reduces to the latest action per key, so at most ONE
    // action per key leaves the batch.
    val b = Seq(
      ("1", Some("alice"), 1L), // create @1 ...
      ("1", Option.empty[String], 2L), // ... then deleted @2 → net delete
      ("2", Option.empty[String], 1L), // deleted @1 ...
      ("2", Some("bob"), 2L)) // ... then re-created @2 → net doc
      .toDF("key", "after", "ts_ms")
      .withColumn("name", col("after"))
      .repartition(4) // scatter the actions across partitions on purpose
    val dir = tmpDir("es-order-spool")
    EsSink.writeBatch(b, "t", Some("key"), new FileBulkTransport(dir),
      Some("after"), "delete", Some("ts_ms"))
    val entries = Files.list(Paths.get(dir)).iterator().asScala
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    val actions = entries.filter(l =>
      l.startsWith("""{"index""") || l.startsWith("""{"delete"""))
    assert(actions.length === 2, s"one action per key, got: $entries")
    assert(actions.contains("""{"delete":{"_index":"t","_id":"1"}}"""))
    assert(actions.exists(l => l.startsWith("""{"index""") &&
      l.contains(""""_id":"2"""")))
    assert(entries.exists(_.contains(""""name":"bob"""")))
  }

  test("keyed batches outside delete mode reduce to the latest doc per " +
    "key; an ignored tombstone does not hide the doc before it") {
    val b = Seq(
      ("1", Some("alice"), 1L), // doc @1 ...
      ("1", Option.empty[String], 2L), // ... tombstone @2, ignored → alice
      ("2", Some("bo"), 1L), // older image ...
      ("2", Some("bob"), 2L)) // ... newer image → bob only
      .toDF("key", "after", "ts_ms")
      .withColumn("name", col("after"))
      .repartition(4)
    val dir = tmpDir("es-order-ignore-spool")
    EsSink.writeBatch(b, "t", Some("key"), new FileBulkTransport(dir),
      Some("after"), "ignore", Some("ts_ms"))
    val docs = Files.list(Paths.get(dir)).iterator().asScala
      .flatMap(p => Files.readAllLines(p).asScala)
      .filterNot(_.startsWith("""{"index""")).toSeq
    assert(docs.sorted === Seq("""{"key":"1","ts_ms":1,"name":"alice"}""",
      """{"key":"2","ts_ms":2,"name":"bob"}"""), s"one latest doc per key: $docs")
  }

  test("streaming CDC sink with delete behavior spools delete actions for " +
    "tombstoned keys") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("es-del-spool")
    val ckpt = tmpDir("es-del-ckpt")
    val in = MemoryStream[(String, Option[String], String)]
    val q = EsSink.writeStream(
      in.toDF().toDF("key", "after", "op"), "customers", Some("key"), ckpt,
      new FileBulkTransport(dir), Some("after"), "delete")
    in.addData(("7", Some("grace"), "c"))
    q.processAllAvailable()
    in.addData(("7", Option.empty[String], "d"))
    q.processAllAvailable(); q.stop()
    val spooled = Files.list(Paths.get(dir)).iterator().asScala
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(spooled.exists(_.startsWith(
      """{"index":{"_index":"customers","_id":"7"""")))
    assert(spooled.contains("""{"delete":{"_index":"customers","_id":"7"}}"""))
  }

  // ------------------------------------------------------------------ //
  // HTTP transport — the production `_bulk` wire, against a stub ES
  // (in-JDK com.sun.net.httpserver; no real ES exists in this container).
  // ------------------------------------------------------------------ //

  /** Stub `/_bulk` endpoint: records request bodies/headers, replies from
    * a scripted queue of (status, body) — exhausted queue replies 200 OK. */
  private class StubEs(replies: (Int, String)*) {
    val bodies = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val contentTypes = new java.util.concurrent.CopyOnWriteArrayList[String]()
    private val queue =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    replies.foreach(queue.add)
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("localhost", 0), 0)
    server.createContext("/_bulk",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        bodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
        contentTypes.add(ex.getRequestHeaders.getFirst("Content-Type"))
        val (code, body) =
          Option(queue.poll()).getOrElse((200, """{"errors":false}"""))
        val b = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, b.length)
        ex.getResponseBody.write(b); ex.close()
      })
    server.start()
    def url: String = s"http://localhost:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  test("HTTP transport POSTs NDJSON with a trailing newline and chunks at " +
    "maxBytes") {
    val es = new StubEs()
    try {
      val t = new graft.sinks.HttpBulkTransport(es.url, maxBytes = 40)
      val e1 = "{\"index\":{}}\n{\"a\":1}"   // 20 chars
      val e2 = "{\"index\":{}}\n{\"a\":2}"
      val e3 = "{\"index\":{}}\n{\"a\":3}"
      t.send(Iterator(e1, e2, e3))
      val bodies = scala.jdk.CollectionConverters
        .ListHasAsScala(es.bodies).asScala.toSeq
      // 3 × 21 bytes at a 40-byte bound → requests of 1 entry... except
      // the FIRST append always fits: [e1], [e2], [e3] won't merge since
      // 21+21 > 40 → three requests, each newline-terminated (ES requires
      // the trailing newline)
      assert(bodies.size === 3, s"expected 3 chunks, got ${bodies.size}")
      assert(bodies.forall(_.endsWith("\n")))
      assert(bodies.head === e1 + "\n")
      assert(scala.jdk.CollectionConverters.ListHasAsScala(es.contentTypes)
        .asScala.forall(_ == "application/x-ndjson"))
    } finally es.stop()
  }

  test("HTTP transport retries 429/5xx with backoff, then succeeds; " +
    "gives up after maxRetries") {
    val es = new StubEs((429, "busy"), (503, "down"), (200, """{"errors":false}"""))
    try {
      new graft.sinks.HttpBulkTransport(es.url, maxRetries = 3)
        .send(Iterator("""{"index":{}}""" + "\n" + """{"a":1}"""))
      assert(es.bodies.size === 3, "two rejected attempts + one success")
    } finally es.stop()
    val es2 = new StubEs((429, "x"), (429, "x"), (429, "x"))
    try {
      val ex = intercept[java.io.IOException] {
        new graft.sinks.HttpBulkTransport(es2.url, maxRetries = 2)
          .send(Iterator("""{"index":{}}""" + "\n" + """{"a":1}"""))
      }
      assert(ex.getMessage.contains("429"))
    } finally es2.stop()
  }

  test("HTTP transport: item errors fail the batch unless tolerant " +
    "(errors.tolerance=all); a 4xx always fails") {
    val itemErrors =
      """{"errors":true,"items":[{"index":{"_id":"1","status":400,""" +
        """"error":{"type":"mapper_parsing_exception"}}}]}"""
    val es = new StubEs((200, itemErrors))
    try {
      val ex = intercept[java.io.IOException] {
        new graft.sinks.HttpBulkTransport(es.url, tolerant = false)
          .send(Iterator("""{"index":{}}""" + "\n" + """{"bad":1}"""))
      }
      assert(ex.getMessage.contains("item errors"))
    } finally es.stop()
    val es2 = new StubEs((200, itemErrors))
    try { // warn-and-skip: no throw, request delivered once
      new graft.sinks.HttpBulkTransport(es2.url, tolerant = true)
        .send(Iterator("""{"index":{}}""" + "\n" + """{"bad":1}"""))
      assert(es2.bodies.size === 1)
    } finally es2.stop()
    val es3 = new StubEs((400, "bad request"))
    try {
      intercept[java.io.IOException] {
        new graft.sinks.HttpBulkTransport(es3.url, tolerant = true)
          .send(Iterator("""{"index":{}}""" + "\n" + """{"a":1}"""))
      }
    } finally es3.stop()
  }

  test("Engine.transportFor routes http(s) URLs to the HTTP transport and " +
    "everything else to a file spool") {
    import graft.api.Engine
    assert(Engine.transportFor("http://elasticsearch:9200")
      .isInstanceOf[graft.sinks.HttpBulkTransport])
    assert(Engine.transportFor("https://es.example.com")
      .isInstanceOf[graft.sinks.HttpBulkTransport])
    assert(Engine.transportFor("")
      .isInstanceOf[FileBulkTransport])
  }

  test("streaming foreachBatch sink spools bulk files per microbatch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("es-spool")
    val ckpt = tmpDir("es-ckpt")
    val in = MemoryStream[Event]
    val q = EsSink.writeStream(
      EsSink.withExtractTs(in.toDF(), eventTime = Some("ts")),
      "ratings", Some("event_id"), ckpt, new FileBulkTransport(dir))
    in.addData(Event(1, Timestamp.valueOf("2024-01-01 00:00:01"), 1, "click", 4.0, "{}"))
    q.processAllAvailable()
    in.addData(Event(2, Timestamp.valueOf("2024-01-01 00:00:02"), 2, "view", 2.0, "{}"))
    q.processAllAvailable(); q.stop()

    val lines = Files.list(Paths.get(dir)).iterator().asScala
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(lines.count(_.contains(""""_id"""")) === 2)
    assert(lines.count(_.contains(""""EXTRACT_TS"""")) === 2)
  }
}
