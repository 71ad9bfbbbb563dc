package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Cdc, Relational}
import graft.sources.Tables
import graft.streaming.{CdcStream, Streams}

/** Streaming-parity tests: the same logical pipelines as the batch specs,
  * driven microbatch-by-microbatch through MemoryStream, asserting the
  * reference's observable semantics (stream/table duality, update-mode
  * windowed aggregation, stream-static join timing). */
class StreamingSpec extends GraftSuite {
  import spark.implicits._

  private def ev(id: Long, ts: String, user: Long, typ: String, v: Double): Event =
    Event(id, Timestamp.valueOf(ts), user, typ, v, s"""{"k": $id}""")

  test("streaming filter matches batch filter semantics") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.toMemoryTable(
      Streams.liveEvents(in.toDF()), "live_stream_test")
    in.addData(
      ev(1, "2024-01-01 00:00:01", 1, "click", 4),
      ev(2, "2024-01-01 00:00:02", 2, "ERROR_page", 2),
      ev(3, "2024-01-01 00:00:03", 3, "view", 5))
    q.processAllAvailable(); q.stop()
    val got = spark.table("live_stream_test").select("event_id")
      .as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 3L))
  }

  test("streaming funnel advances in stage order across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val q = Streams.toMemoryTable(
      graft.streaming.FunnelStream.funnelStream(
        in.toDS().toDF("user_id", "event_id", "event_type"),
        Seq("signup", "click", "purchase")).toDF(),
      "funnel_stream_test")
    // batch 1: user 1 signs up and clicks; user 2 purchases FIRST (no
    // advance); user 3 signs up
    in.addData((1L, 1L, "signup"), (1L, 2L, "click"),
      (2L, 3L, "purchase"), (3L, 4L, "signup"))
    q.processAllAvailable()
    // batch 2: user 1 purchases (completes); user 2 signs up then
    // purchases (sequence-match: purchase after signup advances, but
    // click was never seen so purchase stays pending); user 3 idle
    in.addData((1L, 5L, "purchase"), (2L, 6L, "signup"), (2L, 7L, "purchase"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("funnel_stream_test").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === Set((1L, 0), (1L, 1), (1L, 2), (2L, 0), (3L, 0)),
      s"unexpected advances: $got")
  }

  test("streaming z-scores flag a planted outlier against pre-batch moments") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Double)]
    val q = Streams.toMemoryTable(
      graft.streaming.AnomalyStream.zScoreStream(
        in.toDS().toDF("event_id", "event_type", "value")).toDF(),
      "zscore_stream_test")
    // batch 1: establish tight moments for 'click' (no alerts: no priors)
    in.addData((1L, "click", 10.0), (2L, "click", 10.2), (3L, "click", 9.8),
      (4L, "click", 10.1), (5L, "click", 9.9))
    q.processAllAvailable()
    // batch 2: a wild outlier and a normal value, judged by batch-1 moments
    in.addData((6L, "click", 50.0), (7L, "click", 10.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("zscore_stream_test").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(3)), r.getBoolean(4)))).toMap
    // batch 1 rows: no model yet -> null z, unflagged
    (1L to 5L).foreach { id => assert(got(id) === ((None, false))) }
    assert(got(6L)._2 === true, s"planted outlier not flagged: $got")
    assert(got(7L)._2 === false)
    // the normal row's z is small, the outlier's huge
    assert(math.abs(got(7L)._1.get.asInstanceOf[Double]) < 2.0)
    assert(math.abs(got(6L)._1.get.asInstanceOf[Double]) > 3.0)
  }

  test("salted z-score stream: flags match unsalted, k-wide state per type") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-zsalt").toString
    val (stateDir, scoredDir, ckpt) =
      (s"$dir/state", s"$dir/scored", s"$dir/ckpt")
    val batch1 = Seq((1L, "click", 10.0), (2L, "click", 10.2),
      (3L, "click", 9.8), (4L, "click", 10.1), (5L, "click", 9.9),
      (11L, "view", 1.0), (12L, "view", 1.2))
    val batch2 = Seq((6L, "click", 50.0), (7L, "click", 10.0),
      (13L, "view", 1.1))
    // unsalted reference run
    val inU = MemoryStream[(Long, String, Double)]
    val qU = Streams.toMemoryTable(
      graft.streaming.AnomalyStream.zScoreStream(
        inU.toDS().toDF("event_id", "event_type", "value")).toDF(),
      "zscore_unsalted_ref")
    inU.addData(batch1: _*); qU.processAllAvailable()
    inU.addData(batch2: _*); qU.processAllAvailable(); qU.stop()
    // salted run over the same two batches
    val inS = MemoryStream[(Long, String, Double)]
    val qS = graft.streaming.AnomalyStream.zScoreStreamSalted(
      inS.toDS().toDF("event_id", "event_type", "value"),
      stateDir, scoredDir, ckpt, k = 4)
    inS.addData(batch1: _*); qS.processAllAvailable()
    inS.addData(batch2: _*); qS.processAllAvailable(); qS.stop()
    val unsalted = spark.table("zscore_unsalted_ref").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(3)), r.getBoolean(4)))).toMap
    val salted = spark.read.parquet(scoredDir).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(3)), r.getBoolean(4)))).toMap
    assert(salted.keySet === unsalted.keySet)
    // flag-for-flag agreement; z agrees to float-association tolerance
    for ((id, (zU, flagU)) <- unsalted) {
      assert(salted(id)._2 === flagU, s"flag mismatch on event $id")
      (zU, salted(id)._1) match {
        case (Some(a: java.lang.Double), Some(b: java.lang.Double)) =>
          assert(math.abs(a - b) < 1e-9, s"z mismatch on event $id: $a vs $b")
        case (a, b) => assert(a.isDefined === b.isDefined,
          s"z presence mismatch on event $id")
      }
    }
    // state is k-wide per type: multiple salts, total count = events seen,
    // and the Chan-merged moments match the sequential Welford fold
    val state = spark.read.parquet(stateDir)
    val perType = state.groupBy("event_type")
      .agg(count(lit(1)).as("salts"), sum("n").as("events"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(perType("click")._1 > 1 && perType("click")._1 <= 4,
      s"expected 2..4 salt rows for click, got ${perType("click")._1}")
    assert(perType("click")._2 === 7L && perType("view")._2 === 3L)
  }

  test("funnel stream evicts idle users after the inactivity horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    // With ProcessingTimeTimeout the engine constructs batches forever
    // (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is unconditionally
    // true), so `noNewData` is never set and processAllAvailable would
    // block indefinitely — synchronize by POLLING the sink to a deadline,
    // and give the query a real trigger so the idle batches don't hot-spin
    // (the same trigger a production deployment would use).
    val q = graft.streaming.FunnelStream.funnelStream(
        in.toDS().toDF("user_id", "event_id", "event_type"),
        Seq("signup", "click"),
        inactivityTimeout = Some("100 milliseconds")).toDF()
      .writeStream.format("memory").queryName("funnel_evict_test")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    def countsNow(): Map[(Long, Int), Int] =
      spark.table("funnel_evict_test").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    def awaitSink(want: Map[(Long, Int), Int]): Map[(Long, Int), Int] = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var got = countsNow()
      while (got != want && System.nanoTime() < deadline) {
        Thread.sleep(50); got = countsNow()
      }
      assert(got === want, s"sink never reached $want (last: $got)")
      got
    }
    try {
      // batch 1: user 1 signs up → stage-0 advance, timeout armed
      in.addData((1L, 1L, "signup"))
      awaitSink(Map((1L, 0) -> 1))
      Thread.sleep(800) // idle batches fire user 1's timeout → state evicted
      // One batch, three events: user 2 runs signup→click (normal
      // in-horizon advances — single-batch so the 100 ms horizon can't
      // lapse between their stages); user 1 signs up AGAIN → a SECOND
      // stage-0 advance is the observable proof the state was evicted
      // (with retained state a repeat signup advances nothing)
      in.addData((2L, 2L, "signup"), (2L, 3L, "click"), (1L, 4L, "signup"))
      awaitSink(Map((1L, 0) -> 2, (2L, 0) -> 1, (2L, 1) -> 1))
    } finally q.stop()
  }

  test("windowed leaderboard: stream counts + read-side rank match batch top-k") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val dir = java.nio.file.Files
      .createTempDirectory("graft-leaderboard").toString
    val q = Streams.toUpsertTable(
      Streams.windowedCountsStream(in.toDF()),
      s"$dir/store", s"$dir/ckpt")
    // batch 1: user 7 leads window A; batch 2 flips the lead to user 8 —
    // the update-mode changelog must re-rank, not append a stale rank
    in.addData(
      ev(1, "2024-01-01 00:01:00", 7, "click", 1),
      ev(2, "2024-01-01 00:02:00", 7, "click", 1),
      ev(3, "2024-01-01 00:03:00", 8, "click", 1),
      ev(4, "2024-01-01 00:20:00", 9, "view", 1)) // window B
    q.processAllAvailable()
    in.addData(
      ev(5, "2024-01-01 00:04:00", 8, "click", 1),
      ev(6, "2024-01-01 00:05:00", 8, "click", 1))
    q.processAllAvailable(); q.stop()
    val got = Streams.leaderboard(spark, s"$dir/store", k = 2)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    // batch reference over the same events: count per (window, user), rank
    val batchEvents = Seq(
        ("2024-01-01 00:01:00", 7L), ("2024-01-01 00:02:00", 7L),
        ("2024-01-01 00:03:00", 8L), ("2024-01-01 00:20:00", 9L),
        ("2024-01-01 00:04:00", 8L), ("2024-01-01 00:05:00", 8L))
      .map { case (ts, u) => (java.sql.Timestamp.valueOf(ts), u) }
      .toDF("ts", "user_id")
      .select(window(col("ts"), "15 minutes")("start").as("window_start"),
        col("user_id"))
    val batch = Relational.topKPerGroup(batchEvents,
        "window_start", "user_id", 2)
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got === batch, s"stream leaderboard $got != batch $batch")
    // the final window-A order is 8 above 7 (the re-rank took effect)
    val wa = got.filter(_._1 == java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(wa.find(_._4 == 1).get._2 === 8L)
    assert(wa.find(_._4 == 2).get._2 === 7L)
  }

  test("hopping windows stream in update mode and match the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.toMemoryTable(
      Relational.hoppingCountsByType(in.toDF()), "hopping_stream_test",
      OutputMode.Update())
    val rows = Tables.events(spark, sf).as[Event].collect().toIndexedSeq
    in.addData(rows)
    q.processAllAvailable(); q.stop()
    // update-mode memory sink may hold superseded versions of a window's
    // count; the LATEST per (window, type) must equal the batch result
    val streamed = Relational.latestByKeys(
      spark.table("hopping_stream_test").withColumn("__ord",
        monotonically_increasing_id()),
      Seq("window_start", "event_type"), col("__ord"))
      .select("window_start", "event_type", "events_count")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Relational.hoppingCountsByType(Tables.events(spark, sf))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("stream-stream WITHIN join: pairs inside the window, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val lData = Seq((1L, t("00:00:10"), "L1"), (2L, t("00:00:20"), "L2"),
      (3L, t("00:00:30"), "L3"))
    val rData = Seq((1L, t("00:00:15"), "R1"), // 5 s from L1 → match
      (2L, t("00:00:45"), "R2"), // 25 s from L2 → outside WITHIN 10 s
      (4L, t("00:00:30"), "R4")) // no left key
    val l = MemoryStream[(Long, Timestamp, String)]
    val r = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.streamStreamJoin(
      l.toDS().toDF("k", "lts", "lval"), r.toDS().toDF("k", "rts", "rval"),
      "k", "lts", "rts", within = "10 seconds")
    val q = Streams.toMemoryTable(joined, "ss_join_test")
    l.addData(lData: _*); r.addData(rData: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("ss_join_test")
      .select("k", "lval", "rval").as[(Long, String, String)].collect().toSet
    assert(got === Set((1L, "L1", "R1")))
    // batch parity: the same operator over batch frames (the watermark
    // node is eliminated on batch plans) produces the same pairs
    val batch = Streams.streamStreamJoin(
      lData.toDF("k", "lts", "lval"), rData.toDF("k", "rts", "rval"),
      "k", "lts", "rts", within = "10 seconds")
      .select("k", "lval", "rval").as[(Long, String, String)].collect().toSet
    assert(batch === got)
  }

  test("stream-stream WITHIN left outer emits unmatched rows after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val l = MemoryStream[(Long, Timestamp, String)]
    val r = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.streamStreamJoin(
      l.toDS().toDF("k", "lts", "lval"), r.toDS().toDF("k", "rts", "rval"),
      "k", "lts", "rts", within = "10 seconds", joinType = "leftOuter",
      watermarkDelay = "5 seconds")
    val q = Streams.toMemoryTable(joined, "ss_louter_test")
    l.addData((1L, t("00:00:10"), "L1"), (2L, t("00:00:20"), "L2"))
    r.addData((1L, t("00:00:12"), "R1"))
    q.processAllAvailable()
    // push BOTH watermarks far past the join window, then run extra
    // batches so the outer-null results flush
    l.addData((9L, t("01:00:00"), "tick-l"))
    r.addData((9L, t("01:00:00"), "tick-r"))
    q.processAllAvailable()
    l.addData((8L, t("01:00:01"), "tick-l2"))
    r.addData((8L, t("01:00:01"), "tick-r2"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_louter_test")
      .select("k", "lval", "rval").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got.contains((1L, "L1", Some("R1"))))
    assert(got.contains((2L, "L2", None)),
      s"unmatched left row was never emitted: $got")
  }

  test("stream-stream WITHIN full outer emits unmatched rows from BOTH sides") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    val l = MemoryStream[(Long, Timestamp, String)]
    val r = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.streamStreamJoin(
      l.toDS().toDF("k", "lts", "lval"), r.toDS().toDF("k", "rts", "rval"),
      "k", "lts", "rts", within = "10 seconds", joinType = "fullOuter",
      watermarkDelay = "5 seconds")
    val q = Streams.toMemoryTable(joined, "ss_fouter_test")
    l.addData((1L, t("00:00:10"), "L1"), (2L, t("00:00:20"), "L2"))
    r.addData((1L, t("00:00:12"), "R1"), (4L, t("00:00:30"), "R4"))
    q.processAllAvailable()
    // push both watermarks past the window, twice, to flush outer nulls
    l.addData((9L, t("01:00:00"), "tick-l"))
    r.addData((9L, t("01:00:00"), "tick-r"))
    q.processAllAvailable()
    l.addData((8L, t("01:00:01"), "tick-l2"))
    r.addData((8L, t("01:00:01"), "tick-r2"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_fouter_test")
      .select("k", "lval", "rval").collect()
      .map(x => (x.getLong(0), Option(x.getString(1)), Option(x.getString(2))))
      .toSet
    assert(got.contains((1L, Some("L1"), Some("R1"))))
    assert(got.contains((2L, Some("L2"), None)),
      s"unmatched left row missing: $got")
    assert(got.contains((4L, None, Some("R4"))),
      s"unmatched RIGHT row missing (the full-outer delta; its key must " +
        s"coalesce from the right side): $got")
  }

  test("stream-static enrichment join equals the batch plan on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val customers = Tables.customer(spark, sf)
    val batchEvents = Relational.eventsLive(Tables.events(spark, sf))
    val expected = Relational.enriched(batchEvents, customers)
      .drop("event_ts").collect().map(_.toSeq).toSet

    val in = MemoryStream[Event]
    val q = Streams.toMemoryTable(
      Streams.enrichedStream(
        Streams.liveEvents(in.toDF()), customers).drop("event_ts"),
      "enriched_stream_test")
    // feed the same fixture rows in two microbatches
    val rows = Tables.events(spark, sf).as[Event].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    in.addData(b1.toIndexedSeq); q.processAllAvailable()
    in.addData(b2.toIndexedSeq); q.processAllAvailable(); q.stop()
    val got = spark.table("enriched_stream_test").collect().map(_.toSeq).toSet
    assert(got === expected)
  }

  test("windowed aggregation in update mode emits refined counts per window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val enriched = Streams.enrichedStream(
      Streams.liveEvents(in.toDF()), Tables.customer(spark, sf))
    val q = Streams.toMemoryTable(
      Streams.windowedRatings(enriched), "win_stream_test", OutputMode.Update())

    in.addData(ev(1, "2024-01-01 00:01:00", 1, "click", 4))
    q.processAllAvailable()
    in.addData(ev(2, "2024-01-01 00:05:00", 1, "view", 2)) // same 15-min window
    q.processAllAvailable(); q.stop()

    val updates = spark.table("win_stream_test")
      .select("ratings_count").as[Long].collect().sorted
    // update mode: first batch emits count=1, second re-emits the same
    // window refined to count=2 — the table-changelog contract
    assert(updates.toSeq === Seq(1L, 2L))
  }

  test("windowed aggregation runs under the RocksDB state store provider") {
    // SURVEY §4 / Streams scaladoc name RocksDB as the scale lever for
    // state beyond executor heap — prove the claim actually runs, not
    // just reads as config advice.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Event]
      val q = Streams.toMemoryTable(
        Streams.windowedRatings(Streams.enrichedStream(
          Streams.liveEvents(in.toDF()), Tables.customer(spark, sf))),
        "rocksdb_win_test", OutputMode.Update())
      in.addData(ev(1, "2024-01-01 00:01:00", 1, "click", 4))
      q.processAllAvailable()
      in.addData(ev(2, "2024-01-01 00:05:00", 1, "view", 2))
      q.processAllAvailable()
      // the provider is really RocksDB: its custom state metrics surface
      // in the progress report
      val metrics = q.lastProgress.stateOperators(0).customMetrics
      assert(metrics.keySet().toArray.exists(_.toString.startsWith("rocksdb")),
        s"no rocksdb state metrics in $metrics — provider not engaged")
      q.stop()
      val updates = spark.table("rocksdb_win_test")
        .select("ratings_count").as[Long].collect().sorted
      assert(updates.toSeq === Seq(1L, 2L)) // same semantics as HDFS-backed
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("upsert materialization resumes from its checkpoint after a stop") {
    // ksqlDB persistent queries survive server restarts via the command
    // topic + changelog; the Spark analog is the streaming checkpoint.
    // Stop the query mid-stream, feed more data, restart against the SAME
    // checkpoint: only the new offsets are processed and the compacted
    // view equals one continuous run.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val dir = java.nio.file.Files
      .createTempDirectory("graft-restart-spec").toString
    val agg = in.toDF().groupBy("user_id").agg(count(lit(1)).as("n"))
    def start() = Streams.toUpsertTable(agg, s"$dir/store", s"$dir/checkpoint")

    val q1 = start()
    in.addData(ev(1, "2024-01-01 00:00:01", 1, "click", 1),
      ev(2, "2024-01-01 00:00:02", 2, "view", 2))
    q1.processAllAvailable(); q1.stop()

    in.addData(ev(3, "2024-01-01 00:00:03", 1, "click", 3)) // while down
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    val view = Streams.upsertView(spark, s"$dir/store", Seq("user_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(view === Map(1L -> 2L, 2L -> 1L)) // continuous-run totals
    // the changelog holds each batch once — the restart neither re-emitted
    // already-committed offsets nor skipped the while-down data
    val perBatch = spark.read.parquet(s"$dir/store")
      .groupBy("__batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBatch.values.sum === 3L,
      s"changelog rows $perBatch != 3 changed-key updates")
  }

  test("opt-in watermark drops events later than the delay (documented deviation)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val enriched = Streams.enrichedStream(
      Streams.liveEvents(in.toDF()), Tables.customer(spark, sf))
    val q = Streams.toMemoryTable(
      Streams.windowedRatings(enriched, watermark = Some("10 minutes")),
      "wm_stream_test", OutputMode.Update())

    in.addData(ev(1, "2024-01-01 00:01:00", 1, "click", 4))
    q.processAllAvailable()
    // advances the watermark to 01:50:00 — far past the first window
    in.addData(ev(2, "2024-01-01 02:00:00", 1, "view", 3))
    q.processAllAvailable()
    // late event for the (already-expired) 00:00 window: dropped, no update
    in.addData(ev(3, "2024-01-01 00:05:00", 1, "click", 5))
    q.processAllAvailable(); q.stop()

    val firstWindow = spark.table("wm_stream_test")
      .filter(col("window_start") === lit(Timestamp.valueOf("2024-01-01 00:00:00")))
      .select("ratings_count").as[Long].collect()
    assert(firstWindow.toSeq === Seq(1L)) // never refined to 2
  }

  test("CDC latest-by-key stream converges to the batch table view") {
    implicit val sqlCtx = spark.sqlContext
    val envelopeDf = Cdc.envelope(Tables.events(spark, sf))
    val expected = Cdc.latestByKeyTable(envelopeDf)
      .select(col("id")).as[Long].collect().toSet

    val in = MemoryStream[CdcStream.CdcEvent]
    val q = Streams.toMemoryTable(
      CdcStream.latestByKey(in.toDS()).toDF(),
      "cdc_stream_test", OutputMode.Update())
    val events = CdcStream.asCdcEvents(envelopeDf).collect()
    val (b1, b2) = events.splitAt(events.length / 2)
    in.addData(b1.toIndexedSeq); q.processAllAvailable()
    in.addData(b2.toIndexedSeq); q.processAllAvailable(); q.stop()

    // latest update per key across all emitted changes = the table view
    val table = spark.table("cdc_stream_test")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("key").orderBy(col("ts_ms").desc)))
      .filter(col("rn") === 1 && !col("deleted"))
    val got = table.select("id").as[Long].collect().map(identity).toSet
    assert(got === expected)
  }

  test("tombstone deletes the key from the streaming table state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CdcStream.CdcEvent]
    val q = Streams.toMemoryTable(
      CdcStream.latestByKey(in.toDS()).toDF(),
      "cdc_tombstone_test", OutputMode.Update())
    val img = CdcStream.CdcImage(1, 7, "click", 4.0, "{}")
    in.addData(CdcStream.CdcEvent("7", Some(img), "c", 1000L, 1L))
    q.processAllAvailable()
    in.addData(CdcStream.CdcEvent("7", None, "d", 2000L, 2L))
    q.processAllAvailable(); q.stop()
    val changes = spark.table("cdc_tombstone_test")
      .orderBy("ts_ms").select("deleted").as[Boolean].collect()
    assert(changes.toSeq === Seq(false, true))
  }

  test("file-stream source feeds the same pipeline as batch") {
    val dir = java.nio.file.Files.createTempDirectory("ev-stream").toString
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    val q = Streams.toMemoryTable(
      Streams.liveEvents(Streams.fileEvents(spark, dir)), "file_stream_test")
    q.processAllAvailable(); q.stop()
    val expected = Relational.eventsLive(Tables.events(spark, sf)).count()
    assert(spark.table("file_stream_test").count() === expected)
  }

  test("streaming dedup drops replayed events across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.toMemoryTable(
      Streams.dedupEvents(in.toDF(), Seq("event_id")), "dedup_stream_test")
    val e1 = ev(1, "2024-01-01 00:00:01", 1, "click", 4)
    val e2 = ev(2, "2024-01-01 00:00:02", 2, "view", 2)
    in.addData(e1, e2, e1) // duplicate within batch
    q.processAllAvailable()
    in.addData(e1, e2)     // full replay in a later batch
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_stream_test").count() === 2)
  }

  test("watermark-bounded streaming dedup: duplicates inside the horizon " +
    "drop, state evicts past it (the 100 TB configuration)") {
    // dedupEvents' unbounded form holds one state entry per key FOREVER —
    // fine for a compacted-topic analog, fatal at 100 TB ingest. The
    // dropDuplicatesWithinWatermark form bounds state to the replay
    // horizon; the trade is that a key may re-admit once the watermark
    // passes its expiry. Pin BOTH sides of that contract.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.toMemoryTable(
      Streams.dedupEvents(in.toDF(), Seq("event_id"),
        watermarkCol = Some("ts"), delay = "10 minutes"),
      "dedup_ttl_test")
    val e1 = ev(1, "2024-01-01 00:00:00", 1, "click", 4)
    in.addData(e1, e1)                              // in-batch duplicate
    q.processAllAvailable()
    in.addData(ev(1, "2024-01-01 00:05:00", 1, "click", 4)) // replay inside horizon
    q.processAllAvailable()
    assert(spark.table("dedup_ttl_test").count() === 1,
      "duplicates within the watermark horizon must drop")
    // advance event time far past the horizon: watermark moves to
    // ~00:50, evicting event_id=1's state (expires 00:10) ...
    in.addData(ev(2, "2024-01-01 01:00:00", 2, "view", 2))
    q.processAllAvailable()
    // ... so a late replay of key 1 is NEW state, not a duplicate
    in.addData(ev(1, "2024-01-01 01:00:30", 1, "click", 4))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_ttl_test").groupBy("event_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids(2L) === 1L)
    assert(ids(1L) === 2L,
      "state must evict at the horizon — key 1 re-admits after expiry " +
        s"(bounded state is the point); got $ids")
  }

  test("session windows merge events within the gap and split across it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.toMemoryTable(
      Streams.sessionizeStream(in.toDF(), gap = "30 minutes"),
      "session_stream_test") // append: sessions emit once finalized
    in.addData(
      ev(1, "2024-01-01 00:00:00", 7, "click", 1), // session A
      ev(2, "2024-01-01 00:10:00", 7, "view", 1),  // merges into A
      ev(3, "2024-01-01 02:00:00", 7, "click", 1)) // > 30 min gap: session B
    q.processAllAvailable()
    // advance the watermark far past both sessions to finalize them
    in.addData(ev(4, "2024-01-02 12:00:00", 8, "click", 1))
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("session_stream_test")
      .filter(col("user_id") === 7).orderBy("session_start")
      .select("n_events").as[Long].collect()
    assert(sessions.toSeq === Seq(2L, 1L))
    // batch twin parity: the finalized streaming sessions must equal
    // Relational.sessionWindows over the same events — one session
    // definition for backfill and live (boundaries AND ends)
    val batch = Relational.sessionWindows(Seq(
      ev(1, "2024-01-01 00:00:00", 7, "click", 1),
      ev(2, "2024-01-01 00:10:00", 7, "view", 1),
      ev(3, "2024-01-01 02:00:00", 7, "click", 1)).toDF(), 30)
      .select(col("session_start"), col("session_end"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2)))
      .toSet
    val streamed = spark.table("session_stream_test")
      .filter(col("user_id") === 7)
      .select(col("session_start"), col("session_end"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2)))
      .toSet
    assert(streamed === batch,
      s"stream sessions $streamed must equal batch twin $batch")
  }

  test("wide-band streaming near-dup agrees with the batch wide operator") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-wide").toString
    val q = graft.streaming.NearDupStream.start(
      in.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/matches", s"$base/checkpoint", wide = true)
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "metric spaces and measure theory lecture notes volume two",
      4L -> "the quick brown fox jumps over the lazy dog again and again")
    try {
      // split across two microbatches to exercise the cross-batch path
      in.addData(docs.take(3)); q.processAllAvailable()
      in.addData(docs.drop(3)); q.processAllAvailable()
      val got = graft.streaming.NearDupStream.matches(spark, s"$base/matches")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      import spark.implicits._
      val batchWide = graft.operators.Dedup
        .simhashWideNearDups(docs.toDF("doc_id", "text"))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === batchWide,
        s"stream/batch wide parity broken: stream $got vs batch $batchWide")
    } finally q.stop()
  }

  test("streaming near-dup detection matches within and across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-stream").toString
    val q = graft.streaming.NearDupStream.start(
      in.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/matches", s"$base/checkpoint")
    try {
      val dup = "the quick brown fox jumps over the lazy dog again and again"
      // batch 1: two exact dups (within-batch pair) + one distinct doc
      in.addData((1L, dup), (2L, dup),
        (3L, "metric spaces and measure theory lecture notes volume two"))
      q.processAllAvailable()
      // batch 2: another copy -> must match BOTH earlier copies cross-batch
      in.addData((4L, dup))
      q.processAllAvailable()
      val got = graft.streaming.NearDupStream.matches(spark, s"$base/matches")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 2L)), "within-batch pair missed")
      assert(got.contains((1L, 4L)) && got.contains((2L, 4L)),
        "cross-batch pairs missed")
      assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
        "distinct doc falsely matched")
    } finally q.stop()
  }

  test("streaming embedding near-dup == batch LSH operator over the union") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // real fixture vectors split across two microbatches: any same-bucket
    // pair is either within one batch (intra join) or across (store join),
    // so the stream's accumulated matches must equal the batch operator
    // on the union — exactly
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (b1, b2) = emb.partition(_._1 % 2 == 0)
    val base = java.nio.file.Files
      .createTempDirectory("graft-embdup").toString
    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.EmbedDupStream.start(
      in.toDF().toDF("vec_id", "embedding"),
      s"$base/state", s"$base/matches", s"$base/checkpoint")
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = graft.streaming.EmbedDupStream
        .matches(spark, s"$base/matches")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val want = graft.operators.Similarity
        .nearDupPairsLsh(graft.sources.Tables.embeddings(spark, sf))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got === want, s"stream matches != batch operator: " +
        s"missing ${want -- got}, extra ${got -- want}")
      assert(want.nonEmpty, "fixture produced no near-dups — weak test")
    } finally q.stop()
    // geometry marker: restarting the store with different planes fails fast
    val in2 = MemoryStream[(Long, Array[Float])]
    val q2 = graft.streaming.EmbedDupStream.start(
      in2.toDF().toDF("vec_id", "embedding"),
      s"$base/state", s"$base/matches", s"$base/cp2", numPlanes = 6)
    try {
      in2.addData(b1.head)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("lsh-signbucket") ||
        Option(e.getCause).exists(_.getMessage.contains("lsh-signbucket")))
    } finally q2.stop()
  }

  test("streaming substring dedup survives a batch that contributes no grams") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val base = java.nio.file.Files
      .createTempDirectory("graft-substr-empty").toString
    val q = graft.streaming.SubstrDedupStream.start(
      in.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/spans", s"$base/checkpoint")
    val run = (0 until 10).map(i => s"s$i").mkString(" ")
    try {
      // every doc below the k=8 gram width: the batch yields ZERO grams —
      // Spark 4's bloom builder returns a null buffer for zero rows, so an
      // unguarded sidecar merge kills the stream right here
      in.addData(1L -> "too short", 2L -> "also short")
      q.processAllAvailable()
      // the stream is still alive and later batches still dedup
      in.addData(3L -> s"a1 $run a2"); q.processAllAvailable()
      in.addData(4L -> s"b1 $run b2"); q.processAllAvailable()
      val got = graft.streaming.SubstrDedupStream
        .spans(spark, s"$base/spans").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got === Set((4L, 1, 10)), s"spans after empty batch: $got")
    } finally q.stop()
  }

  test("streaming substring dedup: spans within and across batches, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val base = java.nio.file.Files
      .createTempDirectory("graft-substr-stream").toString
    val q = graft.streaming.SubstrDedupStream.start(
      in.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/spans", s"$base/checkpoint")
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val fresh = (0 until 10).map(i => s"f$i").mkString(" ")
    val b1 = Seq(1L -> s"a1 $shared a2",
      2L -> "metric spaces and measure theory lecture notes volume two")
    val b2 = Seq(3L -> s"c1 $shared c2",   // cross-batch duplicate
      4L -> s"e1 $fresh e2",               // first occurrence of a new run
      5L -> s"g1 $fresh g2")               // intra-batch duplicate of 4
    try {
      in.addData(b1); q.processAllAvailable()
      assert(graft.streaming.SubstrDedupStream
        .spans(spark, s"$base/spans").count() === 0,
        "first batch contains no duplicates")
      in.addData(b2); q.processAllAvailable()
      val got = graft.streaming.SubstrDedupStream
        .spans(spark, s"$base/spans").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got === Set((3L, 1, 10), (5L, 1, 10)),
        s"cross-batch + intra-batch spans expected, got $got")
      // parity: the stream's second batch must equal the batch twin run
      // with batch 1 as the frozen reference
      val twin = graft.operators.Dedup
        .duplicateSpansAgainst(b2.toDF("doc_id", "text"),
          b1.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got === twin, s"stream $got != batch twin $twin")
      // the trimmed view applies the accumulated ledger: flagged copies
      // lose the run, first occurrences survive verbatim
      val trimmed = graft.streaming.SubstrDedupStream
        .trimmedDocs(spark, (b1 ++ b2).toDF("doc_id", "text"),
          s"$base/spans")
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(trimmed(3L) === "c1 c2" && trimmed(5L) === "g1 g2")
      assert(trimmed(1L) === s"a1 $shared a2" &&
        trimmed(4L) === s"e1 $fresh e2")
    } finally q.stop()
    // restarting the same store with a different gram width must fail fast
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.SubstrDedupStream.start(
      in2.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/spans", s"$base/checkpoint2", k = 12)
    try {
      in2.addData(6L -> "one two three")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("substr-grams") ||
        Option(e.getCause).exists(_.getMessage.contains("substr-grams")),
        s"expected the format-marker failure, got: ${e.getMessage}")
    } finally q2.stop()
  }

  test("substring stream replay: a crashed batch's own store rows never self-match") {
    // a batch that dies AFTER its store append replays with its own grams
    // already persisted under ITS batch id — forge that state and assert
    // the lookup's __batch_id exclusion keeps novel content span-free
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val base = java.nio.file.Files
      .createTempDirectory("graft-substr-replay").toString
    val q = graft.streaming.SubstrDedupStream.start(
      in.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/spans", s"$base/checkpoint")
    val novel = (0 until 10).map(i => s"z$i").mkString(" ")
    val b1doc = 7L -> s"h1 $novel h2"
    try {
      in.addData(1L -> "alpha beta gamma delta epsilon zeta eta theta iota")
      q.processAllAvailable() // batch 0
      // forge the failed attempt of batch 1 — same (lineage, batch id)
      // the replayed batch will run under
      val lineage = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$base/checkpoint/__graft_lineage")),
        "UTF-8").trim
      graft.operators.Dedup
        .positionalGramRows(Seq(b1doc).toDF("doc_id", "text"), 8)
        .select(col("h1"), col("h2")).distinct()
        .withColumn("gram_part", pmod(col("h1"), lit(256)).cast("int"))
        .withColumn("__batch_id", lit(1L))
        .withColumn("__lineage", lit(lineage))
        .write.mode("append").partitionBy("gram_part")
        .parquet(s"$base/state")
      in.addData(b1doc); q.processAllAvailable() // the "replayed" batch 1
      assert(graft.streaming.SubstrDedupStream
        .spans(spark, s"$base/spans").count() === 0,
        "replayed batch matched its own failed-attempt store rows")
    } finally q.stop()
  }

  test("substring stream == chained batch twin over random multi-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // small vocab + fixed seed → organic duplicated runs across batches
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd")
    val pool = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    def doc(id: Long): (Long, String) = {
      val fresh = Vector.fill(12)(s"u${id}_" + vocab(rnd.nextInt(vocab.size)))
      // ~40% of docs splice a 9-token window copied from an earlier doc —
      // the planted cross-doc duplication (9 tokens ⊃ two 8-grams)
      val toks =
        if (pool.nonEmpty && rnd.nextDouble() < 0.4) {
          val src = pool(rnd.nextInt(pool.size))
          val at = rnd.nextInt(src.size - 9 + 1)
          fresh.take(2) ++ src.slice(at, at + 9) ++ fresh.drop(11)
        } else fresh
      pool += toks
      (id, toks.mkString(" "))
    }
    val batches = Seq(
      (0L until 6L).map(doc), (6L until 12L).map(doc), (12L until 18L).map(doc))
    val base = java.nio.file.Files
      .createTempDirectory("graft-substr-multi").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.SubstrDedupStream.start(
      in.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/spans", s"$base/checkpoint")
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val got = graft.streaming.SubstrDedupStream
        .spans(spark, s"$base/spans").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      // batch twin, chained: batch k against the union of batches 0..k-1
      val want = batches.indices.flatMap { k =>
        val cur = batches(k).toDF("doc_id", "text")
        val spans =
          if (k == 0) graft.operators.Dedup.duplicateSpans(cur)
          else graft.operators.Dedup.duplicateSpansAgainst(cur,
            batches.take(k).flatten.toDF("doc_id", "text"))
        spans.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      }.toSet
      assert(got === want, s"stream $got != chained batch twin $want")
      assert(want.nonEmpty, "fixture produced no duplicated spans — weak test")
    } finally q.stop()
  }

  test("substring stream survives a Bloom-sizing change across restarts") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files
      .createTempDirectory("graft-substr-resize").toString
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.SubstrDedupStream.start(
      in1.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/spans", s"$base/cp1", expectedGrams = 1L << 12)
    try { in1.addData(1L -> s"a1 $shared a2"); q1.processAllAvailable() }
    finally q1.stop()
    // restart with an incompatible sidecar sizing: the merge falls back to
    // a store rebuild instead of killing the stream, and cross-batch
    // detection still fires
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.SubstrDedupStream.start(
      in2.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/spans", s"$base/cp2", expectedGrams = 1L << 16)
    try {
      in2.addData(2L -> s"b1 $shared b2"); q2.processAllAvailable()
      val got = graft.streaming.SubstrDedupStream
        .spans(spark, s"$base/spans").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(got === Set((2L, 1, 10)),
        s"cross-batch span must survive the sizing change, got $got")
    } finally q2.stop()
  }

  test("in-scan decontamination runs STATELESS on a stream in append mode") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // eval set: one known 3-gram run
    val eval = Seq((1000L, "alpha beta gamma")).toDF("doc_id", "text")
    val hashes = graft.operators.Dedup.shingleRows(eval)
      .select(col("h1")).distinct().collect().map(_.getLong(0)).sorted
    val in = MemoryStream[(Long, String)]
    val flagged = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.SketchExpressions
          .shingleOverlap(col("text"), hashes, 3).as("n_overlap"))
    val q = flagged.writeStream.format("memory")
      .queryName("decontam_stream_test")
      .outputMode("append").start()
    try {
      in.addData(1L -> "alpha beta gamma delta", 2L -> "novel words only here")
      q.processAllAvailable()
      val got = spark.table("decontam_stream_test")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === Map(1L -> 1L, 2L -> 0L))
      // the whole point: append mode, ZERO state operators
      assert(q.lastProgress.stateOperators.isEmpty,
        "the scan probe must not create streaming state")
    } finally q.stop()
  }

  test("ingest guard: one reason per doc, dedup is against the corpus only") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val eval = Seq((1000L, "alpha beta gamma")).toDF("doc_id", "text")
    val evalHashes = graft.operators.Dedup.shingleRows(eval)
      .select(col("h1")).distinct().collect().map(_.getLong(0)).sorted
    val base = java.nio.file.Files
      .createTempDirectory("graft-ingest").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text"), evalHashes,
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3)
    val good = "clean words about metric spaces and measure theory"
    try {
      in.addData(
        1L -> good,                                     // accepted
        2L -> "too short",                              // quality (2 tokens)
        3L -> s"intro alpha beta gamma outro and more", // contaminated
        4L -> good)                                     // within-batch dup of 1
      q.processAllAvailable()
      in.addData(
        5L -> good,                                     // cross-batch dup of 1
        6L -> "too short",  // dup of REJECTED 2 → judged on its own: quality
        7L -> "a brand new clean document arrives here")// accepted
      q.processAllAvailable()
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(acc === Set(1L, 7L), s"accepted: $acc")
      assert(rej === Map(2L -> "quality", 3L -> "contaminated",
        4L -> "exact_dup", 5L -> "exact_dup", 6L -> "quality"),
        s"rejects: $rej")
      // the two ledgers PARTITION the input: every doc in exactly one
      assert(acc.intersect(rej.keySet).isEmpty, "doc in both ledgers")
      assert(acc ++ rej.keySet === (1L to 7L).toSet, "doc lost by the guard")
    } finally q.stop()
  }

  test("ingest guard replay: a crashed batch's own fingerprints are not dups") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-ingest-replay").toString
    val good = "clean words about metric spaces and measure theory"
    // forge the failed attempt: the doc's own fingerprint already in the
    // store under (this lineage, batch 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val lineage = graft.streaming.Streams.lineageId(conf, s"$base/checkpoint")
    val fp = Seq(good).toDF("text")
      .select(expr(graft.functions.Hashing.hash64(
        "regexp_replace(trim(lower(text)), '\\\\s+', ' ')")).as("fp"))
      .head().getLong(0)
    Seq((fp, (fp % 256).toInt, 0L, lineage))
      .toDF("__fp", "fp_part", "__batch_id", "__lineage")
      .write.partitionBy("fp_part").parquet(s"$base/state")
    // the failed attempt's start had stamped the store's format marker
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/state.__format"),
      "guard-fps/v2/parts=256")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3)
    try {
      in.addData(1L -> good); q.processAllAvailable()
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      assert(acc === Set(1L),
        "replayed batch rejected its own half-persisted fingerprint")
    } finally q.stop()
  }

  test("ingest guard: a REJECTED lower-id twin does not make its double an exact_dup") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-ingest-gate").toString
    // Same normalized fingerprint (whitespace-only difference), different
    // quality verdicts: the compact form's punct_ratio 3/20 = 0.15 fails
    // the 0.10 gate, the padded form's 3/32 ≈ 0.094 passes. Dedup is
    // against the CORPUS: since the rejected doc never entered it, the
    // padded doc must be accepted — not charged exact_dup for ranking
    // second behind a reject-pile twin.
    val compact = "!!! alpha beta gamma"
    val padded = "!!!     alpha     beta     gamma"
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3, maxPunctRatio = 0.10)
    try {
      in.addData(1L -> compact, 2L -> padded)
      q.processAllAvailable()
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej === Map(1L -> "quality"), s"rejects: $rej")
      assert(acc === Set(2L),
        s"padded twin of a quality-reject must enter the corpus: $acc")
      // and the fingerprint DID enter the corpus store, so a later true
      // duplicate is still caught cross-batch
      in.addData(3L -> padded)
      q.processAllAvailable()
      val rej2 = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej2(3L) === "exact_dup", s"rejects after batch 2: $rej2")
    } finally q.stop()
  }

  test("ingest guard views: at-ingest analytics equal their batch twins on the accepted subset") {
    // the EP2→EP3 composition: the guard decides accept/reject AND folds
    // the r10 view family (count/sum + token histogram + HLL distinct
    // fingerprints, per source) over the survivors in the same
    // foreachBatch — this pins that every view read off the stores equals
    // the same statistic recomputed from the accepted LEDGER (the views
    // never see a doc the guard rejected, and never miss one it kept)
    import graft.streaming.IngestGuard
    import graft.functions.QuantileView
    val base = java.nio.file.Files
      .createTempDirectory("graft-ingest-views").toString
    val inDir = s"$base/in"
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source")).cache()
    try {
      (0 until 3).foreach { c =>
        docs.filter(pmod(col("doc_id"), lit(3)) === c)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val views = IngestGuard.Views(s"$base/views", groupCol = "source",
        compactEvery = 2)
      val q = IngestGuard.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        Array.empty[Long], s"$base/state", s"$base/accepted",
        s"$base/rejects", s"$base/checkpoint", views = Some(views))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      q.stop()
      // the batch twin: recompute every statistic from the accepted ledger
      val accQ = graft.operators.TextAnalysis.withQualityCols(
        IngestGuard.accepted(spark, s"$base/accepted"))
        .withColumn("__fp", expr(graft.functions.Hashing.hash64(
          "regexp_replace(trim(lower(text)), '\\\\s+', ' ')")))
        .select(col("source").cast("string").as("grp"),
          col("n_tokens").cast("double").as("n_tokens"), col("__fp"))
        .cache()
      try {
        assert(accQ.count() > 0, "fixture must yield accepted docs")
        // (1) count/sum view — exact
        val gotCounts = IngestGuard.viewCounts(spark, views.baseDir)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2))).toMap
        val wantCounts = accQ.groupBy(col("grp"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_tokens")).cast("long").as("s"))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2))).toMap
        assert(gotCounts === wantCounts)
        // (2) histogram view — same grid ⇒ same percentiles, exactly
        def walk(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getString(0) ->
            (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
        val gotQ = walk(IngestGuard.viewQuantiles(spark, views.baseDir))
        val wantQ = walk(QuantileView.quantilesByGroup(
          QuantileView.sketchByFixed(accQ, "grp", "n_tokens",
            0.0, views.histMax, views.histBins)))
        assert(gotQ === wantQ)
        // (3) HLL view — register-max associativity ⇒ BIT-identical
        val gotD = IngestGuard.viewDistinct(spark, views.baseDir)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val wantD = accQ.groupBy(col("grp"))
          .agg(hll_sketch_estimate(
            hll_sketch_agg(col("__fp"), lit(views.lgK))).as("d"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(gotD === wantD)
      } finally { accQ.unpersist(); () }
    } finally { docs.unpersist(); () }
  }

  test("ingest guard quota: per-source caps admit in deterministic order " +
      "and the counts view stays load-bearing") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-ingest-quota").toString
    val in = MemoryStream[(Long, String, String)]
    def doc(i: Long, src: String) =
      (i, s"unique document number $i with sufficient extra words", src)
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text", "source"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3,
      views = Some(graft.streaming.IngestGuard.Views(s"$base/views",
        groupCol = "source", maxPerGroup = Some(3L), compactEvery = 2)))
    try {
      // admission order is batches-in-order, doc_id ascending per batch:
      // cap 3 per source ⇒ A admits 1,2,4 (5 over), B admits 3,6,7 (9 over)
      in.addData(doc(1, "A"), doc(2, "A"), doc(3, "B"))
      q.processAllAvailable()
      in.addData(doc(4, "A"), doc(5, "A"), doc(6, "B"), doc(7, "B"))
      q.processAllAvailable()
      in.addData(doc(8, "A"), doc(9, "B")) // batch 2: compaction batch
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(acc === Set(1L, 2L, 3L, 4L, 6L, 7L), s"accepted: $acc")
      assert(rej === Map(5L -> "quota", 8L -> "quota", 9L -> "quota"),
        s"rejects: $rej")
      // the load-bearing view agrees with the ledger it governed
      val counts = graft.streaming.IngestGuard
        .viewCounts(spark, s"$base/views")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === Map("A" -> 3L, "B" -> 3L), s"counts: $counts")
    } finally q.stop()
  }

  test("ingest guard quota replay: a crashed batch's own counts commit does " +
      "not shrink its retry's quota") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-quota-replay").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val lineage = graft.streaming.Streams.lineageId(conf, s"$base/checkpoint")
    // forge the failed first attempt: batch 0's counts fold COMMITTED
    // (batch=<lineage>-0 partition says 2 docs already admitted for A),
    // then the crash before the checkpoint commit. The retry of batch 0
    // must decide from the strictly-pre-batch state (empty), or caps
    // would shrink by one whole batch on every replay.
    val countsDir = s"$base/views/counts"
    Seq(("A", 2L, 12L)).toDF("grp", "cnt", "sum_tokens")
      .coalesce(1).write.parquet(s"$countsDir/batch=$lineage-0")
    val fs = new org.apache.hadoop.fs.Path(countsDir).getFileSystem(conf)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(countsDir + ".__format"), true)
    out.write("guard-counts/grp=source".getBytes("UTF-8")); out.close()
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text", "source"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3,
      views = Some(graft.streaming.IngestGuard.Views(s"$base/views",
        groupCol = "source", maxPerGroup = Some(2L))))
    try {
      in.addData(
        (1L, "unique document number one with sufficient extra words", "A"),
        (2L, "unique document number two with sufficient extra words", "A"),
        (3L, "unique document number three with sufficient extra words", "A"))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(acc === Set(1L, 2L),
        s"retry must ignore its own first attempt's counts; accepted: $acc")
      assert(rej === Map(3L -> "quota"), s"rejects: $rej")
      // and the counts store did NOT double-commit batch 0 (the forged
      // record is batch 0's commit; foldAppendOnce must skip the refold)
      val total = spark.read.parquet(countsDir)
        .agg(sum(col("cnt"))).head().getLong(0)
      assert(total === 2L, s"batch 0 double-committed: total $total")
    } finally q.stop()
  }

  test("ingest guard pruned probe: a bloom-all-negative batch never reads the store") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-ingest-prune").toString
    // Run 1 accepts a seed doc through the guard's own path, which
    // writes the per-part Bloom BASE file for the seed's fp partition.
    // Then that partition's store data is POISONED (a garbage file whose
    // footer kills any read) and the guard restarts from the same
    // checkpoint: a second doc hashing into the SAME partition is
    // bloom-negative against the reloaded shard, so the guard must make
    // its whole decision without ever opening the store.
    val stateDir = s"$base/state"
    def partsOf(texts: Seq[String]) = texts.toDF("text")
      .select(col("text"), pmod(expr(graft.functions.Hashing.hash64(
        "regexp_replace(trim(lower(text)), '\\\\s+', ' ')")), lit(256))
        .cast("int").as("p"))
    val seed = "seed words about compact operators and spectral theory"
    val seedPart = partsOf(Seq(seed)).head().getInt(1)
    val in = MemoryStream[(Long, String)]
    def run(batch: (Long, String)): Unit = {
      val q = graft.streaming.IngestGuard.start(
        in.toDF().toDF("doc_id", "text"), Array.empty[Long],
        stateDir, s"$base/accepted", s"$base/rejects",
        s"$base/checkpoint", minTokens = 3)
      try {
        in.addData(batch)
        q.processAllAvailable()
        q.exception.foreach(throw _)
      } finally q.stop()
    }
    run(1L -> seed)
    assert(new java.io.File(graft.streaming.BloomShards
        .sidecarDir(stateDir) + s"/base/p$seedPart").exists(),
      "run 1 must persist the seed partition's Bloom base file")
    // a second clean doc in the SAME fp partition (searched over clean
    // word-pair suffixes so the quality gate stays indifferent)
    val vocab = Seq("river", "garden", "stone", "window", "music",
      "forest", "candle", "harbor", "meadow", "lantern", "orchard",
      "valley", "bridge", "winter", "summer", "autumn")
    val candidates = for { a <- vocab; b <- vocab } yield
      s"clean words about metric spaces and measure theory $a $b"
    val good = partsOf(candidates).filter(col("p") === seedPart)
      .head().getString(0)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        s"$stateDir/fp_part=$seedPart/zzz-poison.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    // the poison is live: reading the store really would fail
    intercept[Exception] { spark.read.parquet(stateDir).collect() }
    run(2L -> good)
    val acc = graft.streaming.IngestGuard
      .accepted(spark, s"$base/accepted")
      .collect().map(_.getLong(0)).toSet
    assert(acc === Set(1L, 2L),
      "bloom-all-negative batch must decide without the store")
  }

  test("ingest guard probe IO: pushed candidate fps read candidate row " +
      "groups, not the partition") {
    // the round-13 geometry claim, asserted from the engine's own task
    // metrics: the fingerprint store can never retention-prune, so
    // partition pruning alone leaves an O(store/parts) read per probe —
    // appends sorted on __fp + the candidate fps pushed as point
    // predicates must bound the read by the CANDIDATES' row groups
    // (parquet min/max stats on the sorted files), not the partition
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-probe-io").toString + "/state"
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    // ~128 KB row groups so the 2M-row partition has ~100+ of them
    hc.setInt("parquet.block.size", 128 * 1024)
    try {
      // ONE fp_part partition holding 2M fingerprints, appended the way
      // the guard appends (sorted on __fp within the file)
      graft.streaming.Streams.appendPartitioned(
        spark.range(0L, 2000000L)
          .select((col("id") * 2654435761L).as("__fp"))
          .withColumn("fp_part", lit(0))
          .withColumn("__lineage", lit("lin"))
          .withColumn("__batch_id", lit(0L)),
        dir, "fp_part", sortCols = Seq("__fp"))
    } finally oldBlock.fold(hc.unset("parquet.block.size"))(
      hc.set("parquet.block.size", _))
    // 12 candidates — 11 present scattered across the partition, 1
    // absent — UNDER the guard's raised inFilterThreshold (parquet's
    // native large-set In prunes only on the set's min..max, useless
    // for uniform hashes; or-of-eq prunes per value, which is why the
    // guard raises the threshold to its pushdown cap at start). The
    // probe is the guard's own read shape: partition filter, pushed fp
    // candidates, lineage exclusion.
    val present = Seq(3L, 180000L, 360000L, 540000L, 720000L, 900000L,
      1080000L, 1260000L, 1440000L, 1620000L, 1999999L)
      .map(_ * 2654435761L)
    val cands = (present :+ 7L).toIndexedSeq
    val inThreshold = "spark.sql.parquet.pushdown.inFilterThreshold"
    val oldThreshold = spark.conf.get(inThreshold, "10")
    spark.conf.set(inThreshold, "64") // the guard's default cap
    val (got, probe) = try {
      val p = spark.read.parquet(dir)
        .filter(col("fp_part").isin(0))
        .filter(col("__fp").isin(cands: _*))
        .filter(!(col("__lineage") <=> lit("other-lineage") &&
          col("__batch_id") === lit(9L)))
      (p.collect().map(_.getAs[Long]("__fp")).toSet, p)
    } finally spark.conf.set(inThreshold, oldThreshold)
    assert(got === present.toSet,
      "pushed probe must still return exactly the present candidates")
    // the engine's own scan metric: with the vectorized reader,
    // numOutputRows counts DECODED rows — rows of the row groups/pages
    // that survived the pushed predicates (per-row filtering happens
    // above the scan) — so this IS "probe IO bounded by the candidates'
    // row groups". 12 candidates × ~16k-row groups ≈ 200k worst case,
    // vs 2M for the partition.
    val decoded = org.apache.spark.sql.GraftColumnBridge
      .scanOutputRows(probe)
    assert(decoded > 0, "scan metric empty — the probe ran no file scan?")
    assert(decoded * 4 < 2000000L,
      s"probe decoded $decoded of the partition's 2000000 rows — the " +
        "pushed candidates are not pruning row groups inside the partition")
  }

  test("ingest guard Bloom shards: a saturated slice rebuilds at doubled " +
      "capacity and the probe stays exact") {
    // the silent-saturation failure mode of a fixed-size global filter
    // (degrades to all-positive = full pruned read every batch, no error
    // anywhere): per-part shards track n_items, a saturated shard is
    // rebuilt from ITS store partition at doubled capacity, and
    // correctness never depends on the sidecar — duplicates are still
    // caught and fresh docs still admitted across the migration
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-bloom-sat").toString
    val in = MemoryStream[(Long, String)]
    // tiny geometry: 2 slices, each shard starting at 64 items — ~240
    // accepted docs saturate both slices twice over
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3, fpParts = 2)
    try {
      (0 until 4).foreach { b =>
        in.addData((0 until 60).map(i =>
          (b * 60L + i, s"wholly unique document number ${b * 60 + i} " +
            s"about subject ${b * 60 + i} with several extra words")): _*)
        q.processAllAvailable()
      }
      // a cross-batch duplicate of the very first doc, post-migration
      in.addData(9999L -> ("wholly unique document number 0 " +
        "about subject 0 with several extra words"))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted").count()
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(acc === 240L, s"every fresh doc must be admitted: $acc")
      assert(rej === Map(9999L -> "exact_dup"), s"rejects: $rej")
      // and the sidecar really did migrate: capacity grew past the
      // initial 64-item slice sizing
      val lineage = graft.streaming.Streams.lineageId(
        spark.sparkContext.hadoopConfiguration, s"$base/checkpoint")
      val caps = graft.streaming.BloomShards
        .baseMeta(spark, s"$base/state", lineage).values.map(_._1)
      assert(caps.nonEmpty && caps.max >= 128L,
        s"saturated shards must rebuild at doubled capacity: ${caps.toSeq}")
    } finally q.stop()
  }

  test("ingest guard fp geometry is pinned: a mismatched restart or an " +
      "unmarked store fails fast") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-fp-geom").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3, fpParts = 4)
    try {
      in.addData(1L -> "a first clean document about metric spaces")
      q.processAllAvailable()
      q.exception.foreach(throw _)
    } finally q.stop()
    // restart the same store under a DIFFERENT partition count: the
    // probe's pruning, the shard index, and the layout key would all
    // disagree with the store — must fail fast, not silently mismatch
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.IngestGuard.start(
      in2.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint2", minTokens = 3, fpParts = 8)
    try {
      in2.addData(2L -> "a second clean document about measure theory")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("parts=4"),
        s"mismatch must name the store's pinned geometry: ${e.getMessage}")
    } finally q2.stop()
    // a store directory with contents but no marker is refused under
    // any configured count, the default 256 included: nothing adopts it
    val unmarkedDir = s"$base/unmarked"
    Seq((123L, 123, 0L, "old-lin"))
      .toDF("__fp", "fp_part", "__batch_id", "__lineage")
      .write.partitionBy("fp_part").parquet(unmarkedDir)
    Seq(256, 8).foreach { parts =>
      val in3 = MemoryStream[(Long, String)]
      val q3 = graft.streaming.IngestGuard.start(
        in3.toDF().toDF("doc_id", "text"), Array.empty[Long],
        unmarkedDir, s"$base/accepted$parts", s"$base/rejects$parts",
        s"$base/checkpoint$parts", minTokens = 3, fpParts = parts)
      try {
        in3.addData(3L -> "a third clean document about lecture notes")
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q3.processAllAvailable()
        }
        assert(e.getMessage.contains("carries no IngestGuard format marker"),
          s"an unmarked store must be refused (fpParts=$parts): " +
            e.getMessage)
      } finally q3.stop()
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$unmarkedDir.__format")),
      "a refused store must not be stamped")
  }

  test("ingest guard Bloom shards: a fresh-checkpoint adoption ignores " +
      "foreign-lineage rows and still catches the dup") {
    // batch ids are checkpoint-scoped, so ordering sidecar rows from
    // different lineages by batch id could let a STALE shard shadow a
    // newer one — and a stale Bloom has FALSE NEGATIVES, the one failure
    // the probe can't absorb. The loader trusts only current-lineage
    // rows; an adopted store's live partitions rebuild on first touch.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-bloom-adopt").toString
    val good = "clean words about metric spaces and measure theory"
    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.IngestGuard.start(
      in1.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint1", minTokens = 3)
    try {
      in1.addData(1L -> good); q1.processAllAvailable()
      q1.exception.foreach(throw _)
    } finally q1.stop()
    // adopt under a FRESH checkpoint: the sidecar's rows are now
    // foreign-lineage; a dup of doc 1 must still be rejected
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.IngestGuard.start(
      in2.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint2", minTokens = 3)
    try {
      in2.addData(2L -> good,
        3L -> "a wholly new document arriving under the new lineage")
      q2.processAllAvailable()
      q2.exception.foreach(throw _)
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      assert(rej === Map(2L -> "exact_dup"), s"rejects: $rej")
      assert(acc === Set(1L, 3L), s"accepted: $acc")
    } finally q2.stop()
  }

  test("ingest guard fp-store compaction: files collapse to one per " +
      "partition and the probe still catches dups") {
    // the store can never retention-prune, so appends accumulate one
    // file per touched partition per batch forever — the maintenance
    // compaction (run with the stream STOPPED, single-writer) rewrites
    // each partition to one sorted file, restoring the
    // one-row-group-per-candidate probe layout
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-fp-compact").toString
    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.IngestGuard.start(
      in1.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3, fpParts = 4)
    try {
      (0 until 5).foreach { b =>
        in1.addData((0 until 20).map(i =>
          (b * 20L + i, s"wholly unique document number ${b * 20 + i} " +
            s"about subject ${b * 20 + i} with several extra words")): _*)
        q1.processAllAvailable()
      }
      q1.exception.foreach(throw _)
    } finally q1.stop()
    def filesPerPart(): Map[String, Int] = {
      val root = new java.io.File(s"$base/state")
      root.listFiles().filter(_.getName.startsWith("fp_part="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    assert(filesPerPart().values.max > 1,
      s"fixture must accumulate files first: ${filesPerPart()}")
    graft.streaming.IngestGuard.compactFpStore(spark, s"$base/state")
    assert(filesPerPart().values.forall(_ == 1),
      s"compaction must leave one file per partition: ${filesPerPart()}")
    // a fresh query over the compacted store (a MemoryStream cannot
    // resume a checkpoint): the probe still works — a dup of a
    // pre-compaction doc is caught, fresh passes
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.IngestGuard.start(
      in2.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint2", minTokens = 3, fpParts = 4)
    try {
      in2.addData(
        999L -> ("wholly unique document number 7 about subject 7 " +
          "with several extra words"),
        1000L -> "a brand new document arriving after the compaction")
      q2.processAllAvailable()
      q2.exception.foreach(throw _)
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej === Map(999L -> "exact_dup"), s"rejects: $rej")
      assert(graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted").count() === 101)
    } finally q2.stop()
  }

  test("ingest guard Bloom shards: an adopted oversized slice is sized " +
      "from its count in one rebuild") {
    // round-13 review finding: rebuilding an arbitrarily large adopted
    // partition at the configured slice sizing births a saturated
    // filter and re-reads the partition once per capacity doubling —
    // the unknown-count slices are counted first (one job) so the
    // rebuild lands at a covering capacity immediately
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-bloom-sized").toString
    val in1 = MemoryStream[(Long, String)]
    // shards start at 64 items over 2 parts; 300 accepted docs make
    // each slice ~150 — past TWO doublings of the initial capacity
    val q1 = graft.streaming.IngestGuard.start(
      in1.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint1", minTokens = 3, fpParts = 2)
    try {
      in1.addData((0 until 300).map(i =>
        (i.toLong, s"wholly unique document number $i about " +
          s"subject $i with several extra words")): _*)
      q1.processAllAvailable(); q1.exception.foreach(throw _)
    } finally q1.stop()
    // fresh checkpoint = foreign sidecar rows = unknown-count slices
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.IngestGuard.start(
      in2.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint2", minTokens = 3, fpParts = 2)
    try {
      in2.addData(
        1000L -> ("wholly unique document number 7 about " +
          "subject 7 with several extra words"), // dup of doc 7
        1001L -> "a genuinely new document arriving after adoption")
      q2.processAllAvailable(); q2.exception.foreach(throw _)
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej === Map(1000L -> "exact_dup"), s"rejects: $rej")
      // ONE batch after adoption, the rebuilt shards already cover
      // their ~150-item slices: capacity jumped straight past two
      // doublings and the shard is NOT saturated at birth (the first
      // lineage's base files are foreign — only the adopting lineage's
      // bases are its current shards)
      val lineage2 = graft.streaming.Streams.lineageId(
        spark.sparkContext.hadoopConfiguration, s"$base/checkpoint2")
      val shardRows = graft.streaming.BloomShards
        .baseMeta(spark, s"$base/state", lineage2).values
        .map { case (cap, n, _) => (cap, n) }
      assert(shardRows.exists(_._1 >= 256L),
        s"adopted slice must be sized from its count: ${shardRows.toSeq}")
      assert(shardRows.forall { case (cap, n) => n < cap },
        s"no shard may be saturated at birth: ${shardRows.toSeq}")
    } finally q2.stop()
  }

  test("ingest guard near-dup: reason precedence, corpus-only store, and " +
      "one-level within-batch chains") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val eval = Seq((1000L, "alpha beta gamma")).toDF("doc_id", "text")
    val evalHashes = graft.operators.Dedup.shingleRows(eval)
      .select(col("h1")).distinct().collect().map(_.getLong(0)).sorted
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-guard").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text"), evalHashes,
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3,
      nearDup = Some(graft.streaming.IngestGuard.NearDup(s"$base/bands")))
    val baseDoc = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    // light edit: same tokens, one appended — high shingle overlap, NOT
    // the same normalized fingerprint (so never exact_dup); the batch
    // operator proves the pair band-collides, so the expectation is
    // derived, not hoped
    val nearCopy = baseDoc + " appendix"
    assert(graft.operators.Dedup.minhashCandidatePairs(
      Seq((1L, baseDoc), (2L, nearCopy)).toDF("doc_id", "text"))
      .count() === 1, "fixture pair must band-collide")
    val unrelated = "an entirely different document about orchard " +
      "irrigation schedules and autumn harvest logistics planning"
    try {
      in.addData(1L -> baseDoc)
      q.processAllAvailable()
      in.addData(
        3L -> nearCopy,             // cross-batch near-dup of accepted 1
        4L -> baseDoc,              // exact dup of 1 → exact_dup, NOT near_dup
        5L -> (nearCopy + " intro alpha beta gamma"), // contaminated wins
        6L -> unrelated)            // accepted
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      assert(rej === Map(3L -> "near_dup", 4L -> "exact_dup",
        5L -> "contaminated"), s"rejects: $rej")
      assert(acc === Set(1L, 6L), s"accepted: $acc")
      // within-batch: two fresh near-copies of each other — the lower
      // doc_id is kept, the higher charged near_dup; and a near-copy of
      // a REJECTED doc stays judged on its own merits (corpus-only
      // store: doc 3 never entered it, so a copy of 3's text is only a
      // near-dup of 1 via the shared shingles — still caught; use a
      // FRESH pair to prove the rejected-doc path cleanly)
      val freshA = "planetary orbits precess under relativistic " +
        "corrections measured by interferometric satellites yearly"
      val freshB = freshA + " almanac"
      in.addData(7L -> freshA, 8L -> freshB)
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val rej2 = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej2(8L) === "near_dup",
        s"within-batch near-copy must lose to the lower doc_id: $rej2")
      assert(!rej2.contains(7L), s"the kept side must be accepted: $rej2")
    } finally q.stop()
  }

  test("ingest guard retirement: retireDocs makes the guard FORGET an " +
      "erased doc — future exact and near twins are judged on their own " +
      "merits and accepted, through the deliberately-stale Bloom sidecar " +
      "on a same-checkpoint resume") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-guard-retire").toString
    val baseDoc = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    val nearCopy = baseDoc + " appendix"
    assert(graft.operators.Dedup.minhashCandidatePairs(
      Seq((1L, baseDoc), (2L, nearCopy)).toDF("doc_id", "text"))
      .count() === 1, "fixture pair must band-collide")
    val unrelated = "an entirely different document about orchard " +
      "irrigation schedules and autumn harvest logistics planning"
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def land(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    def startGuard() = graft.streaming.IngestGuard.start(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/ckpt", minTokens = 3,
      nearDup = Some(graft.streaming.IngestGuard.NearDup(s"$base/bands")))
    land(Seq(0L -> unrelated, 1L -> baseDoc))
    val q = startGuard()
    try {
      q.processAllAvailable()
      land(Seq(2L -> baseDoc, 3L -> nearCopy))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val rej = graft.streaming.IngestGuard.rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej === Map(2L -> "exact_dup", 3L -> "near_dup"),
        s"pre-retirement the twins must be convicted: $rej")
    } finally q.stop()
    // the doc is erased from the corpus: the guard must forget it —
    // its fp leaves the store, its band rows leave the band store.
    // Retirement is BY ID AGAINST THE ACCEPTED LEDGER: passing the
    // REJECTED twin's id (2) must retire nothing (it was never in the
    // corpus — retiring by its text would have dropped the live doc
    // 1's fp and silently un-guarded it)
    val fpRowsBefore = spark.read.parquet(s"$base/state").count()
    graft.streaming.IngestGuard.retireDocs(spark,
      Seq(2L).toDF("doc_id"), s"$base/accepted",
      s"$base/state", Some(s"$base/bands"))
    assert(spark.read.parquet(s"$base/state").count() === fpRowsBefore,
      "retiring a never-accepted id must retire nothing")
    graft.streaming.IngestGuard.retireDocs(spark,
      Seq(1L).toDF("doc_id"), s"$base/accepted",
      s"$base/state", Some(s"$base/bands"))
    // idempotent: re-running retires nothing new
    graft.streaming.IngestGuard.retireDocs(spark,
      Seq(1L).toDF("doc_id"), s"$base/accepted",
      s"$base/state", Some(s"$base/bands"))
    assert(spark.read.parquet(s"$base/state").count() === fpRowsBefore - 1,
      "the erased doc's fingerprint must leave the fp store")
    assert(spark.read.parquet(s"$base/bands")
      .filter(col("doc_id") === 1L).isEmpty,
      "the erased doc's band rows must leave the band store")
    // the sidecar is deliberately NOT rewritten: its own-lineage base
    // still CLAIMS the retired fp (a filter cannot unlearn) — assert
    // the stale bit directly, then prove the decision stays exact
    // through it on a SAME-checkpoint resume (same lineage → the stale
    // base is what the restarted guard actually loads)
    val lin = graft.streaming.Streams.lineageId(
      spark.sparkContext.hadoopConfiguration, s"$base/ckpt")
    val retiredFp = Seq(Tuple1(baseDoc)).toDF("text")
      .select(graft.streaming.IngestGuard.fpExpr.as("fp")).head().getLong(0)
    val part = java.lang.Math.floorMod(retiredFp, 256L).toInt
    val stale = graft.streaming.BloomShards.prepare(spark, s"$base/state",
      "fp_part", col("__fp"), lin, Seq(part),
      new graft.streaming.BloomShards.Cache, 64L, 0.01)
    assert(stale.shards.get(part).exists(_.bloom.mightContainLong(retiredFp)),
      "fixture must exercise the stale-positive path: the sidecar still " +
        "claims the retired fp (exactness must come from the store confirm)")
    val q2 = startGuard()
    try {
      land(Seq(10L -> baseDoc)) // identical text: no longer a dup OF anything
      q2.processAllAvailable()
      land(Seq(
        11L -> nearCopy,   // near twin of 10 (re-admitted) — convicted again
        12L -> unrelated)) // twin of the NOT-retired doc 0 — still exact_dup
      q2.processAllAvailable()
      q2.exception.foreach(throw _)
      val acc2 = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      val rej2 = graft.streaming.IngestGuard.rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(acc2 === Set(0L, 1L, 10L),
        s"a twin of an ERASED doc must be judged on its own merits: $acc2")
      assert(rej2 === Map(2L -> "exact_dup", 3L -> "near_dup",
        11L -> "near_dup", 12L -> "exact_dup"),
        s"retirement is per-doc, not a wipe — the re-admitted doc and " +
          s"the untouched doc both guard the corpus: $rej2")
    } finally q2.stop()
    // the TEMPORAL replay hazard (in-round review finding): doc 10
    // re-admitted baseDoc's text under a new id, and the accepted
    // ledger still resolves the OLD id 1 to that same text forever —
    // a replayed retirement of id 1 must NOT resolve the text again
    // and drop doc 10's live fingerprint (the retired-ids ledger skips
    // applied ids)
    val fpRowsAfter = spark.read.parquet(s"$base/state").count()
    graft.streaming.IngestGuard.retireDocs(spark,
      Seq(1L).toDF("doc_id"), s"$base/accepted",
      s"$base/state", Some(s"$base/bands"))
    assert(spark.read.parquet(s"$base/state").count() === fpRowsAfter,
      "a replayed retirement after re-admission must not un-guard the " +
        "re-admitted doc (its fp must stay in the store)")
    val q3 = startGuard()
    try {
      land(Seq(13L -> baseDoc)) // twin of the RE-ADMITTED doc 10
      q3.processAllAvailable()
      q3.exception.foreach(throw _)
      val rej3 = graft.streaming.IngestGuard.rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej3.get(13L).contains("exact_dup"),
        s"doc 10 must still guard the corpus after the replayed " +
          s"retirement: $rej3")
    } finally q3.stop()
  }

  test("ingest guard retirement: a retired doc_id is never REUSED — " +
      "accepting a new doc under it fails fast (its later retirement " +
      "would silently no-op), and unretireDocs is the explicit replay " +
      "hatch") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-guard-reuse").toString
    val docA = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    val docB = "an entirely different document about orchard " +
      "irrigation schedules and autumn harvest logistics planning"
    val schema = Seq((0L, "x")).toDF("doc_id", "text").schema
    def land(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    def startGuard() = graft.streaming.IngestGuard.start(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/ckpt", minTokens = 3)
    land(Seq(1L -> docA))
    val q = startGuard()
    try { q.processAllAvailable(); q.exception.foreach(throw _) }
    finally q.stop()
    graft.streaming.IngestGuard.retireDocs(spark,
      Seq(1L).toDF("doc_id"), s"$base/accepted", s"$base/state")
    // a NEW document reusing the retired id: the batch must fail
    // loudly BEFORE any ledger write — silently accepting it would
    // leave its fingerprint un-erasable forever
    land(Seq(1L -> docB))
    val q2 = startGuard()
    val failed =
      try {
        q2.processAllAvailable()
        q2.exception
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          Some(e)
      } finally q2.stop()
    assert(failed.exists(e =>
      String.valueOf(e.getMessage) .contains("retired-ids ledger") ||
        Option(e.getCause).exists(
          _.getMessage.contains("retired-ids ledger"))),
      s"reusing a retired id must fail fast naming the ledger: $failed")
    assert(!graft.streaming.IngestGuard.accepted(spark, s"$base/accepted")
      .collect().map(_.getString(1)).contains(docB),
      "the refused batch must not have landed its doc in the ledger")
    // the documented hatch: unretire the id, the replay lands, and the
    // retirement can then be re-run (now resolving BOTH texts under
    // the id) — erasure stays operable end to end
    graft.streaming.IngestGuard.unretireDocs(spark, s"$base/state",
      Seq(1L).toDF("doc_id"))
    val q3 = startGuard()
    try { q3.processAllAvailable(); q3.exception.foreach(throw _) }
    finally q3.stop()
    val acc = graft.streaming.IngestGuard
      .accepted(spark, s"$base/accepted").collect()
    assert(acc.map(_.getString(1)).contains(docB),
      "after unretireDocs the pinned replay must land")
    graft.streaming.IngestGuard.retireDocs(spark,
      Seq(1L).toDF("doc_id"), s"$base/accepted", s"$base/state")
    // both texts resolved under the reused id, so the fp store kept
    // NOTHING — a rewrite that keeps nothing drops the dir whole
    // (rewriteStore's contract: a zero-row partitioned dir would have
    // no schema footer)
    val fs = new org.apache.hadoop.fs.Path(s"$base/state").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/state")),
      "re-running the retirement must erase every fingerprint the " +
        "reused id resolves to")
  }

  test("ingest guard near-dup: a near-dup winner's same-batch fp-twin is " +
      "charged near_dup, not exact_dup") {
    // the quota-twin rule's sibling (round-13 self-review): the winner's
    // fingerprint never entered the corpus, so exact_dup would be a lie —
    // but identical fp means identical normalized text, which near-dups
    // whatever the winner near-dupped, so near_dup is the honest reason
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-twin").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3,
      nearDup = Some(graft.streaming.IngestGuard.NearDup(s"$base/bands")))
    val baseDoc = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    val nearCopy = baseDoc + " appendix" // est 1.0 — certain collision
    try {
      in.addData(1L -> baseDoc)
      q.processAllAvailable()
      // batch 2: doc 2 is nearCopy's fp winner and near-dups accepted 1;
      // doc 3 shares doc 2's fp exactly — its text also near-dups 1
      in.addData(2L -> nearCopy, 3L -> nearCopy)
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej === Map(2L -> "near_dup", 3L -> "near_dup"),
        s"rejects: $rej")
    } finally q.stop()
  }

  test("ingest guard near-dup: a collision with a quota-rejected keeper " +
      "stands (the pinned over-rejection bias)") {
    // round-13 review finding, resolved by PINNING rather than fixing:
    // quota is decided after near-dup under the precedence, so a doc
    // whose only collision is with a same-batch keeper that quota later
    // rejects stays near_dup — re-admitting it would shift quota ranks
    // in ITS group, the exact fixpoint the quota-twin rule refuses.
    // Batch-confined, biases toward over-rejection, never corpus
    // corruption.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.IngestGuard
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-quota").toString
    val in = MemoryStream[(Long, String, String)]
    val q = IngestGuard.start(
      in.toDF().toDF("doc_id", "text", "source"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3,
      views = Some(IngestGuard.Views(s"$base/views", groupCol = "source",
        maxPerGroup = Some(1L))),
      nearDup = Some(IngestGuard.NearDup(s"$base/bands")))
    val textX = "planetary orbits precess under relativistic " +
      "corrections measured by interferometric satellites yearly"
    try {
      in.addData(
        // group G: doc 1 takes the quota slot, doc 2 (fresh text X)
        // overflows it; doc 3 (group H) is a near-copy of X only
        (1L, "a perfectly unique first document for source G", "G"),
        (2L, textX, "G"),
        (3L, textX + " almanac", "H"))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val rej = IngestGuard.rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val acc = IngestGuard.accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      assert(rej === Map(2L -> "quota", 3L -> "near_dup"),
        s"rejects: $rej")
      assert(acc === Set(1L), s"accepted: $acc")
      // and the bias is batch-confined: the same near-copy arriving
      // LATER is judged against the corpus only (X never entered it)
      in.addData((4L, textX + " almanac", "H"))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val acc2 = IngestGuard.accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      assert(acc2 === Set(1L, 4L),
        s"the next batch must judge the copy on corpus merits: $acc2")
    } finally q.stop()
  }

  test("ingest guard near-dup: minEst gates on estimated similarity " +
      "strength, and band geometry is format-pinned") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.IngestGuard
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-est").toString
    val baseDoc = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    // one mid-text word swapped: still band-collides, but several
    // min-hashes disagree — a strictly INTERIOR estimate (0.8125 for
    // these fixed texts), so thresholds can sit on either side of it
    val nearCopy = "metric spaces carry a measure theory lecture with " +
      "notes volume errata chapter section topics"
    // self-calibrate from the oracle-checked batch twin: the pair's
    // deterministic signature-agreement estimate
    val est = graft.operators.Dedup.minhashJaccardEstimate(
      Seq((1L, baseDoc), (2L, nearCopy)).toDF("doc_id", "text"))
      .collect().head.getDouble(2)
    assert(est > 0.0 && est < 1.0, s"fixture estimate degenerate: $est")
    // threshold ABOVE the pair's estimate: collision is not strong
    // enough, the near-copy is admitted
    val inHi = MemoryStream[(Long, String)]
    val qHi = IngestGuard.start(inHi.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/hi/state", s"$base/hi/accepted",
      s"$base/hi/rejects", s"$base/hi/checkpoint", minTokens = 3,
      nearDup = Some(IngestGuard.NearDup(s"$base/hi/bands",
        minEst = Some(math.min(est + 0.05, 1.0)))))
    try {
      inHi.addData(1L -> baseDoc); qHi.processAllAvailable()
      inHi.addData(2L -> nearCopy); qHi.processAllAvailable()
      qHi.exception.foreach(throw _)
      val acc = IngestGuard.accepted(spark, s"$base/hi/accepted")
        .collect().map(_.getLong(0)).toSet
      assert(acc === Set(1L, 2L),
        s"estimate $est under the threshold must admit the doc: $acc")
    } finally qHi.stop()
    // threshold BELOW the estimate: rejected as near_dup
    val inLo = MemoryStream[(Long, String)]
    val qLo = IngestGuard.start(inLo.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/lo/state", s"$base/lo/accepted",
      s"$base/lo/rejects", s"$base/lo/checkpoint", minTokens = 3,
      nearDup = Some(IngestGuard.NearDup(s"$base/lo/bands",
        minEst = Some(math.max(est - 0.05, 0.0)))))
    try {
      inLo.addData(1L -> baseDoc); qLo.processAllAvailable()
      inLo.addData(2L -> nearCopy); qLo.processAllAvailable()
      qLo.exception.foreach(throw _)
      val rej = IngestGuard.rejects(spark, s"$base/lo/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej === Map(2L -> "near_dup"),
        s"estimate $est over the threshold must reject: $rej")
    } finally qLo.stop()
    // geometry is format-pinned: a restart with different banding fails
    // fast instead of silently probing keys that can never match
    val inBad = MemoryStream[(Long, String)]
    val qBad = IngestGuard.start(inBad.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/lo/state2", s"$base/lo/accepted2",
      s"$base/lo/rejects2", s"$base/lo/checkpoint2", minTokens = 3,
      nearDup = Some(IngestGuard.NearDup(s"$base/lo/bands", k = 32,
        bands = 8)))
    try {
      inBad.addData(9L -> baseDoc)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qBad.processAllAvailable()
      }
      assert(e.getMessage.contains("guard-neardup/v2/k=16/bands=4/n=3/parts=64"),
        s"band-geometry mismatch must fail fast: ${e.getMessage}")
    } finally qBad.stop()
  }

  test("ingest guard near-dup replay: a crashed batch's own band rows " +
      "are not history") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.IngestGuard
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-replay").toString
    val good = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    val conf = spark.sparkContext.hadoopConfiguration
    val lineage = graft.streaming.Streams.lineageId(conf, s"$base/checkpoint")
    // forge the crashed first attempt: the doc's OWN band rows already
    // in the store under (this lineage, batch 0) — built by the same
    // builder the guard probes with, so the collision would be total
    IngestGuard.nearDupRows(Seq((1L, good)).toDF("doc_id", "text"),
        16, 4, 3)
      .withColumn("__lineage", lit(lineage))
      .withColumn("__batch_id", lit(0L))
      .write.partitionBy("band_part").parquet(s"$base/bands")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/bands.__format"),
      "guard-neardup/v2/k=16/bands=4/n=3/parts=64")
    val in = MemoryStream[(Long, String)]
    val q = IngestGuard.start(in.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/checkpoint", minTokens = 3,
      nearDup = Some(IngestGuard.NearDup(s"$base/bands")))
    try {
      in.addData(1L -> good); q.processAllAvailable()
      q.exception.foreach(throw _)
      val acc = IngestGuard.accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      assert(acc === Set(1L),
        "replayed batch rejected itself on its own half-persisted bands")
      // and the store did not take a second copy (the guarded append's
      // anti-join completed the already-complete commit with nothing)
      val copies = spark.read.parquet(s"$base/bands")
        .groupBy(col("doc_id"), col("band_id")).count()
        .filter(col("count") > 1).count()
      assert(copies === 0, "replay must not duplicate band rows")
    } finally q.stop()
  }

  test("ingest guard quota: a quota-rejected winner does not convict its " +
      "same-batch twin as exact_dup") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-quota-twin").toString
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text", "source"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3,
      views = Some(graft.streaming.IngestGuard.Views(s"$base/views",
        groupCol = "source", maxPerGroup = Some(1L))))
    val twin = "the exact same document text shared by three arrivals"
    try {
      // batch 0 fills source A's cap of 1
      in.addData((1L, "a perfectly unique first document for source A", "A"))
      q.processAllAvailable()
      // batch 1: doc 2 (A) is the fp's winner but lands `quota`; doc 3 (B)
      // shares the fp — the fp never entered the corpus, so exact_dup
      // would be a lie: it is charged `quota` too (the pinned deviation —
      // no re-admission), and crucially the fp stays OUT of the store
      in.addData((2L, twin, "A"), (3L, twin, "B"))
      q.processAllAvailable()
      // batch 2: the same fp arrives fresh for under-quota B → ACCEPTED,
      // proving the quota-denied fp never poisoned the fingerprint store
      in.addData((4L, twin, "B"))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val acc = graft.streaming.IngestGuard
        .accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      val rej = graft.streaming.IngestGuard
        .rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(acc === Set(1L, 4L), s"accepted: $acc")
      assert(rej === Map(2L -> "quota", 3L -> "quota"), s"rejects: $rej")
    } finally q.stop()
  }

  test("ingest guard quota mode: the counts store stays bounded under sustained batches") {
    // quota mode disables foldAppendOnce's after-the-fold compact and
    // compacts via the pre-fold labeled prefix instead
    // (compactFoldStoreBefore every compactEvery batches) — this pins
    // that the protocol actually BOUNDS the store: after N batches the
    // log is one compaction partition plus the uncompacted suffix, never
    // one partition per batch forever (the HistogramStream compaction
    // bound, re-proven for the quota path).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-quota-bound").toString
    val compactEvery = 4
    val in = MemoryStream[(Long, String, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text", "source"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3,
      views = Some(graft.streaming.IngestGuard.Views(s"$base/views",
        groupCol = "source", maxPerGroup = Some(1000L),
        compactEvery = compactEvery)))
    val nBatches = 20
    try {
      (0 until nBatches).foreach { i =>
        in.addData(
          (i * 2L, s"wholly unique document number ${i * 2} for source A", "A"),
          (i * 2 + 1L, s"wholly unique document number ${i * 2 + 1} for B", "B"))
        q.processAllAvailable()
      }
      q.exception.foreach(throw _)
      val countsDir = s"$base/views/counts"
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(countsDir).getFileSystem(conf)
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(countsDir))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
      assert(parts.length <= 1 + compactEvery,
        s"counts store grew unbounded: ${parts.length} partitions ($parts)")
      // and the bounded log still reads back exact
      val counts = graft.streaming.IngestGuard
        .viewCounts(spark, s"$base/views")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === Map("A" -> nBatches.toLong, "B" -> nBatches.toLong),
        s"counts: $counts")
    } finally q.stop()
  }

  test("heavy-hitter state swap is an overwriting rename, never delete-then-rename") {
    import graft.streaming.HeavyHittersStream
    val dir = java.nio.file.Files
      .createTempDirectory("graft-hh-swap").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val s1 = HeavyHittersStream.State("lin", 0L, 2, 8,
      Array.fill(16)(1L), Array("a", "b"))
    val s2 = HeavyHittersStream.State("lin", 1L, 2, 8,
      Array.fill(16)(2L), Array("c"))
    HeavyHittersStream.writeState(fs, dir, s1)
    // second write swaps OVER the live file — the regression this guards:
    // a delete-then-rename pair crashed between the two steps leaves no
    // state file and the next batch silently resets the whole sketch
    HeavyHittersStream.writeState(fs, dir, s2)
    val back = HeavyHittersStream.readState(fs, dir).get
    assert(back.appliedBatch === 1L && back.candidates.toSeq === Seq("c"))
    assert(back.sketch.forall(_ === 2L), "stale state survived the swap")
    // and the tmp staging file never lingers
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__hh.tmp")),
      "staging tmp left behind after swap")
  }

  test("streaming heavy hitters: exact parity at low cardinality, slow burners rise") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[String]
    val base = java.nio.file.Files
      .createTempDirectory("graft-hh").toString
    val q = graft.streaming.HeavyHittersStream.start(
      in.toDF().toDF("key"), "key",
      s"$base/state", s"$base/topk", s"$base/checkpoint", k = 3)
    try {
      // batch 0: x dominates; batch 1: y floods, x trickles — the running
      // view must rank by the WHOLE prefix, not the latest batch
      in.addData("x", "x", "x", "z"); q.processAllAvailable()
      val t0 = graft.streaming.HeavyHittersStream.topK(spark, s"$base/topk")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      assert(t0.toSeq.sortBy(_._1).take(1) === Seq((1, "x", 3L)))
      in.addData("y", "y", "y", "y", "x"); q.processAllAvailable()
      val t1 = graft.streaming.HeavyHittersStream.topK(spark, s"$base/topk")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      // exact at this cardinality: x=4, y=4 (ties → key asc), z=1
      assert(t1 === Seq((1, "x", 4L), (2, "y", 4L), (3, "z", 1L)),
        s"running top-3 must cover the whole prefix, got ${t1.toSeq}")
      // batch twin parity: the same prefix through CmsSketch.heavyHitters
      // serves the same keys and estimates
      import spark.implicits._
      val batchTwin = graft.functions.CmsSketch.heavyHitters(
          Seq("x", "x", "x", "z", "y", "y", "y", "y", "x").toDF("key"),
          "key", k = 3)
        .collect().map(r => (r.getString(0), r.getLong(2))).toSet
      assert(batchTwin === t1.map(t => (t._2, t._3)).toSet,
        s"stream view $t1 != batch twin $batchTwin")
    } finally q.stop()
  }

  test("heavy-hitter replay: a stamped batch is never merged twice") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files
      .createTempDirectory("graft-hh-replay").toString
    // pre-create the checkpoint lineage so the forged stamp matches what
    // the query will compute for its batch 0
    val conf = spark.sparkContext.hadoopConfiguration
    val lineage = graft.streaming.Streams.lineageId(conf, s"$base/checkpoint")
    val fs = graft.streaming.HeavyHittersStream.statePath(s"$base/state")
      .getFileSystem(conf)
    // forged state: batch 0 already applied, containing x×3
    val d = 4; val w = 1024
    val sketch = new Array[Long](d * w)
    val (h1, h2) = graft.functions.CmsSketch.fingerprints("x")
    (0 until d).foreach { i =>
      sketch(i * w + graft.functions.CmsSketch.bucket(h1, h2, i, w)) += 3L
    }
    graft.streaming.HeavyHittersStream.writeState(fs, s"$base/state",
      graft.streaming.HeavyHittersStream.State(
        lineage, 0L, d, w, sketch, Array("x")))
    val in = MemoryStream[String]
    val q = graft.streaming.HeavyHittersStream.start(
      in.toDF().toDF("key"), "key",
      s"$base/state", s"$base/topk", s"$base/checkpoint", k = 3)
    try {
      // the "replayed" batch 0 carries y — must be SKIPPED, not merged
      in.addData("y", "y", "y", "y", "y"); q.processAllAvailable()
      val top = graft.streaming.HeavyHittersStream.topK(spark, s"$base/topk")
        .collect().map(r => (r.getString(1), r.getLong(2))).toSet
      assert(top === Set(("x", 3L)),
        s"stamped batch must not merge again, got $top")
    } finally q.stop()
  }

  test("heavy-hitter emit retention bounds the ledger to the last stamps") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[String]
    val base = java.nio.file.Files
      .createTempDirectory("graft-hh-retain").toString
    val q = graft.streaming.HeavyHittersStream.start(
      in.toDF().toDF("key"), "key",
      s"$base/state", s"$base/topk", s"$base/checkpoint", k = 2,
      retainEmits = 1)
    try {
      in.addData("a", "a"); q.processAllAvailable()
      in.addData("b"); q.processAllAvailable()
      val stamps = spark.read.parquet(s"$base/topk")
        .select("__batch_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(stamps === Set(1L), s"only the latest stamp survives, got $stamps")
      // the view still reflects the whole prefix
      val top = graft.streaming.HeavyHittersStream.topK(spark, s"$base/topk")
        .collect().map(r => (r.getString(1), r.getLong(2))).toSet
      assert(top === Set(("a", 2L), ("b", 1L)))
    } finally q.stop()
  }

  test("near-dup state retention bounds the store; matches survive within horizon") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-retain").toString
    // horizon = 2 batches, pruned after every batch
    val q = graft.streaming.NearDupStream.start(
      in.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/matches", s"$base/checkpoint",
      retainBatches = 2, pruneEvery = 1)
    try {
      val dup = "the quick brown fox jumps over the lazy dog again and again"
      def distinctDoc(i: Long) =
        (i, s"totally unrelated filler document number $i about topic $i")
      in.addData((1L, dup)); q.processAllAvailable()            // batch 0
      in.addData(distinctDoc(50)); q.processAllAvailable()      // batch 1
      // batch 2 lookup still sees batch 0 (the batch-1 prune kept
      // __batch_id > -1): doc 1 is within the horizon -> match
      in.addData((2L, dup)); q.processAllAvailable()
      // batch 3 lookup sees batches {1,2} only (batch-2 prune dropped
      // batch 0): doc 2 matches, doc 1 is beyond the horizon
      in.addData((3L, dup)); q.processAllAvailable()
      val got = graft.streaming.NearDupStream.matches(spark, s"$base/matches")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 2L)), "within-horizon cross-batch match missed")
      assert(got.contains((2L, 3L)), "within-horizon cross-batch match missed")
      assert(!got.contains((1L, 3L)),
        "match found against state older than the retention horizon")
      // the store is bounded: only band rows from the last 2 batches remain
      val state = spark.read.parquet(s"$base/state")
      assert(state.select("__batch_id").distinct().count() <= 2,
        "retention rewrite did not bound the store")
      // and it is laid out partitioned by band_part (pruned reads;
      // = band_byte in the 8-bit form, its high byte in the wide form)
      val dirs = new java.io.File(s"$base/state").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(dirs.exists(_.startsWith("band_part=")),
        s"state store is not band_part-partitioned: ${dirs.mkString(",")}")
    } finally q.stop()
  }

  test("near-dup store rejects a restart with a mismatched wide flag") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-format").toString
    // build a narrow (8-bit) store...
    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.NearDupStream.start(
      in1.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/matches", s"$base/cp1")
    try {
      in1.addData((1L, "the quick brown fox jumps over the lazy dog"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/state.__format")),
      "first append must stamp the store-format marker")
    // ...then resume against it with wide = true: incompatible band keys,
    // must fail fast with the format message instead of silently joining
    // 16-bit bands against the 8-bit store
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.NearDupStream.start(
      in2.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/matches", s"$base/cp2", wide = true)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try {
        in2.addData((2L, "another document entirely"))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
        Option(c.getMessage).exists(_.contains("simhash32/band8"))),
      s"expected the store-format mismatch message, got: ${err.getMessage}")
  }

  test("near-dup store without a marker is refused") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = java.nio.file.Files
      .createTempDirectory("graft-neardup-probe").toString
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    // create a store, then delete its marker: a store directory with
    // contents and no marker is never inferred or adopted
    val in1 = MemoryStream[(Long, String)]
    val q1 = graft.streaming.NearDupStream.start(
      in1.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/matches", s"$base/cp1")
    try { in1.addData((1L, dup)); q1.processAllAvailable() } finally q1.stop()
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$base/state.__format"))
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.NearDupStream.start(
      in2.toDF().toDF("doc_id", "text"),
      s"$base/state", s"$base/matches", s"$base/cp2")
    try {
      in2.addData((2L, dup))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("carries no NearDupStream format marker"),
        s"an unmarked store must be refused: ${e.getMessage}")
    } finally q2.stop()
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/state.__format")),
      "a refused store must not be stamped")
  }

  test("streaming limit emits exactly n rows then nothing") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.toMemoryTable(
      Streams.streamingLimit(in.toDF(), 2), "limit_stream_test")
    in.addData((1L to 5L).map(i =>
      ev(i, s"2024-01-01 00:00:0$i", i, "click", 1)): _*)
    q.processAllAvailable()
    in.addData(ev(9, "2024-01-01 00:00:09", 9, "click", 1))
    q.processAllAvailable(); q.stop()
    assert(spark.table("limit_stream_test").count() === 2)
  }

  test("push query with LIMIT terminates once n rows are emitted") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.pushQueryWithLimit(in.toDF(), 3, "push_limit_test")
    in.addData((1L to 10L).map(i =>
      ev(i, s"2024-01-01 00:00:0${i % 10}", i, "click", 1)): _*)
    // EMIT CHANGES LIMIT 3 semantics: the query ENDS by itself — no stop()
    // from the test; awaitTermination returning true is the assertion
    assert(q.awaitTermination(30000),
      "push query did not self-terminate after reaching its LIMIT")
    assert(spark.table("push_limit_test").count() === 3)
  }

  test("streaming edit-distance dedup equals the batch operator over the full corpus") {
    import graft.streaming.EditDistStream
    import graft.operators.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft-editdist-stream").toString
    val inDir = s"$base/in"
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").cache()
    try {
      // three chunks, one file each → three deterministic microbatches;
      // a pair lands intra-batch or cross-batch depending on the split,
      // and the union must equal the batch operator either way
      (0 until 3).foreach { c =>
        docs.filter(pmod(col("doc_id"), lit(3)) === c)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val q = EditDistStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        s"$base/state", s"$base/matches", s"$base/ckpt")
      q.processAllAvailable(); q.stop()
      val got = EditDistStream.matches(spark, s"$base/matches")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = Dedup.editDistancePairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(want.nonEmpty, "fixture must contain near-dup prefixes")
      assert(got === want,
        s"streamed matches diverged: missing ${want -- got}, extra ${got -- want}")
      // geometry marker: restarting against the store with a different
      // (k, prefixLen) must fail fast, not silently miss pairs
      val bad = EditDistStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        s"$base/state", s"$base/matches2", s"$base/ckpt2", k = 1)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        bad.processAllAvailable()
      }
      bad.stop()
      assert(e.getMessage.contains("editdist-passjoin") ||
        e.getCause.getMessage.contains("editdist-passjoin"))
    } finally { docs.unpersist(); () }
  }

  test("streaming MinHash-LSH dedup equals the batch candidate operator over the full corpus") {
    import graft.streaming.MinHashDupStream
    import graft.operators.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft-minhash-stream").toString
    val inDir = s"$base/in"
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").cache()
    try {
      // three chunks, one file each → three deterministic microbatches;
      // signatures are a pure function of text, so a pair agrees on a
      // band intra- or cross-batch identically and the union must equal
      // the batch self-join either way
      (0 until 3).foreach { c =>
        docs.filter(pmod(col("doc_id"), lit(3)) === c)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val q = MinHashDupStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        s"$base/state", s"$base/matches", s"$base/ckpt")
      q.processAllAvailable()
      q.exception.foreach(throw _)
      q.stop()
      val got = MinHashDupStream.matches(spark, s"$base/matches")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Dedup.minhashCandidatePairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "fixture must contain LSH candidate pairs")
      assert(got === want,
        s"streamed candidates diverged: missing ${want -- got}, extra ${got -- want}")
      // replay: re-running a batch's worth of docs against the store that
      // already holds them can only re-produce known pairs (least/greatest
      // + doc_id inequality) — the reader's distinct absorbs them
      // geometry marker: a restart with different banding must fail fast,
      // not silently never-match against the accumulated store
      val bad = MinHashDupStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        s"$base/state", s"$base/matches2", s"$base/ckpt2", bands = 8)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        bad.processAllAvailable()
      }
      bad.stop()
      assert(e.getMessage.contains("minhash-lsh") ||
        e.getCause.getMessage.contains("minhash-lsh"))
    } finally { docs.unpersist(); () }
  }

  test("streaming MinHash-LSH crash-replay does not re-append its batch to the band store") {
    // round-11 advice: a batch replayed after a crash that followed the
    // store append used to re-append its band rows unconditionally —
    // matches stayed correct (distinct) but the store grew by one copy of
    // the batch per replay, and with retainBatches=0 the copies never
    // aged out. Forge the failed first attempt (batch 0's rows already in
    // the store under this lineage) and assert the retry appends nothing.
    import graft.streaming.{MinHashDupStream, Streams}
    import graft.operators.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft-minhash-replay").toString
    val inDir = s"$base/in"; val stateDir = s"$base/state"
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").cache()
    try {
      (0 until 2).foreach { c =>
        docs.filter(pmod(col("doc_id"), lit(2)) === c)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val conf = spark.sparkContext.hadoopConfiguration
      val lineage = Streams.lineageId(conf, s"$base/ckpt")
      val chunk0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      Streams.appendPartitioned(
        Dedup.bandRows(chunk0, 16, 4, 3)
          .withColumn("band_part",
            pmod(xxhash64(col("band_key")), lit(64)).cast("int"))
          .withColumn("__batch_id", lit(0L))
          .withColumn("__lineage", lit(lineage)),
        stateDir, "band_part")
      val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(conf)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(stateDir + ".__format"), true)
      out.write("minhash-lsh/v2/k=16/bands=4/n=3/parts=64".getBytes("UTF-8")); out.close()
      val q = MinHashDupStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        stateDir, s"$base/matches", s"$base/ckpt")
      q.processAllAvailable()
      q.exception.foreach(throw _)
      q.stop()
      // every doc's bands exactly once: batch 0's replay appended nothing
      // (its forged first attempt is the store copy), batch 1 appended once
      val stored = spark.read.parquet(stateDir).count()
      val want = Dedup.bandRows(docs, 16, 4, 3).count()
      assert(stored === want,
        s"store holds $stored band rows, want $want — replay re-appended")
      // and the emitted matches still equal the batch operator
      val got = MinHashDupStream.matches(spark, s"$base/matches")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantPairs = Dedup.minhashCandidatePairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === wantPairs)
    } finally { docs.unpersist(); () }
  }

  test("streaming Jaccard-estimate dedup equals the batch estimator over the full corpus") {
    // the SIXTH modality, built as SideStore configuration: candidates
    // from band agreement (like MinHashDupStream) but every pair SCORED
    // with the signature-agreement Jaccard estimate — the streamed union
    // must equal Dedup.minhashJaccardEstimate (oracle-checked) exactly,
    // estimates included (they are pure functions of the two texts)
    import graft.streaming.JaccardDupStream
    import graft.operators.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft-jaccard-stream").toString
    val inDir = s"$base/in"
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").cache()
    try {
      (0 until 3).foreach { c =>
        docs.filter(pmod(col("doc_id"), lit(3)) === c)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val q = JaccardDupStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        s"$base/state", s"$base/matches", s"$base/ckpt")
      q.processAllAvailable()
      q.exception.foreach(throw _)
      q.stop()
      val got = keyed(JaccardDupStream.matches(spark, s"$base/matches"))
      val want = keyed(Dedup.minhashJaccardEstimate(docs))
      assert(want.nonEmpty, "fixture must contain candidate pairs")
      assert(got === want,
        s"streamed estimates diverged: missing ${want -- got}, extra ${got -- want}")
      // the similarity gate: a threshold stream emits exactly the strong
      // subset — candidacy alone no longer admits a pair
      val tau = 0.5
      assert(want.exists(_._3 < tau) && want.exists(_._3 >= tau),
        "fixture must straddle the threshold for the gate test to bite")
      val qt = JaccardDupStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        s"$base/state_t", s"$base/matches_t", s"$base/ckpt_t", minEst = tau)
      qt.processAllAvailable()
      qt.exception.foreach(throw _)
      qt.stop()
      val gotT = keyed(JaccardDupStream.matches(spark, s"$base/matches_t"))
      assert(gotT === want.filter(_._3 >= tau), s"threshold gate diverged")
      // geometry marker: a mismatched restart fails fast
      val bad = JaccardDupStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        s"$base/state", s"$base/m2", s"$base/ckpt2", bands = 8)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        bad.processAllAvailable()
      }
      bad.stop()
      assert(e.getMessage.contains("minhash-jaccard") ||
        e.getCause.getMessage.contains("minhash-jaccard"))
    } finally { docs.unpersist(); () }
  }

  test("streaming HLL view: fold estimates are BIT-identical to the batch sketch") {
    import graft.streaming.HllViewStream
    import graft.functions.HllView
    val base = java.nio.file.Files
      .createTempDirectory("graft-hll-stream").toString
    val inDir = s"$base/in"; val stateDir = s"$base/state"
    val docs = Tables.documents(spark, sf)
      .select(col("source"),
        explode(expr(graft.operators.TextAnalysis.tokensExpr)).as("tok"))
      .cache()
    try {
      (0 until 3).foreach { c =>
        docs.filter(pmod(crc32(col("tok")), lit(3)) === c)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val q = HllViewStream.start(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        stateDir, s"$base/ckpt", "source", "tok", compactEvery = 2)
      q.processAllAvailable(); q.stop()
      def ests(view: org.apache.spark.sql.DataFrame) =
        HllView.distinctBySource(view)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = ests(HllViewStream.view(spark, stateDir))
      val want = ests(
        docs.groupBy(col("source"))
          .agg(hll_sketch_agg(col("tok"), lit(12)).as("sketch")))
      // register-wise max is associative: not within-epsilon — EQUAL
      assert(got === want,
        "fold estimates must be bit-identical to the one-pass sketch")
      // compaction bounded the store
      val perGrp = spark.read.parquet(stateDir)
        .groupBy("grp").count().agg(max("count")).head().getLong(0)
      assert(perGrp <= 2, s"store not compacted: $perGrp rows per group")
      // replay guard: re-applying an already-committed batch changes
      // nothing (lineage-scoped commit record)
      val lineage = graft.streaming.Streams.lineageId(
        spark.sparkContext.hadoopConfiguration, s"$base/ckpt")
      val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val lastId = graft.streaming.Streams
        .appliedBatchMax(fs, stateDir, lineage).get
      val rowsBefore = spark.read.parquet(stateDir).count()
      HllViewStream.applyBatch(docs.limit(100), stateDir, lineage, lastId,
        "source", "tok", lgK = 12, compactEvery = 0)
      assert(spark.read.parquet(stateDir).count() === rowsBefore)
      assert(ests(HllViewStream.view(spark, stateDir)) === want)
      // a fresh lineage's batch 0 must apply (checkpoint-adoption hole)
      HllViewStream.applyBatch(docs.limit(100), stateDir, "fresh", 0L,
        "source", "tok", lgK = 12, compactEvery = 0)
      assert(spark.read.parquet(stateDir).count() > rowsBefore,
        "a fresh checkpoint's batch 0 must append, not be swallowed")
      // lgK marker: different register count must not union
      val e = intercept[IllegalStateException] {
        HllViewStream.applyBatch(docs.limit(1), stateDir, lineage, 99L,
          "source", "tok", lgK = 10, compactEvery = 0)
      }
      assert(e.getMessage.contains("hll-datasketches"))
    } finally { docs.unpersist(); () }
  }

  test("streaming histogram view: fold quantiles equal the batch walk; compaction and replay are invisible") {
    import graft.streaming.HistogramStream
    import graft.functions.QuantileView
    val base = java.nio.file.Files
      .createTempDirectory("graft-hist-stream").toString
    val inDir = s"$base/in"; val stateDir = s"$base/state"
    val events = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).cache()
    try {
      // grid pinned up front (the streaming constraint) — use the true
      // bounds so batch parity is exact
      val r = events.agg(min(col("value")), max(col("value"))).head()
      val (mn, mx) = (r.getDouble(0), r.getDouble(1))
      (0 until 4).foreach { c =>
        events.filter(pmod(crc32(concat_ws("|", col("event_type"),
            col("value"))), lit(4)) === c)
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val q = HistogramStream.start(
        spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        stateDir, s"$base/ckpt", "event_type", "value", mn, mx,
        compactEvery = 2)
      q.processAllAvailable(); q.stop()
      def walk(view: org.apache.spark.sql.DataFrame) =
        QuantileView.quantilesByGroup(view)
          .collect().map(x => x.getString(0) ->
            (x.getDouble(1), x.getDouble(2), x.getDouble(3))).toMap
      // the read path takes NO geometry: it parses the store's marker
      val got = walk(HistogramStream.view(spark, stateDir))
      val want = walk(QuantileView.sketchByFixed(
        events, "event_type", "value", mn, mx))
      assert(got === want,
        "streamed histogram must serve the same quantiles as the batch sketch")
      assert(HistogramStream.geometry(spark, stateDir) === ((mn, mx, 4096)))
      // compaction bounded the store: per (grp, bin) at most ONE row per
      // un-compacted suffix batch beyond the compacted base
      val perCell = spark.read.parquet(stateDir)
        .groupBy("grp", "bin").count().agg(max("count")).head().getLong(0)
      assert(perCell <= 3, s"store not compacted: $perCell rows per cell")
      val lineage = graft.streaming.Streams.lineageId(
        spark.sparkContext.hadoopConfiguration, s"$base/ckpt")
      val lastId = graft.streaming.Streams.appliedBatchMax(
        new org.apache.hadoop.fs.Path(stateDir).getFileSystem(
          spark.sparkContext.hadoopConfiguration), stateDir, lineage).get
      // replay guard: re-applying an already-committed batch of THIS
      // lineage must change nothing (its commit record exists)
      val before = walk(HistogramStream.view(spark, stateDir))
      HistogramStream.applyBatch(events.limit(50), stateDir, lineage,
        lastId, "event_type", "value", mn, mx, 4096, 0)
      assert(walk(HistogramStream.view(spark, stateDir)) === before,
        "a replayed batch must not double-count")
      // a FRESH lineage restarting at batch 0 against the same store is
      // genuinely new data and MUST apply (the round-10 review's
      // checkpoint-adoption hole)
      val freshTotal0 = spark.read.parquet(stateDir)
        .agg(sum(col("cnt"))).head().getLong(0)
      HistogramStream.applyBatch(events.limit(50), stateDir,
        "fresh-lineage", 0L, "event_type", "value", mn, mx, 4096, 0)
      val freshTotal1 = spark.read.parquet(stateDir)
        .agg(sum(col("cnt"))).head().getLong(0)
      assert(freshTotal1 === freshTotal0 + 50,
        "a fresh checkpoint's batch 0 must append, not be swallowed")
      // geometry marker: a different grid against the same store fails
      val e = intercept[IllegalStateException] {
        HistogramStream.applyBatch(events.limit(1), stateDir, lineage,
          99L, "event_type", "value", mn, mx, bins = 1024, compactEvery = 0)
      }
      assert(e.getMessage.contains("grid-histogram"))
    } finally { events.unpersist(); () }
  }

  test("streaming view maintenance: chunked changelog lands on the batch recompute") {
    import graft.streaming.AggViewStream
    val base = java.nio.file.Files
      .createTempDirectory("graft-aggview").toString
    val inDir = s"$base/in"; val viewDir = s"$base/view"
    val envB = Cdc.envelopeWithBefore(Tables.events(spark, sf)).cache()
    try {
      // five sequential chunks in offset order (per-key order preserved —
      // the Debezium/Kafka per-key delivery contract the fold assumes),
      // one file each so maxFilesPerTrigger=1 makes batches deterministic
      val maxOff = envB.agg(max(col("offset"))).head().getLong(0)
      val cut = (maxOff + 4) / 5
      (0L to 4L).foreach { c =>
        envB.filter(col("offset") >= c * cut &&
            col("offset") < (c + 1) * cut + (if (c == 4) 1 else 0))
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val q = AggViewStream.start(
        spark.readStream.schema(envB.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        viewDir, s"$base/ckpt")
      q.processAllAvailable(); q.stop()
      val got = AggViewStream.view(spark, viewDir)
        .select("event_type", "cnt", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).stripTrailingZeros)).sortBy(_._1).toSeq
      val want = Cdc.aggView(envB)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).stripTrailingZeros)).sortBy(_._1).toSeq
      assert(got === want,
        "streamed fold must equal the batch recompute over the full changelog")
      // the view remembers the last applied batch (5 chunks → id 4)
      assert(AggViewStream.view(spark, viewDir)
        .agg(max(col("__batch_id"))).head().getLong(0) === 4L)
    } finally { envB.unpersist(); () }
  }

  test("streaming view maintenance: a replayed microbatch is a no-op") {
    import graft.streaming.AggViewStream
    val base = java.nio.file.Files
      .createTempDirectory("graft-aggview-replay").toString
    val viewDir = s"$base/view"
    val envB = Cdc.envelopeWithBefore(Tables.events(spark, sf)).cache()
    try {
      val maxOff = envB.agg(max(col("offset"))).head().getLong(0)
      val half = maxOff / 2
      val d0 = envB.filter(col("offset") <= half)
      val d1 = envB.filter(col("offset") > half)
      AggViewStream.applyBatch(d0, viewDir, "lin-a", 0L)
      AggViewStream.applyBatch(d1, viewDir, "lin-a", 1L)
      def snap() = AggViewStream.view(spark, viewDir)
        .select("event_type", "cnt", "sum_value", "nnz", "__batch_id")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
      val committed = snap()
      // crash between store swap and checkpoint commit → batch 1 replays;
      // the at-least-once fold must detect and skip it
      AggViewStream.applyBatch(d1, viewDir, "lin-a", 1L)
      assert(snap() === committed, "replayed batch must not double-apply")
      // stale replay of an even older batch: same contract
      AggViewStream.applyBatch(d0, viewDir, "lin-a", 0L)
      assert(snap() === committed)
      // and the final state is the full recompute
      val want = Cdc.aggView(envB)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
        .sortBy(_._1).toSeq
      assert(committed.map(t => (t._1, t._2, t._3)) === want)
    } finally { envB.unpersist(); () }
  }

  test("streaming view maintenance: a fresh lineage's batch 0 must APPLY " +
      "against an adopted store (r10 adoption hole)") {
    import graft.streaming.AggViewStream
    val base = java.nio.file.Files
      .createTempDirectory("graft-aggview-adopt").toString
    val viewDir = s"$base/view"
    val envB = Cdc.envelopeWithBefore(Tables.events(spark, sf)).cache()
    try {
      val maxOff = envB.agg(max(col("offset"))).head().getLong(0)
      val half = maxOff / 2
      val d0 = envB.filter(col("offset") <= half)
      val d1 = envB.filter(col("offset") > half)
      // lineage A builds the view up to batch id 5 (ids need not be dense)
      AggViewStream.applyBatch(d0, viewDir, "lin-a", 5L)
      // checkpoint wiped / job redeployed: the NEW checkpoint restarts at
      // batch 0 with genuinely new data. A bare `batchId <= lastApplied`
      // guard (0 <= 5) would silently drop it — the r10 verdict's data
      // loss. Lineage scoping must adopt the store and apply.
      AggViewStream.applyBatch(d1, viewDir, "lin-b", 0L)
      val got = AggViewStream.view(spark, viewDir)
        .select("event_type", "cnt", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).stripTrailingZeros)).sortBy(_._1).toSeq
      val want = Cdc.aggView(envB)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).stripTrailingZeros)).sortBy(_._1).toSeq
      assert(got === want,
        "fresh-lineage batch 0 against an adopted store must apply")
      // the stamp now belongs to lineage B — its own replays still skip
      val snap = got
      AggViewStream.applyBatch(d1, viewDir, "lin-b", 0L)
      val after = AggViewStream.view(spark, viewDir)
        .select("event_type", "cnt", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).stripTrailingZeros)).sortBy(_._1).toSeq
      assert(after === snap, "the new lineage's own replay must still skip")
    } finally { envB.unpersist(); () }
  }

  test("near-dup band store probe IO: pushed candidate band keys read " +
      "candidate row groups, not the partition") {
    // the round-14 geometry claim for the BAND store, asserted from the
    // engine's own scan metrics (the fp store's round-13 pattern): the
    // store can never retention-prune, so partition pruning alone leaves
    // an O(store/parts) read per probe — appends sorted on band_key +
    // the candidate keys pushed as string point predicates must bound
    // the read by the CANDIDATES' row groups
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nd-probe-io").toString + "/state"
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 128 * 1024)
    try {
      // ONE band_part partition of 1M band keys, appended the way the
      // guard appends (sorted on band_key within the file)
      graft.streaming.Streams.appendPartitioned(
        spark.range(0L, 1000000L)
          .select(md5(col("id").cast("string")).as("band_key"))
          .withColumn("band_id", lit(0))
          .withColumn("band_part", lit(0))
          .withColumn("__lineage", lit("lin"))
          .withColumn("__batch_id", lit(0L)),
        dir, "band_part", sortCols = Seq("band_key"))
    } finally oldBlock.fold(hc.unset("parquet.block.size"))(
      hc.set("parquet.block.size", _))
    // 12 candidate keys — 11 present scattered across the key space, 1
    // absent — under the guard's raised inFilterThreshold so parquet
    // gets or-of-eq (per-value row-group pruning on the sorted column)
    val present = spark.range(0L, 1000000L)
      .filter(col("id").isin(3L, 90000L, 180000L, 270000L, 360000L,
        450000L, 540000L, 630000L, 720000L, 810000L, 999999L))
      .select(md5(col("id").cast("string"))).collect()
      .map(_.getString(0)).toIndexedSeq
    val cands = present :+ "00000000000000000000000000000000"
    val inThreshold = "spark.sql.parquet.pushdown.inFilterThreshold"
    val oldThreshold = spark.conf.get(inThreshold, "10")
    spark.conf.set(inThreshold, "64")
    val (got, probe) = try {
      val p = spark.read.parquet(dir)
        .filter(col("band_part").isin(0))
        .filter(col("band_key").isin(cands: _*))
        .filter(!(col("__lineage") <=> lit("other-lineage") &&
          col("__batch_id") === lit(9L)))
      (p.collect().map(_.getAs[String]("band_key")).toSet, p)
    } finally spark.conf.set(inThreshold, oldThreshold)
    assert(got === present.toSet,
      "pushed probe must still return exactly the present candidates")
    val decoded = org.apache.spark.sql.GraftColumnBridge
      .scanOutputRows(probe)
    assert(decoded > 0, "scan metric empty — the probe ran no file scan?")
    assert(decoded * 4 < 1000000L,
      s"probe decoded $decoded of the partition's 1000000 rows — the " +
        "pushed band keys are not pruning row groups inside the partition")
  }

  test("ingest guard near-dup: custom bandParts geometry works end-to-end " +
      "and a mismatched restart fails fast") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.IngestGuard
    val base = java.nio.file.Files
      .createTempDirectory("graft-nd-parts").toString
    val baseDoc = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    val nearCopy = baseDoc + " appendix"
    val in = MemoryStream[(Long, String)]
    val q = IngestGuard.start(in.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/checkpoint", minTokens = 3,
      nearDup = Some(IngestGuard.NearDup(s"$base/bands", bandParts = 8)))
    try {
      in.addData(1L -> baseDoc); q.processAllAvailable()
      in.addData(2L -> nearCopy,
        3L -> ("an entirely different document about orchard " +
          "irrigation schedules and autumn harvest logistics"))
      q.processAllAvailable()
      q.exception.foreach(throw _)
      val rej = IngestGuard.rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rej === Map(2L -> "near_dup"), s"rejects: $rej")
      // the layout really is 8-way: every partition dir parses < 8
      val parts = new java.io.File(s"$base/bands").listFiles()
        .map(_.getName).filter(_.startsWith("band_part="))
        .map(_.stripPrefix("band_part=").toInt)
      assert(parts.nonEmpty && parts.forall(p => p >= 0 && p < 8),
        s"store must be laid out 8-way: ${parts.toSeq}")
    } finally q.stop()
    // a restart under different bandParts would prune and shard with the
    // wrong arithmetic — silently missed near-dups — so it fails fast
    val in2 = MemoryStream[(Long, String)]
    val q2 = IngestGuard.start(in2.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/state2", s"$base/accepted2",
      s"$base/rejects2", s"$base/checkpoint2", minTokens = 3,
      nearDup = Some(IngestGuard.NearDup(s"$base/bands", bandParts = 16)))
    try {
      in2.addData(9L -> baseDoc)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("parts=8") &&
        e.getMessage.contains("parts=16"),
        s"band-part mismatch must name both geometries: ${e.getMessage}")
    } finally q2.stop()
  }

  test("ingest guard near-dup: a v1 marker or no marker fails fast " +
      "naming the store") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.IngestGuard
    val base = java.nio.file.Files
      .createTempDirectory("graft-nd-adopt").toString
    val baseDoc = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    // 64-way band rows of an accepted doc under a v1 marker (no parts
    // field), as the band store's first format wrote it
    IngestGuard.nearDupRows(Seq((1L, baseDoc)).toDF("doc_id", "text"),
        16, 4, 3, 64)
      .withColumn("__lineage", lit("old-lin"))
      .withColumn("__batch_id", lit(0L))
      .write.partitionBy("band_part").parquet(s"$base/bands")
    val markerPath = java.nio.file.Paths.get(s"$base/bands.__format")
    val v1 = "guard-neardup/v1/k=16/bands=4/n=3"
    java.nio.file.Files.writeString(markerPath, v1)
    def refusal(run: String): String = {
      val in = MemoryStream[(Long, String)]
      val q = IngestGuard.start(in.toDF().toDF("doc_id", "text"),
        Array.empty[Long], s"$base/$run/state", s"$base/$run/accepted",
        s"$base/$run/rejects", s"$base/$run/checkpoint", minTokens = 3,
        nearDup = Some(IngestGuard.NearDup(s"$base/bands")))
      try {
        in.addData(2L -> (baseDoc + " appendix"))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }.getMessage
      } finally q.stop()
    }
    val v1Msg = refusal("v1")
    assert(v1Msg.contains("IngestGuard.NearDup store") &&
      v1Msg.contains(v1) &&
      v1Msg.contains("guard-neardup/v2/k=16/bands=4/n=3/parts=64"),
      s"a v1 marker must fail fast naming both tags: $v1Msg")
    assert(java.nio.file.Files.readString(markerPath).trim === v1,
      "a refused store's marker must stay as written")
    java.nio.file.Files.delete(markerPath)
    val noneMsg = refusal("unmarked")
    assert(noneMsg.contains("carries no IngestGuard.NearDup format marker"),
      s"an unmarked band store must be refused: $noneMsg")
  }

  test("ingest guard Bloom budget: past maxBloomLoadBytes the gate is " +
      "skipped and the decision stays exact") {
    // the round-14 byte budget: a restart's full-touch first batch at a
    // corpus Bloom too big to re-load wholesale skips the gate — every
    // candidate in a live partition takes the pruned+pushed confirm
    // read, which is exact without the Bloom — and delta maintenance
    // continues, so nothing ever goes stale into false negatives
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.IngestGuard
    val base = java.nio.file.Files
      .createTempDirectory("graft-bloom-budget").toString
    val baseDoc = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    val in1 = MemoryStream[(Long, String)]
    val q1 = IngestGuard.start(in1.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/checkpoint1", minTokens = 3,
      nearDup = Some(IngestGuard.NearDup(s"$base/bands")))
    try {
      in1.addData(1L -> baseDoc); q1.processAllAvailable()
      q1.exception.foreach(throw _)
    } finally q1.stop()
    // restart (fresh checkpoint = uncached shards) under a 1-byte budget:
    // both stores' gates skip — exact dup, near dup, and fresh must all
    // still land exactly, batch after batch
    val in2 = MemoryStream[(Long, String)]
    val q2 = IngestGuard.start(in2.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/checkpoint2", minTokens = 3,
      nearDup = Some(IngestGuard.NearDup(s"$base/bands")),
      maxBloomLoadBytes = 1L)
    try {
      in2.addData(2L -> baseDoc, 3L -> (baseDoc + " appendix"),
        4L -> ("an entirely different document about orchard " +
          "irrigation schedules and autumn harvest logistics"))
      q2.processAllAvailable()
      // a second gate-skipped batch: a dup of the PREVIOUS batch's
      // accepted doc — the store append under skip must still be live
      in2.addData(5L -> ("an entirely different document about orchard " +
        "irrigation schedules and autumn harvest logistics"))
      q2.processAllAvailable()
      q2.exception.foreach(throw _)
      val rej = IngestGuard.rejects(spark, s"$base/rejects")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val acc = IngestGuard.accepted(spark, s"$base/accepted")
        .collect().map(_.getLong(0)).toSet
      assert(rej === Map(2L -> "exact_dup", 3L -> "near_dup",
        5L -> "exact_dup"), s"rejects: $rej")
      assert(acc === Set(1L, 4L), s"accepted: $acc")
    } finally q2.stop()
  }

  test("ingest guard Bloom warming: an over-budget restart recovers " +
      "batch by batch with exact decisions throughout") {
    // the round-14 verdict's design-point hole: a restart whose corpus
    // sidecar exceeds maxBloomLoadBytes used to skip the gate FOREVER
    // (the estimate never shrank). Warming loads a budget-sized subset
    // per batch and treats the still-deferred parts as bloom-positive —
    // so decisions are exact DURING warming and the gate is fully
    // serving after ⌈bytes/budget⌉ batches (pinned at the Cache level in
    // BloomShardsSpec; this pins the guard end-to-end across batches).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.IngestGuard
    val base = java.nio.file.Files
      .createTempDirectory("graft-bloom-warming").toString
    def doc(i: Int) = s"corpus document number $i discussing topic $i " +
      s"with enough distinct tokens to pass the quality gate"
    val in1 = MemoryStream[(Long, String)]
    val q1 = IngestGuard.start(in1.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/checkpoint1", minTokens = 3, fpParts = 4)
    try {
      in1.addData((1 to 30).map(i => i.toLong -> doc(i)): _*)
      q1.processAllAvailable()
      q1.exception.foreach(throw _)
    } finally q1.stop()
    // restart (fresh checkpoint = cold cache) under a budget that fits
    // roughly ONE part's base per batch: the first batches run with a
    // partially-warm gate + deferred-positive remainder
    val perBase = new java.io.File(graft.streaming.BloomShards
      .sidecarDir(s"$base/state") + "/base").listFiles()
      .filter(_.getName.startsWith("p")).map(_.length()).max
    val in2 = MemoryStream[(Long, String)]
    val q2 = IngestGuard.start(in2.toDF().toDF("doc_id", "text"),
      Array.empty[Long], s"$base/state", s"$base/accepted",
      s"$base/rejects", s"$base/checkpoint2", minTokens = 3, fpParts = 4,
      maxBloomLoadBytes = perBase + 8)
    try {
      // batch 1 (cold): a dup of phase-1 and a fresh doc
      in2.addData(101L -> doc(1), 102L -> doc(101))
      q2.processAllAvailable()
      // batch 2 (warming): dups of phase-1, of batch 1's fresh doc
      in2.addData(103L -> doc(2), 104L -> doc(101), 105L -> doc(101))
      q2.processAllAvailable()
      // batches 3-5: keep warming; one dup + one fresh each
      (3 to 5).foreach { b =>
        in2.addData((200L + b) -> doc(b), (300L + b) -> doc(100 + b))
        q2.processAllAvailable()
      }
      q2.exception.foreach(throw _)
      val rej = IngestGuard.rejects(spark, s"$base/rejects")
        .filter(col("doc_id") > 100).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val acc = IngestGuard.accepted(spark, s"$base/accepted")
        .filter(col("doc_id") > 100).collect().map(_.getLong(0)).toSet
      assert(rej === Map(101L -> "exact_dup", 103L -> "exact_dup",
        104L -> "exact_dup", 105L -> "exact_dup", 203L -> "exact_dup",
        204L -> "exact_dup", 205L -> "exact_dup"), s"rejects: $rej")
      assert(acc === Set(102L, 303L, 304L, 305L), s"accepted: $acc")
    } finally q2.stop()
  }

  test("ingest guard sidecar IO: steady-state batches append deltas, " +
      "never capacity-sized filters") {
    // the round-14 per-batch IO bound end-to-end: with the store's
    // partitions all cached after the first touch, every later batch
    // appends ONLY delta files (packed batch hashes) to the sidecar
    // log — write bytes proportional to the batch, not to
    // touched-shards × capacity. The 1,500-doc first batch gives the
    // one shard a 2,048-item base (the smallest 64·2^i past 1,500), so
    // later 20-doc batches stay below its quarter-filter refresh
    // threshold.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sidecar-io").toString
    def sidecarBytes(): Long = {
      val p = java.nio.file.Paths.get(
        graft.streaming.BloomShards.sidecarDir(s"$base/state"))
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    }
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestGuard.start(
      in.toDF().toDF("doc_id", "text"), Array.empty[Long],
      s"$base/state", s"$base/accepted", s"$base/rejects",
      s"$base/checkpoint", minTokens = 3, fpParts = 1)
    try {
      val sizes = Seq(1500, 20, 20)
      val grew = sizes.indices.map { b =>
        val before = sidecarBytes()
        val first = sizes.take(b).sum
        in.addData((first until first + sizes(b)).map(i =>
          (i.toLong, s"wholly unique document number $i " +
            s"about subject $i with several extra words")): _*)
        q.processAllAvailable()
        sidecarBytes() - before
      }
      q.exception.foreach(throw _)
      assert(grew(0) > 0, "first batch must persist the base file")
      assert(grew(1) * 5 < grew(0) && grew(2) * 5 < grew(0),
        s"steady-state batches must write batch-sized deltas: $grew")
      // and the layout says why: batches 1-2 added ONLY delta files —
      // the single base file (fpParts = 1) is batch 0's, untouched
      // (20-doc batches never cross the quarter-filter refresh
      // threshold of the 2,048-item base)
      def visible(dir: String) = new java.io.File(
        graft.streaming.BloomShards.sidecarDir(s"$base/state") + dir)
        .listFiles().filter(f => !f.getName.endsWith(".tmp") &&
          !f.getName.startsWith("."))
      val baseFiles = visible("/base")
      val deltaFiles = visible("/delta")
      assert(baseFiles.length === 1,
        s"one part ⇒ one base file: ${baseFiles.map(_.getName).toSeq}")
      assert(deltaFiles.length === 2,
        s"batches 1-2 must each add one delta file: " +
          s"${deltaFiles.map(_.getName).toSeq}")
    } finally q.stop()
  }

  test("minhash/jaccard dup streams: bandParts is geometry-pinned; a " +
      "v1 marker fails fast") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-mh-parts").toString
    val docA = "metric spaces carry a measure theory lecture with " +
      "notes volume series chapter section topics"
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.MinHashDupStream.start(
      in.toDF().toDF("doc_id", "text"), s"$base/state", s"$base/matches",
      s"$base/checkpoint", bandParts = 8)
    try {
      in.addData(1L -> docA); q.processAllAvailable()
      in.addData(2L -> (docA + " appendix")); q.processAllAvailable()
      q.exception.foreach(throw _)
      val got = graft.streaming.MinHashDupStream
        .matches(spark, s"$base/matches")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 2L)),
        s"8-way store must still match cross-batch: $got")
    } finally q.stop()
    // restart under a different count fails fast
    val in2 = MemoryStream[(Long, String)]
    val q2 = graft.streaming.MinHashDupStream.start(
      in2.toDF().toDF("doc_id", "text"), s"$base/state",
      s"$base/matches2", s"$base/checkpoint2", bandParts = 16)
    try {
      in2.addData(9L -> docA)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("parts=8"),
        s"mismatch must name the pinned count: ${e.getMessage}")
    } finally q2.stop()
    // a v1 marker (no parts field) is not adopted: the restart fails
    // fast naming both tags, and the marker stays as written
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(s"$base/v1")
      .getFileSystem(conf)
    val inL1 = MemoryStream[(Long, String)]
    val qL1 = graft.streaming.JaccardDupStream.start(
      inL1.toDF().toDF("doc_id", "text"), s"$base/v1",
      s"$base/lmatches", s"$base/lcheckpoint")
    try {
      inL1.addData(1L -> docA); qL1.processAllAvailable()
      qL1.exception.foreach(throw _)
    } finally qL1.stop()
    // rewind the marker to its v1 text
    val v1 = "minhash-jaccard/k=16/bands=4/n=3"
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$base/v1.__format"), true)
    out.write(v1.getBytes("UTF-8"))
    out.close()
    val inL2 = MemoryStream[(Long, String)]
    val qL2 = graft.streaming.JaccardDupStream.start(
      inL2.toDF().toDF("doc_id", "text"), s"$base/v1",
      s"$base/lmatches", s"$base/lcheckpoint2")
    try {
      inL2.addData(2L -> (docA + " appendix"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qL2.processAllAvailable()
      }
      assert(e.getMessage.contains("JaccardDupStream store") &&
        e.getMessage.contains(v1) &&
        e.getMessage.contains("minhash-jaccard/v2/k=16/bands=4/n=3/parts=64"),
        s"a v1 marker must fail fast naming both tags: ${e.getMessage}")
      assert(graft.streaming.Streams.readStoreFormat(fs, s"$base/v1")
        .contains(v1), "a refused store's marker must stay as written")
    } finally qL2.stop()
  }
}

/** Typed row of the `events` fixture for MemoryStream feeding. */
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                 event_type: String, value: Double, props: String)
