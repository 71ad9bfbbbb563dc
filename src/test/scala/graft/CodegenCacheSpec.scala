package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.sources.{EngineConf, Tables}
import graft.streaming.Streams
import graft.tools.Profile

/** Spark's JVM-wide cache of compiled generated classes holds the engine's
  * working set: once a mix of queries has run, running it again compiles
  * nothing. */
class CodegenCacheSpec extends GraftSuite {
  /** The registry entries the benchmark's `analytics_sweep` runs. */
  private val Sweep = Seq(
    "q_filter_live", "q_enrich", "q_window_agg", "q_latest_by_key",
    "q_median_by_type", "q_sessionize", "q_cdc_latest", "q_cdc_scd2",
    "q_range_join", "q_top_brands", "q_rollup_revenue", "q_salted_join",
    "q_dedup_exact", "q_minhash_pairs", "q_token_counts", "q_knn",
    "q_cms_rollup", "q_quantile_rollup", "q_approx_distinct_users")

  /** Classes Janino has compiled in this JVM so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Build and write each query to the noop sink; the classes compiled. */
  private def pass(names: Seq[String]): Long = {
    val before = compiles
    names.foreach(q => SparkEntry.queries(q)(spark, sf)
      .write.format("noop").mode("overwrite").save())
    compiles - before
  }

  test("the session carries EngineConf's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      EngineConf.CodegenCacheEntries.toString)
  }

  test("a second pass over the analytics_sweep queries compiles no class") {
    // the counter is JVM-wide: no stream may generate code meanwhile
    spark.streams.active.foreach(_.stop())
    assert(spark.streams.active.isEmpty)
    val cold = pass(Sweep)
    val warm = pass(Sweep.reverse)
    assert(warm === 0L, s"pass 1 compiled $cold classes, pass 2 $warm")
  }

  test("an upsert table over a file topic compiles no class once its " +
    "state is warm") {
    spark.streams.active.foreach(_.stop())
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-codegen")
      .toString
    val events = Tables.events(spark, sf)
    // one file per batch, written before the stream starts (a write
    // compiles classes of its own) and released by a rename
    val files = (0 until 5).map { i =>
      val staged = s"$dir/staged/$i"
      events.filter(pmod(col("event_id"), lit(5)) === i).coalesce(1)
        .write.parquet(staged)
      new java.io.File(staged).listFiles()
        .find(_.getName.endsWith(".parquet")).get
    }
    val topic = new java.io.File(s"$dir/topic")
    topic.mkdirs()
    def release(i: Int): Unit =
      assert(files(i).renameTo(new java.io.File(topic, s"part-$i.parquet")))
    release(0)
    val engine = new Engine(spark)
    try {
      val q = engine.createUpsertTableAs("codegen_tab",
        Streams.fileEvents(spark, topic.toString).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("total")),
        Seq("event_type"), s"$dir/table")
      q.processAllAvailable()
      val perBatch = (1 until 5).map { i =>
        val before = compiles
        release(i)
        q.processAllAvailable()
        compiles - before
      }
      // batch 2 is the first to read stored state, and compiles the state
      // store's key/value row joiner once; a batch-id literal in the
      // stamp would compile a new class in every batch
      assert(perBatch.tail === Seq(0L, 0L, 0L),
        s"classes compiled in batches 2-5: $perBatch")
      assert(spark.read.parquet(s"$dir/table/store")
        .select(col("__batch_id")).distinct().count() === 5L)
    } finally engine.terminateAll()
  }

  test("Profile stages reports the classes compiled per run") {
    spark.streams.active.foreach(_.stop())
    val r = Profile.stages(spark, sf, Seq("q_top_brands"), reps = 2).head
    assert(r.repCompiles === Seq(0L, 0L), r.show)
    assert(r.show.contains(s"compiles=${r.coldCompiles}/0,0 "), r.show)
  }
}
