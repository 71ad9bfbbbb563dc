package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.sources.EngineConf
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

  test("Profile stages reports the classes compiled per run") {
    spark.streams.active.foreach(_.stop())
    val r = Profile.stages(spark, sf, Seq("q_top_brands"), reps = 1).head
    assert(r.lastCompiles === 0L, r.show)
    assert(r.show.contains(s"compiles=${r.coldCompiles}/0 "), r.show)
  }
}
