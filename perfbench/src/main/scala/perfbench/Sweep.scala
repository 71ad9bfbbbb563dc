package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** analytics_sweep: a fixed set of registry queries over generated
  * fixtures. An untimed pass warms the JVM and writes every result for
  * the oracle check; timed passes follow for the rest of the run. Every
  * pass runs the queries in its own seeded order, so no query keeps one
  * position (and its neighbours' after-effects) through a run. Each
  * query's time splits into build (`queries(name)(spark, dir)`, including
  * any jobs it runs eagerly) and execute (the noop write). */
object Sweep {
  /** Registry entries measured, each with the operators object it calls
    * (`functions` for entries that call `graft.functions` directly).
    * Chosen to cover every operator module and the functions layer with an
    * exact DuckDB oracle, plus one approximate sketch query checked
    * against its error bound. */
  val Queries: Seq[(String, String)] = Seq(
    "q_filter_live" -> "Relational", "q_enrich" -> "Relational",
    "q_window_agg" -> "Relational", "q_latest_by_key" -> "Relational",
    "q_median_by_type" -> "Relational", "q_sessionize" -> "Relational",
    "q_cdc_latest" -> "Cdc", "q_cdc_scd2" -> "Cdc",
    "q_range_join" -> "Temporal",
    "q_top_brands" -> "Analytics", "q_rollup_revenue" -> "Analytics",
    "q_salted_join" -> "Skew",
    "q_dedup_exact" -> "Dedup", "q_minhash_pairs" -> "Dedup",
    "q_token_counts" -> "TextAnalysis",
    "q_knn" -> "Similarity",
    "q_cms_rollup" -> "functions", "q_quantile_rollup" -> "functions",
    "q_approx_distinct_users" -> "sketch")
  val Approximate = Set("q_approx_distinct_users")
  val SetupQueries = Seq("q_filter_live", "q_enrich", "q_cdc_latest")

  def run(spark: SparkSession, inputs: String, work: String, seconds: Double,
          traced: Boolean, manifest: Manifest, seed: Long, res: Result): Unit = {
    def orderOf(pass: Int) = new scala.util.Random(seed * 1000 + pass).shuffle(Queries)
    val order = orderOf(0)
    val results = s"$work/results"
    // set-up: a fresh session with a fixed set of queries built and run
    val setups = (0 until 3).map { k =>
      val t0 = Trace.nowMs
      val s = spark.newSession()
      SetupQueries.foreach(q =>
        SparkEntry.queries(q)(s, inputs).write.format("noop").mode("overwrite").save())
      val dt = (Trace.nowMs - t0) / 1000
      if (k == 0) res.perLayer("setup.jvm_to_first_op_s", (Trace.nowMs - Main.jvmStartMs) / 1000, "s")
      Main.log(f"set-up $k: $dt%.3f s")
      dt
    }
    res.metric("setup_s", Stats.median(setups), "s")
    // untimed pass: every result written for the oracle check
    val plant = manifest.text("plant_oracle") == "true"
    order.foreach { case (q, _) =>
      try {
        val df = SparkEntry.queries(q)(spark, inputs)
        (if (plant && q == order.head._1) df.limit(0) else df)
          .write.mode("overwrite").parquet(s"$results/$q")
      } catch {
        case e: Exception =>
          res.fail(s"$q failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          res.failed += 1
      }
    }
    val oracle = order.map(_._1).filterNot(Approximate).map(q => q -> SparkEntry.oracleSql(q))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      Json.obj(oracle.map { case (q, sql) => q -> Json.str(sql) }))
    Main.log("untimed pass done")
    // timed passes; in a traced run they alternate untraced / traced
    val times = mutable.HashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val start = Trace.nowMs
    // another pass only while it still fits in the measured time
    def fits = passes.nonEmpty &&
      Trace.nowMs - start + passes.map(_._2).max <= seconds * 1000
    while (passes.size < (if (traced) 2 else 1) || fits) {
      val tracedPass = traced && passes.size % 2 == 1
      Trace.on = tracedPass
      val p0 = Trace.nowMs
      def pass(): Unit = orderOf(passes.size + 1).foreach { case (q, m) =>
        val t0 = Trace.nowMs
        // entries that call graft.functions do their work in the functions
        // layer, and some of it in the build (eager sketch jobs)
        val fn = m == "functions"
        val df = Trace.span(if (fn) m else "SparkEntry", "SparkEntry.build", q) {
          SparkEntry.queries(q)(spark, inputs)
        }
        Trace.span(if (fn) m else "operators", s"exec.$m", q) {
          df.write.format("noop").mode("overwrite").save()
        }
        times.getOrElseUpdate((q, tracedPass), mutable.ArrayBuffer.empty) += Trace.nowMs - t0
      }
      if (tracedPass) Trace.window(pass()) else pass()
      passes += ((tracedPass, Trace.nowMs - p0))
      if (tracedPass) Trace.drain(spark)
      Trace.on = false
    }
    Main.log(s"passes: ${passes.map(p => f"${p._2}%.0f").mkString(" ")} ms")
    Main.log(order.map { case (q, _) => f"$q ${Stats.median(times((q, false)))}%.0f" }.mkString(", "))
    // per query, the median over its untraced passes
    val perQuery = order.map { case (q, _) => Stats.median(times((q, false))) }
    val total = perQuery.sum / 1000
    res.metric("throughput_per_s", order.size / total, "1/s")
    res.perLayer("latency_p50_ms", Stats.pct(perQuery, 50), "ms")
    res.perLayer("latency_p95_ms", Stats.pct(perQuery, 95), "ms")
    res.perLayer("sweep.total_s", total, "s")
    res.perLayer("sweep.geomean_ms", Stats.geomean(perQuery), "ms")
    if (traced) {
      val t = passes.filter(_._1).map(_._2)
      val u = passes.filter(!_._1).map(_._2)
      res.perLayer("trace.overhead_pct", 100 * (Stats.median(t) / Stats.median(u) - 1), "%")
    }
    res.attempted += order.size
    res.evidence("timed_passes") = passes.count(!_._1).toString
    res.evidence("queries") = order.map(_._1).mkString(",")
  }
}
