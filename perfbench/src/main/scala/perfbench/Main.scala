package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --inputs <dir> --work <dir> --out <file>`.
  * Inputs are generated before the JVM starts; the run writes its result
  * (metrics, correctness errors, evidence) as JSON to `--out`. The engine
  * runs on `local[nproc]`. */
object Main {
  val jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Progress line on stderr (the runner keeps it in the run's log). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(Trace.nowMs - jvmStartMs) / 1000}%.2fs] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val inputs = opt("inputs")
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val res = new Result
    res.evidence ++= Seq("workload" -> workload, "seed" -> opt("seed"),
      "nproc" -> cores.toString, "local_n" -> cores.toString, "clients" -> "0",
      "generator_threads" -> (if (workload == "ep2_ingest") 1 else 0).toString,
      "loadavg_1m_start" -> Stats.loadAvg1,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / 1048576).toString)
    val probeStart = Stats.cpuProbeMs()

    val spark = graft.sources.EngineConf.tuned(SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) Trace.install(spark, e => Lag.onProgress(e.progress))
    val manifest = Manifest.load(s"$inputs/manifest.json")
    log("session ready")
    try workload match {
      case "ep2_ingest" => Ep2.ingest(spark, inputs, work, seconds, traced, manifest, res)
      case "analytics_sweep" => Sweep.run(spark, inputs, work, seconds, traced, manifest, opt("seed").toLong, res)
      case other => res.fail(s"unknown workload '$other'")
    } catch {
      case e: Throwable =>
        res.fail(s"run aborted: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
        res.failed += 1
        e.printStackTrace()
    }
    log("workload done")
    res.metric("peak_rss_mb", Stats.peakRssMb, "MB")
    // the same fixed CPU work before and after the workload: how fast the
    // host ran during this run, so runs on a slowed host can be told apart
    val probeEnd = Stats.cpuProbeMs()
    res.evidence("cpu_probe_ms_start") = f"$probeStart%.1f"
    res.evidence("cpu_probe_ms_end") = f"$probeEnd%.1f"
    res.perLayer("host.cpu_probe_ms", (probeStart + probeEnd) / 2, "ms")
    if (traced) Layers.report(res, s"$work/spans.jsonl")
    res.evidence("loadavg_1m_end") = Stats.loadAvg1
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), res.toJson)
    spark.stop()
    // streaming threads are daemons of a stopped context; do not wait
    sys.exit(0)
  }
}

/** Per-layer metrics of a traced run. Every workload reports the same
  * names; a layer the workload never reaches reads 0. */
object Layers {
  val Modules: Seq[String] = Sweep.Queries.map(_._2).distinct.filterNot(_ == "functions")

  def report(res: Result, spansPath: String): Unit = {
    val a = Trace.attribute()
    Trace.check(a).foreach(res.fail)
    Trace.dump(a, spansPath)
    Trace.layers.foreach(l => res.perLayer(s"$l.self_ms", a.selfMs(l), "ms"))
    res.perLayer("trace.unattributed_ms", a.unattributedMs, "ms")
    res.perLayer("trace.wall_ms", a.wallMs, "ms")
    res.perLayer("trace.spans", a.spans.size.toDouble, "count")
    val stages = Trace.stageStats.toArray(new Array[Trace.StageStat](0)).toSeq
    val runMs = stages.map(_.runMs).sum.toDouble
    res.perLayer("spark.jobs", a.spans.count(_.name == "job").toDouble, "count")
    res.perLayer("spark.stages", stages.size.toDouble, "count")
    res.perLayer("spark.tasks", stages.map(_.tasks).sum.toDouble, "count")
    res.perLayer("spark.tasks_per_stage",
      if (stages.isEmpty) 0 else stages.map(_.tasks).sum.toDouble / stages.size, "count")
    res.perLayer("spark.single_task_stage_share",
      if (runMs == 0) 0 else stages.filter(_.tasks == 1).map(_.runMs).sum / runMs, "share")
    res.perLayer("spark.executor_run_ms", runMs, "ms")
    res.perLayer("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble, "B")
    res.perLayer("spark.shuffle_read_bytes", stages.map(_.shuffleRead).sum.toDouble, "B")
    res.perLayer("spark.spill_bytes", stages.map(_.spill).sum.toDouble, "B")
    res.perLayer("sources.input_bytes", stages.map(_.input).sum.toDouble, "B")
    res.perLayer("sources.scan_stage_ms", stages.filter(_.input > 0).map(_.durMs).sum.toDouble, "ms")
    val collects = Trace.collectMs.toArray(new Array[java.lang.Double](0)).map(_.doubleValue)
    res.perLayer("spark.actions", collects.length.toDouble, "count")
    // streaming (micro-batch progress)
    val batches = Trace.counter("streaming.batches")
    def perBatch(k: String) = if (batches == 0) 0.0 else Trace.counter(k) / batches
    res.perLayer("streaming.batches", batches, "count")
    res.perLayer("streaming.rows_per_batch", perBatch("streaming.rows"), "count")
    res.perLayer("streaming.trigger_ms", perBatch("streaming.triggerExecution"), "ms")
    res.perLayer("streaming.addBatch_ms", perBatch("streaming.addBatch"), "ms")
    res.perLayer("streaming.latestOffset_ms", perBatch("streaming.latestOffset"), "ms")
    res.perLayer("streaming.queryPlanning_ms", perBatch("streaming.queryPlanning"), "ms")
    res.perLayer("streaming.walCommit_ms", perBatch("streaming.walCommit"), "ms")
    res.perLayer("streaming.state_rows", Trace.maximum("streaming.state_rows"), "count")
    res.perLayer("streaming.state_bytes", Trace.maximum("streaming.state_bytes"), "B")
    res.perLayer("sources.latestOffset_ms", Trace.maximum("streaming.latestOffset_max"), "ms")
    // sinks
    Seq("render_ms" -> "ms", "request_ms" -> "ms", "docs" -> "count",
      "bulk_bytes" -> "B", "requests" -> "count").foreach { case (k, u) =>
      res.perLayer(s"sinks.$k", Trace.counter(s"sinks.$k"), u)
    }
    // the loopback transport never fails a request, so it never retries
    res.perLayer("sinks.retries", 0, "count")
    // api: pull path
    val pulls = a.spans.filter(s => s.name == "rest.pull")
    val pq = a.spans.filter(_.name == "pullQuery")
    val meanMs = (xs: Seq[Trace.Span]) =>
      if (xs.isEmpty) 0.0 else xs.map(s => s.endMs - s.startMs).sum / xs.size
    val actionMs = if (pulls.isEmpty || collects.isEmpty) 0.0 else collects.sum / collects.length
    res.perLayer("api.pullQuery_ms", meanMs(pq), "ms")
    res.perLayer("spark.action_ms", actionMs, "ms")
    res.perLayer("rest.self_ms",
      if (pulls.isEmpty) 0.0 else meanMs(pulls) - meanMs(pq) - actionMs, "ms")
    // registry
    val builds = a.spans.filter(_.name == "SparkEntry.build")
    val execs = a.spans.filter(_.name.startsWith("exec."))
    val secs = (xs: Seq[Trace.Span]) => xs.map(s => s.endMs - s.startMs).sum / 1000
    res.perLayer("SparkEntry.build_s", secs(builds), "s")
    res.perLayer("SparkEntry.exec_s", secs(execs), "s")
    val buildIds = builds.map(_.id).toSet
    res.perLayer("spark.build_jobs",
      a.spans.count(s => s.name == "job" && buildIds.contains(s.parent)).toDouble, "count")
    Modules.foreach(m => res.perLayer(s"operators.$m.exec_s",
      secs(execs.filter(_.name == s"exec.$m")), "s"))
    // build plus execute of the entries that call graft.functions directly
    res.perLayer("functions.entries_s", secs(a.spans.filter(_.layer == "functions")), "s")
    // fill every name a workload did not reach
    Seq("ingest.latency_p99_ms" -> "ms", "gen.late_ms_max" -> "ms",
      "sources.lag_files_max" -> "count", "trace.overhead_pct" -> "%",
      "streaming.upsert_store_files" -> "count", "setup.jvm_to_first_op_s" -> "s",
      "sweep.total_s" -> "s", "latency_p95_ms" -> "ms", "sweep.geomean_ms" -> "ms").foreach { case (k, u) =>
      if (!res.layer.contains(k)) res.perLayer(k, 0, u)
    }
  }
}
