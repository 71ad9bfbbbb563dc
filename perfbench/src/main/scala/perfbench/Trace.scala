package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for traced runs.
  *
  * Spans come from two places: the harness times its own calls into the
  * engine's public functions ([[span]]), and Spark's public listener APIs
  * report jobs, stages, tasks, micro-batch progress and actions. Nothing
  * in the engine is modified. Spans are kept in memory and written out at
  * the end of the run.
  *
  * A span names its parent by a reference resolved at the end:
  * `span:<id>` (a harness span), `job:<id>`, `stage:<id>`, `task:<id>` or
  * `batch:<runId>:<batchId>` (a micro-batch). Jobs find their parent
  * through the local property the calling span sets, or through the
  * streaming batch properties Spark puts on every micro-batch job.
  *
  * Tracing is off unless [[on]] is set; every hook checks the flag first,
  * so the end-to-end runs pay one volatile read per hook.
  */
object Trace {
  @volatile var on = false

  final case class Span(id: String, parent: String, layer: String,
                        name: String, startMs: Double, endMs: Double,
                        group: String)

  val SpanProp = "perfbench.span"
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val counters = TrieMap.empty[String, java.util.concurrent.atomic.DoubleAdder]
  private val maxima = TrieMap.empty[String, AtomicLong]
  private val windows = mutable.ArrayBuffer.empty[(Double, Double)]
  @volatile private var sc: org.apache.spark.SparkContext = _

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock ms with nanosecond resolution, on the listeners' clock. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val stack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  def add(name: String, v: Double): Unit =
    if (on) counters.getOrElseUpdate(name,
      new java.util.concurrent.atomic.DoubleAdder).add(v)
  def max(name: String, v: Long): Unit =
    if (on) maxima.getOrElseUpdate(name, new AtomicLong(Long.MinValue))
      .accumulateAndGet(v, math.max(_, _))
  def counter(name: String): Double = counters.get(name).map(_.sum).getOrElse(0.0)
  def maximum(name: String): Double =
    maxima.get(name).map(_.get.toDouble).filter(_ > Long.MinValue).getOrElse(0.0)

  /** Time `body` as a span of `layer`. Spark jobs started by this thread
    * inside the span become its children. `parent` overrides the
    * thread's current span (for spans whose caller runs elsewhere). */
  def span[T](layer: String, name: String, group: String = "",
              parent: Option[String] = None)(body: => T): T =
    if (!on) body
    else {
      val id = s"span:${ids.incrementAndGet()}"
      val outer = stack.get
      val par = parent.getOrElse(outer.headOption.getOrElse(""))
      stack.set(id :: outer)
      val prevProp = Option(sc).map(_.getLocalProperty(SpanProp))
      Option(sc).foreach(_.setLocalProperty(SpanProp, id))
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack.set(outer)
        Option(sc).foreach(_.setLocalProperty(SpanProp, prevProp.orNull))
        spans.add(Span(id, par, layer, name, t0, t1, group))
      }
    }

  /** The id of the innermost open span on this thread, if any. */
  def current: Option[String] = stack.get.headOption

  /** Mark a measured window: spans are clipped to the union of windows
    * and the wall time of the traced run is their total length. */
  def window[T](body: => T): T = {
    val t0 = nowMs
    try body finally windows.synchronized { windows += ((t0, nowMs)) }
  }

  // ---------------------------------------------------------------- //
  // Spark listeners
  // ---------------------------------------------------------------- //

  private final case class JobInfo(parent: String, startMs: Double)
  private val jobs = TrieMap.empty[Int, JobInfo]
  private val stageJob = TrieMap.empty[Int, Int]
  final case class StageStat(tasks: Int, runMs: Long, input: Long,
                             shuffleRead: Long, shuffleWrite: Long,
                             spill: Long, durMs: Long)
  val stageStats = new ConcurrentLinkedQueue[StageStat]()
  /** Durations of `collect` actions, from the QueryExecutionListener. */
  val collectMs = new ConcurrentLinkedQueue[java.lang.Double]()

  /** Job and micro-batch progress hooks, registered once per session;
    * they record only while [[on]]. */
  def install(spark: SparkSession, onProgress: StreamingQueryListener.QueryProgressEvent => Unit): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
        val p = Option(e.properties)
        if (p.exists(x => x.getProperty("spark.jobGroup.id") == DrainGroup))
          drainJobs.put(e.jobId, ())
        else {
          // a stream thread inherits the local properties of the thread
          // that started the query, so the batch properties come first
          val parent = (for {
              x <- p
              q <- Option(x.getProperty("sql.streaming.queryId"))
              b <- Option(x.getProperty("streaming.sql.batchId"))
            } yield s"batch:$q:$b")
            .orElse(p.flatMap(x => Option(x.getProperty(SpanProp))))
            .getOrElse("")
          jobs.put(e.jobId, JobInfo(parent, e.time.toDouble))
          e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        }
        events.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        if (drainJobs.remove(e.jobId).nonEmpty) drained.incrementAndGet()
        jobs.remove(e.jobId).foreach { j =>
          if (on) spans.add(Span(s"job:${e.jobId}", j.parent, "spark", "job",
            j.startMs, e.time.toDouble, ""))
        }
        events.incrementAndGet()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (on && stageJob.contains(e.stageInfo.stageId)) {
          val i = e.stageInfo
          val m = i.taskMetrics
          val end = i.completionTime.getOrElse(e.stageInfo.submissionTime.getOrElse(0L))
          val start = i.submissionTime.getOrElse(end)
          stageStats.add(StageStat(i.numTasks,
            if (m == null) 0L else m.executorRunTime,
            if (m == null) 0L else m.inputMetrics.bytesRead,
            if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
            if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
            if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
            end - start))
          spans.add(Span(s"stage:${i.stageId}",
            stageJob.get(i.stageId).map(j => s"job:$j").getOrElse(""),
            "spark", "stage", start.toDouble, end.toDouble, ""))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (on && stageJob.contains(e.stageId)) {
        val t = e.taskInfo
        spans.add(Span(s"task:${t.taskId}", s"stage:${e.stageId}", "spark",
          "task", t.launchTime.toDouble, t.finishTime.toDouble, ""))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (on && funcName == "collect") {
          collectMs.add(durationNs / 1e6); events.incrementAndGet()
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (on) {
          recordProgress(e.progress)
          onProgress(e)
          events.incrementAndGet()
        }
    })
  }

  private val DrainGroup = "perfbench-drain"
  private val drainJobs = TrieMap.empty[Int, Unit]
  private val drained = new AtomicLong(0)
  private val events = new AtomicLong(0)

  /** Wait until the listeners have seen every event posted so far: run a
    * marker job and wait for its end to reach the listener (events reach
    * a listener in order), then wait for the other listener queues to go
    * quiet. */
  def drain(spark: SparkSession): Unit = if (on) {
    val before = drained.get
    val sc = spark.sparkContext
    sc.setJobGroup(DrainGroup, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (drained.get == before && System.nanoTime() < deadline) Thread.sleep(5)
    var seen = -1L
    while (seen != events.get && System.nanoTime() < deadline) {
      seen = events.get
      Thread.sleep(100)
    }
  }

  /** Micro-batch spans from one progress report. Spark reports phase
    * durations, not phase start times, so the phases are laid end to end
    * in execution order from the trigger's start. */
  private def recordProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }
    val trigger = d.getOrElse("triggerExecution", 0L)
    if (p.numInputRows == 0 && !d.contains("addBatch")) return
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val batch = s"batch:${p.id}:${p.batchId}"
    spans.add(Span(batch, "", "streaming", "trigger", start, start + trigger,
      Option(p.name).getOrElse("")))
    var t = start
    Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
      "getBatch" -> "sources", "queryPlanning" -> "streaming",
      "addBatch" -> "streaming", "commitOffsets" -> "streaming").foreach {
      case (phase, layer) =>
        d.get(phase).foreach { ms =>
          spans.add(Span(if (phase == "addBatch") s"$batch:addBatch"
            else s"$batch:$phase", batch, layer, phase, t, t + ms, Option(p.name).getOrElse("")))
          t += ms
        }
    }
    add("streaming.batches", 1)
    add("streaming.rows", p.numInputRows.toDouble)
    Seq("triggerExecution", "addBatch", "latestOffset", "queryPlanning",
      "walCommit").foreach(k => add(s"streaming.$k", d.getOrElse(k, 0L).toDouble))
    max("streaming.latestOffset_max", d.getOrElse("latestOffset", 0L))
    p.stateOperators.headOption.foreach { s =>
      max("streaming.state_rows", s.numRowsTotal)
      max("streaming.state_bytes", s.memoryUsedBytes)
    }
  }

  // ---------------------------------------------------------------- //
  // Attribution
  // ---------------------------------------------------------------- //

  /** Rank used to break ties between equally deep spans: the higher rank
    * (the layer closer to the hardware) wins. */
  private val layerRank = Map("api" -> 0, "SparkEntry" -> 1, "streaming" -> 2,
    "sources" -> 3, "sinks" -> 4, "operators" -> 5, "functions" -> 6,
    "spark" -> 7)
  val layers: Seq[String] = layerRank.toSeq.sortBy(_._2).map(_._1)

  final case class Attribution(selfMs: Map[String, Double], wallMs: Double,
                               unattributedMs: Double, spans: Seq[Span])

  /** Partition the traced wall time among layers. Each instant of every
    * measured window goes to the deepest open span (span depth follows
    * the parent chain; micro-batch jobs hang under the batch's addBatch
    * phase), so a span's share is its duration minus what its children
    * cover, and concurrent spans never count one instant twice. Instants
    * no span covers are "unattributed", taken from a separate union of
    * the span intervals, so [[check]] can verify that the layer shares
    * plus that remainder add back up to the wall time. */
  def attribute(): Attribution = {
    val all = spans.asScala.toIndexedSeq
    val byId = all.map(s => s.id -> s).toMap
    def resolve(s: Span): String =
      if (s.layer == "spark" && s.name == "job" && s.parent.startsWith("batch:") &&
          byId.contains(s"${s.parent}:addBatch")) s"${s.parent}:addBatch"
      else s.parent
    val depth = mutable.HashMap.empty[String, Int]
    def depthOf(s: Span, guard: Int = 0): Int = depth.getOrElseUpdate(s.id,
      byId.get(resolve(s)) match {
        case Some(p) if guard < 64 => depthOf(p, guard + 1) + 1
        case _ => 0
      })
    val ws = windows.synchronized(windows.toIndexedSeq).sortBy(_._1)
    val wall = ws.map { case (a, b) => b - a }.sum
    // boundary sweep over spans clipped to the windows
    val clipped = for {
      s <- all
      (a, b) <- ws
      lo = math.max(s.startMs, a)
      hi = math.min(s.endMs, b)
      if hi > lo
    } yield (lo, hi, s)
    final case class Ev(t: Double, open: Boolean, key: (Int, Int, String), layer: String)
    val evs = clipped.flatMap { case (lo, hi, s) =>
      val k = (depthOf(s), layerRank.getOrElse(s.layer, 0), s.id)
      Seq(Ev(lo, open = true, k, s.layer), Ev(hi, open = false, k, s.layer))
    }.sortBy(e => (e.t, if (e.open) 1 else 0))
    val active = mutable.TreeMap.empty[(Int, Int, String), String](
      Ordering.Tuple3[Int, Int, String])
    val self = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var last = 0.0
    evs.foreach { e =>
      if (active.nonEmpty) self(active.last._2) += e.t - last
      if (e.open) active.put(e.key, e.layer) else active.remove(e.key)
      last = e.t
    }
    // covered time, from the union of the clipped intervals
    var covered = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    clipped.map(c => (c._1, c._2)).sortBy(_._1).foreach { case (a, b) =>
      if (hi.isNaN || a > hi) { if (!hi.isNaN) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (!hi.isNaN) covered += hi - lo
    Attribution(layers.map(l => l -> self(l)).toMap, wall, wall - covered, all)
  }

  /** The layer shares plus the unattributed remainder must add back up to
    * the wall time, and no share may be negative. */
  def check(a: Attribution): Option[String] = {
    val sum = a.selfMs.values.sum + a.unattributedMs
    if (math.abs(sum - a.wallMs) > 1e-6 * math.max(1.0, a.wallMs))
      Some(f"layer self times + unattributed = $sum%.3f ms != wall ${a.wallMs}%.3f ms")
    else if (a.selfMs.values.exists(_ < 0) || a.unattributedMs < -1e-6)
      Some("negative layer share in the attribution")
    else None
  }

  /** Write every span as one JSON line. */
  def dump(a: Attribution, path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try a.spans.foreach { s =>
      w.write(s"""{"id":"${s.id}","parent":"${s.parent}","layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""group":${Json.str(s.group)}}""")
      w.newLine()
    } finally w.close()
  }
}
