package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.sources.EngineConf

/** Dev profiler for [[SparkEntry]] queries: the jobs, stages, SQL metrics
  * and plans the Spark UI would show, read from one `SparkListener` and
  * one `QueryExecutionListener` after draining the listener bus.
  * {{{
  * SPARK_GRAFT_SF_DIR=<fixtures> runMain graft.tools.Profile
  *   stages  <q1,q2|all> [reps=3]
  *   metrics <q1,q2|all> [reps=3]
  *   plan    <outDir> <suffix> [q1,q2]
  * }}}
  * A run is Bench's: build the query, then write it to the noop sink; one
  * cold run, then `reps` timed ones. `stages` prints the build time, the
  * jobs launched while building, the classes Janino compiled during the
  * cold run and during each timed rep (`compiles=<cold>/<r1>,<r2>,…`) and
  * the last rep's jobs and stages. The compile count is Spark's JVM-wide
  * `CodegenMetrics` counter: unlike the jobs, it is not filtered by the
  * `graft.profile` job tag, so code another thread generates meanwhile
  * is counted too.
  * `metrics` prints the last rep's executed plan with its SQL metrics,
  * taken from the noop write's own command event. `plan` writes each
  * query's `explain("formatted")`, built but not run, to
  * `<outDir>/<q>_<suffix>.txt`, with one summary line per query. */
object Profile {

  final case class Job(jobId: Int, wallMs: Long)
  final case class Stage(jobId: Int, stageId: Int, name: String,
                         wallMs: Long, tasks: Int, runMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long,
                         input: Long)

  /** `tasksEnded` counts the task-end events of the last rep's jobs;
    * `coldCompiles` and `repCompiles` the classes compiled during the
    * cold run and during each timed rep. */
  final case class StageReport(query: String, coldS: Double,
                               times: Seq[Double], buildMs: Double,
                               buildJobs: Int, coldCompiles: Long,
                               repCompiles: Seq[Long], jobs: Seq[Job],
                               stages: Seq[Stage], tasksEnded: Int) {
    def show: String = {
      val head = f"\n=== $query cold=$coldS%.3f times=" +
        times.map(t => f"$t%.3f").mkString(",") +
        f" build=$buildMs%.1f ms build_jobs=$buildJobs" +
        s" compiles=$coldCompiles/${repCompiles.mkString(",")}" +
        s" jobs/run=${jobs.size}"
      (head +: jobs.flatMap { j =>
        f"  job ${j.jobId}%4d wall=${j.wallMs}%5d ms" +:
          stages.filter(_.jobId == j.jobId).map(s =>
            f"    stage ${s.stageId}%4d wall=${s.wallMs}%5d ms " +
              f"tasks=${s.tasks}%3d run=${s.runMs}%6d ms " +
              f"shR=${s.shuffleRead / 1024}%7d KB " +
              f"shW=${s.shuffleWrite / 1024}%7d KB " +
              f"in=${s.input / 1024}%8d KB spill=${s.spill}%d  ${s.name}")
      }).mkString("\n")
    }
  }

  /** The noop write's command name and executed plan, a node a line. */
  final case class MetricsReport(query: String, seconds: Double,
                                 command: String, tree: String) {
    def show: String = f"\n=== $query last-rep $seconds%.3f s ($command)\n$tree"
  }

  final case class PlanReport(query: String, exchanges: Int, joins: String,
                              buildJobs: Int) {
    def show: String = f"PLAN $query%-28s exchanges=$exchanges%2d " +
      s"joins=[$joins] build_jobs=$buildJobs"
  }

  def stages(spark: SparkSession, sfDir: String, names: Seq[String],
             reps: Int = 3): Seq[StageReport] = recording(spark) { rec =>
    names.map { name =>
      val (cold, runs) = timedRuns(rec, spark, sfDir, name, reps)
      val last = runs.last
      rec.synchronized {
        StageReport(name, cold.seconds, runs.map(_.seconds), last.buildMs,
          last.buildJobs, cold.compiles, runs.map(_.compiles),
          rec.jobs.filter(_.jobId > last.jobMark).toSeq,
          rec.stages.filter(_.jobId > last.jobMark).toSeq,
          rec.tasksByJob.collect { case (j, n) if j > last.jobMark => n }.sum)
      }
    }
  }

  def metrics(spark: SparkSession, sfDir: String, names: Seq[String],
              reps: Int = 3): Seq[MetricsReport] = recording(spark) { rec =>
    names.map { name =>
      val last = timedRuns(rec, spark, sfDir, name, reps)._2.last
      // the write's own event: the build's eager actions (a `head()`, a
      // checkpoint) ran before the mark, and they are not Commands
      val (command, qe) = rec.synchronized(rec.executions
          .drop(last.eventMark).filter(_._2.logical.isInstanceOf[Command])
          .lastOption)
        .getOrElse(throw new IllegalStateException(
          s"$name: no command event arrived for its noop write"))
      MetricsReport(name, last.seconds, command, tree(qe.executedPlan))
    }
  }

  def plan(spark: SparkSession, sfDir: String, outDir: Path, suffix: String,
           names: Seq[String]): Seq[Either[String, PlanReport]] =
    recording(spark) { rec =>
      Files.createDirectories(outDir)
      names.map { name =>
        try {
          run(rec, spark, sfDir, name, write = false) // warms fixture schemas
          val built = run(rec, spark, sfDir, name, write = false)
          val plan = built.df.queryExecution.explainString(FormattedMode)
          Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
          val exchanges = "(?m)^\\s*[+:]?[- ]*\\bExchange\\b".r
            .findAllIn(plan).length max
            "\\(\\d+\\) Exchange".r.findAllIn(plan).length
          val joins = ("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
              "BroadcastNestedLoopJoin|CartesianProduct)").r
            .findAllIn(plan).toSeq.groupBy(identity)
            .map { case (k, v) => s"$k×${v.size}" }.toSeq.sorted.mkString(",")
          Right(PlanReport(name, exchanges, joins, built.buildJobs))
        } catch {
          case NonFatal(e) => Left(s"PLAN $name FAILED: ${e.getMessage}")
        }
      }
    }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile stages|metrics <q1,q2|all> [reps] | " +
      "Profile plan <outDir> <suffix> [q1,q2]"
    require(args.length >= 2, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(
        "SPARK_GRAFT_SF_DIR must name a fixture directory"))
    def queries(arg: String): Seq[String] =
      if (arg == "all") SparkEntry.queries.keys.toSeq.sorted
      else arg.split(",").map(_.trim).toSeq
    def reps = args.lift(2).fold(3)(_.toInt)
    val spark = EngineConf.localSession("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args(0) match {
      case "stages" =>
        stages(spark, sfDir, queries(args(1)), reps).foreach(r => println(r.show))
      case "metrics" =>
        metrics(spark, sfDir, queries(args(1)), reps).foreach(r => println(r.show))
      case "plan" =>
        require(args.length >= 3, usage)
        plan(spark, sfDir, Paths.get(args(1)), args(2),
          queries(args.lift(3).getOrElse("all")))
          .foreach(r => println(r.fold(identity, _.show)))
      case other => throw new IllegalArgumentException(s"mode '$other'; $usage")
    } finally spark.stop()
  }

  /** One run: `jobMark` is the last job id before it, `buildJobs` the jobs
    * its build launched, `eventMark` the query-execution events before its
    * write, `seconds` build plus write, `compiles` the classes compiled
    * in the JVM meanwhile. */
  private final case class Run(df: DataFrame, jobMark: Int, buildMs: Double,
                               buildJobs: Int, eventMark: Int,
                               seconds: Double, compiles: Long)

  /** Build `name`, then write it to the noop sink when `write`. */
  private def run(rec: Recorder, spark: SparkSession, sfDir: String,
                  name: String, write: Boolean = true): Run = {
    val jobMark = rec.watermark()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val buildNs = System.nanoTime() - t0
    rec.drain()
    val buildJobs = rec.startedAfter(jobMark)
    val eventMark = rec.synchronized(rec.executions.size)
    val t1 = System.nanoTime()
    if (write) df.write.format("noop").mode("overwrite").save()
    Run(df, jobMark, buildNs / 1e6, buildJobs, eventMark,
      (buildNs + System.nanoTime() - t1) / 1e9,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled)
  }

  /** The cold run and `reps` timed runs of `name`, drained. */
  private def timedRuns(rec: Recorder, spark: SparkSession, sfDir: String,
                        name: String, reps: Int): (Run, Seq[Run]) = {
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val cold = run(rec, spark, sfDir, name)
    val runs = Seq.fill(reps)(run(rec, spark, sfDir, name))
    rec.drain()
    (cold, runs)
  }

  /** Executed plan with each node's non-zero SQL metrics, through AQE's
    * final plan, its query stages and reused subqueries. */
  private def tree(root: SparkPlan): String = {
    def walk(plan: SparkPlan, depth: Int): Seq[String] = {
      val metrics = plan.metrics.toSeq.filter(_._2.value > 0).sortBy(_._1)
        .map { case (k, m) =>
          k + "=" + (m.metricType match {
            case "timing" => s"${m.value} ms"
            case "nsTiming" => s"${m.value / 1000000} ms"
            case "size" => s"${m.value / 1024} KB"
            case _ => m.value.toString
          })
        }
      val children = plan match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedSubqueryExec => Seq(r.child)
        case p => p.children ++ p.subqueries
      }
      s"${"  " * depth}${plan.nodeName}: ${metrics.mkString(", ")}" +:
        children.flatMap(walk(_, depth + 1))
    }
    walk(root, 1).mkString("\n")
  }

  /** Local property that marks the jobs `body` launches, from this thread
    * or the threads it starts (AQE stages, broadcasts, subqueries). */
  private val Profiled = "graft.profile"

  /** Listen on `spark` for the duration of `body`. */
  private def recording[A](spark: SparkSession)(body: Recorder => A): A = {
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    spark.sparkContext.setLocalProperty(Profiled, "1")
    try body(rec)
    finally {
      spark.sparkContext.setLocalProperty(Profiled, null)
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  /** What the listener bus delivered for [[Profiled]] jobs (other jobs
    * on the same context, such as running streams, are not recorded);
    * read under the recorder's lock, after [[drain]]. */
  private final class Recorder(sc: SparkContext)
      extends SparkListener with QueryExecutionListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    val tasksByJob = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val executions = mutable.ArrayBuffer.empty[(String, QueryExecution)]
    private val jobStart = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]
    private var lastJob = -1

    def drain(): Unit = GraftListenerBridge.drain(sc)

    /** The highest job id started so far; every later job's is larger. */
    def watermark(): Int = { drain(); synchronized(lastJob) }

    /** Jobs started with an id above `mark`. */
    def startedAfter(mark: Int): Int = synchronized(jobStart.keys.count(_ > mark))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(Profiled) != null)) {
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageJob(_) = e.jobId)
        lastJob = math.max(lastJob, e.jobId)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.get(e.jobId).foreach(t => jobs += Job(e.jobId, e.time - t))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach(tasksByJob(_) += 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        stageJob.get(si.stageId).foreach(job => stages += Stage(job, si.stageId,
          si.name.split(" at ").head,
          (for (end <- si.completionTime; start <- si.submissionTime)
            yield end - start).getOrElse(-1L),
          si.numTasks, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
          m.inputMetrics.bytesRead))
      }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      synchronized { executions += funcName -> qe }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }
}
