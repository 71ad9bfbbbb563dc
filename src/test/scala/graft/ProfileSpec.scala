package graft

import graft.tools.Profile

/** The dev profiler's readings, on the shared test session. */
class ProfileSpec extends GraftSuite {
  private val Eager = "q_agg_maintain" // runs `env.agg(max(offset)).head()`
  private val Lazy = "q_scan_project"

  // a first parquet schema inference launches a job: build each query once
  // so the per-JVM schema cache leaves only the query's own build jobs
  private lazy val warmed: Unit =
    Seq(Eager, Lazy).foreach(SparkEntry.queries(_)(spark, sf))

  test("stages counts the jobs a query launches while it is built, and " +
    "not the jobs another thread launches meanwhile") {
    warmed
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val other = new Thread(() =>
      while (running.get) spark.sparkContext.parallelize(1 to 4, 4).count())
    other.start()
    try {
      val Seq(eager, lazyQ) =
        Profile.stages(spark, sf, Seq(Eager, Lazy), reps = 1)
      assert(eager.buildJobs >= 1, eager.show)
      assert(lazyQ.buildJobs === 0, lazyQ.show)
      assert(lazyQ.stages.map(_.tasks).sum === lazyQ.tasksEnded, lazyQ.show)
    } finally { running.set(false); other.join() }
  }

  test("metrics reads the noop write's own command, not a build-time action") {
    warmed
    val r = Profile.metrics(spark, sf, Seq(Eager), reps = 1).head
    assert(r.command !== "head", r.show)
    assert(r.tree.linesIterator.next().trim.startsWith("OverwriteByExpression"),
      r.show)
  }

  test("the last rep's stage task counts add up to its task-end events") {
    warmed
    val r = Profile.stages(spark, sf, Seq(Eager), reps = 2).head
    assert(r.repCompiles.size === 2, r.show)
    assert(r.show.contains(
      s" compiles=${r.coldCompiles}/${r.repCompiles.mkString(",")} "), r.show)
    assert(r.stages.nonEmpty, r.show)
    assert(r.stages.map(_.tasks).sum === r.tasksEnded, r.show)
    assert(r.stages.map(_.jobId).toSet.subsetOf(r.jobs.map(_.jobId).toSet),
      r.show)
  }

  test("plan writes one file per query and flags build-time jobs") {
    warmed
    val out = java.nio.file.Files.createTempDirectory("graft-profile-plan")
    val reports = Profile.plan(spark, sf, out, "after", Seq(Eager, Lazy))
      .map(_.fold(e => fail(e), identity))
    assert(reports.map(_.query) === Seq(Eager, Lazy))
    Seq(Eager, Lazy).foreach(q =>
      assert(java.nio.file.Files.exists(out.resolve(s"${q}_after.txt"))))
    assert(reports.head.buildJobs >= 1, reports.head.show)
    assert(reports(1).buildJobs === 0, reports(1).show)
  }
}
