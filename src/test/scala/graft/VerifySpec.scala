package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify fails loudly: a failed query no longer ends in a log line and
  * exit status 0. The dump still writes every other query and
  * oracle_sql.json, then reports the failures in one summary. */
class VerifySpec extends GraftSuite {

  private val good = "q_scan_project"

  test("a planted query failure fails Verify after the rest is written") {
    val out = Files.createTempDirectory("graft-verify").toString
    val planted: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("planted failure")
    val err = intercept[Verify.Failed] {
      Verify.dump(spark, sf, out,
        Seq("q_planted" -> planted, good -> SparkEntry.queries(good)))
    }
    assert(err.getMessage === "[verify] FAILED 1/2: q_planted")
    assert(err.queries === Seq("q_planted"))
    assert(spark.read.parquet(s"$out/$good").count() > 0,
      "the query after the failure must still be written")
    assert(Files.exists(Paths.get(s"$out/oracle_sql.json")))
  }

  test("a bad sfDir fails every query and still writes oracle_sql.json") {
    val out = Files.createTempDirectory("graft-verify-bad").toString
    val names = Seq(good, "q_filter_live")
    val err = intercept[Verify.Failed] {
      Verify.dump(spark, "/nonexistent/sf", out,
        names.map(n => n -> SparkEntry.queries(n)))
    }
    assert(err.getMessage ===
      "[verify] FAILED 2/2: q_scan_project, q_filter_live")
    assert(Files.exists(Paths.get(s"$out/oracle_sql.json")))
  }

  test("a clean dump does not throw") {
    val out = Files.createTempDirectory("graft-verify-ok").toString
    Verify.dump(spark, sf, out, Seq(good -> SparkEntry.queries(good)))
    assert(Files.exists(Paths.get(s"$out/$good")))
  }
}
