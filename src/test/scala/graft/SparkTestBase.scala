package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session), built
  * through [[graft.sources.EngineConf.tuned]] so the suites run the
  * settings the mains ship with. It is the first session in the test JVM,
  * so its builder is the one that sizes Spark's static, JVM-wide codegen
  * cache. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = graft.sources.EngineConf.tuned(SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = SparkTestBase.sf
}
