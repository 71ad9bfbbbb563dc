package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A failed query
  * is logged and the dump goes on, but the run then fails: a
  * `[verify] FAILED n/N: q_a, q_b` summary and exit status 1. */
object Verify {
  /** Thrown by [[dump]] after everything else was written. */
  final class Failed(val queries: Seq[String], total: Int)
      extends RuntimeException(
        s"[verify] FAILED ${queries.size}/$total: ${queries.mkString(", ")}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.sources.EngineConf.tuned(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional comma-separated subset for local iteration; the driver sets
    // no env and gets every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed =
      try {
        dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
          .filter { case (name, _) => only.forall(_.contains(name)) })
        None
      } catch { case f: Failed => Some(f) }
      finally spark.stop()
    failed.foreach { f => System.err.println(f.getMessage); sys.exit(1) }
  }

  /** Write each query's result to `<outDir>/<name>` and oracle_sql.json;
    * throws [[Failed]] at the end when any query failed. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Unit = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.functions.Json.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failed.nonEmpty) throw new Failed(failed, queries.size)
  }
}
