package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Measures the salted join against the plans it exists to beat, on a
  * synthetic fact table with one genuinely hot key.
  *
  * Shape: `rows` fact rows of which `hotFrac` share ONE key (a viral user,
  * an empty-string type), the rest uniform over `dimRows` keys; the dim
  * carries `dimRows` keys × a payload. Three plans over the identical
  * join + count:
  *   - `plain`: shuffled join, AQE skew handling OFF — the naive plan,
  *     whose hot partition serializes one reducer;
  *   - `salted`: [[Skew.saltedJoin]], same settings — the hot key spread
  *     across 16 reducers at the cost of dim × 16 replication;
  *   - `aqe`: plain join with AQE skew-join ON — what the optimizer
  *     does by itself when it can.
  * Broadcast is disabled throughout (a broadcastable dim needs no skew
  * handling at all). Fact/dim are generated executor-side (`spark.range`)
  * and checkpointed so generation cost is excluded.
  *
  * Usage: `runMain graft.tools.SkewBench [rows=5000000]
  * [dimRows=200000] [hotFrac=0.5]` → one `SKEWBENCH {...}` JSON line.
  */
object SkewBench {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 5000000L
    val dimRows = if (args.length > 1) args(1).toLong else 200000L
    val hotFrac = if (args.length > 2) args(2).toDouble else 0.5
    val cpus = graft.sources.EngineConf.localCpus
    val spark = graft.sources.EngineConf.localSession("graft-skew-bench")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val hot = (rows * hotFrac).toLong
    val fact = spark.range(rows).select(col("id").as("row_id"),
        when(col("id") < hot, lit(0L))
          .otherwise(pmod(xxhash64(col("id")), lit(dimRows))).as("k"),
        (col("id") % 97).as("v"))
      .localCheckpoint(true)
    val dim = spark.range(dimRows).select(col("id").as("dk"),
        (col("id") % 1013).as("weight"))
      .localCheckpoint(true)

    def run(label: String, aqeSkew: Boolean)(join: => DataFrame): Double = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
        aqeSkew.toString)
      // two timed runs, keep the best: the first pays codegen/JIT warmup
      Seq.fill(2)(timed {
        assert(join.agg(sum(col("v") * col("weight"))).head() != null)
      }._2).min
    }

    val plain = run("plain", aqeSkew = false)(
      fact.join(dim, col("k") === col("dk")))
    val salted = run("salted", aqeSkew = false)(
      Skew.saltedJoin(fact, dim, "k", "dk", col("row_id"), salts = 16))
    val aqe = run("aqe", aqeSkew = true)(
      fact.join(dim, col("k") === col("dk")))

    // correctness cross-check at bench scale: identical aggregates
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    val sumPlain = fact.join(dim, col("k") === col("dk"))
      .agg(sum(col("v") * col("weight"))).head().getLong(0)
    val sumSalted = Skew.saltedJoin(fact, dim, "k", "dk", col("row_id"), 16)
      .agg(sum(col("v") * col("weight"))).head().getLong(0)
    require(sumPlain == sumSalted,
      s"salted join diverged: $sumSalted != $sumPlain")

    println(f"""SKEWBENCH {"rows":$rows,"dim_rows":$dimRows,""" +
      f""""hot_frac":$hotFrac,"plain_sec":$plain%.2f,""" +
      f""""salted_sec":$salted%.2f,"aqe_sec":$aqe%.2f,""" +
      s""""agg_check":$sumPlain,"cpus":$cpus}""")
    spark.stop()
  }
}
