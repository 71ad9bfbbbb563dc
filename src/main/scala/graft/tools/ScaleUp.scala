package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic fixture scale-up for scaling smoke tests: replicates each
  * driver-generated table R times with per-replica key shifts, producing an
  * R× dataset whose STRUCTURE matches the original — so a query's
  * sfN/sf0.1 runtime ratio measures the PLAN's growth curve (linear vs
  * superlinear), not an artifact of degenerate data.
  *
  * Structure preservation is the whole point, and two tables need care:
  *   - `documents`: naive replication would make every doc an exact
  *     duplicate of its R−1 twins — dedup/near-dup candidate pairs would
  *     then grow quadratically in R BY CONSTRUCTION, poisoning the scaling
  *     measurement. Non-zero replicas instead get a per-replica token
  *     spliced in every 6th word (seeded by (doc_id, replica, position) —
  *     deterministic), which breaks shingle/band collisions across
  *     replicas so the near-dup RATE stays roughly constant as the corpus
  *     grows, like a real crawl.
  *   - `embeddings`: replicas get a tiny deterministic per-vector offset on
  *     one dimension — enough to break exact ties in top-k, preserving
  *     cosine geometry.
  * Foreign keys (orders→customer, lineitem→part/supplier/orders,
  * events.user_id) shift by the same per-replica stride, so join
  * selectivities are unchanged; fixed-cardinality dims (region, nation)
  * are copied as-is, exactly like TPC-H at higher SF.
  *
  * Usage: `runMain graft.tools.ScaleUp <inDir> <outDir> [replicas=10]
  * [tables]` — `tables` is an optional comma-separated subset (e.g.
  * `documents`), for big-replica batches where generating the full star
  * schema would dominate the experiment's wall-clock. */
object ScaleUp {

  /** Larger than any fixture key at sf0.1 (≤ ~10^7), far from Long overflow
    * at any plausible replica count. */
  private val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <inDir> <outDir> [replicas]")
    val (inDir, outDir) = (args(0), args(1))
    val replicas = if (args.length > 2) args(2).toInt else 10
    val knownTables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val tableFilter: String => Boolean =
      if (args.length > 3) {
        // trim + validate: `"documents, events"` must mean both tables,
        // and a misspelled name must fail loudly, not produce an empty
        // output directory with exit code 0
        val requested = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(requested.nonEmpty, "empty tables list; valid names: " +
          knownTables.toSeq.sorted.mkString(", "))
        val unknown = requested -- knownTables
        require(unknown.isEmpty,
          s"unknown tables: ${unknown.toSeq.sorted.mkString(", ")}; " +
            s"valid names: ${knownTables.toSeq.sorted.mkString(", ")}")
        requested
      } else _ => true
    val spark = graft.sources.EngineConf.localSession("graft-scaleup")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicated(name: String)(shift: (DataFrame, Long, Int) => DataFrame): Unit = {
      if (!tableFilter(name)) return
      val base = Tables.load(spark, inDir, name)
      val out = (0 until replicas).map(i => shift(base, Stride * i, i))
        .reduce(_ unionAll _)
      out.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name x$replicas")
    }
    def shiftKeys(keys: String*)(df: DataFrame, s: Long, i: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(s)))

    // fixed-cardinality dims: cardinality is a constant of the schema
    for (t <- Seq("region", "nation") if tableFilter(t))
      Tables.load(spark, inDir, t).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/$t.parquet")

    replicated("customer")(shiftKeys("c_custkey"))
    replicated("supplier")(shiftKeys("s_suppkey"))
    replicated("part")(shiftKeys("p_partkey"))
    replicated("orders")(shiftKeys("o_orderkey", "o_custkey"))
    replicated("lineitem")(shiftKeys("l_orderkey", "l_partkey", "l_suppkey"))
    replicated("events")(shiftKeys("event_id", "user_id"))

    replicated("documents") { (df, s, i) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(s))
      if (i == 0) shifted
      else shifted
        .withColumn("text", expr(
          s"""array_join(transform(split(text, ' '), (w, j) ->
                IF(j % 6 = 5,
                   concat(w, ' ', substring(md5(concat(cast(doc_id AS STRING),
                     '_$i:', cast(j AS STRING))), 1, 8)),
                   w)), ' ')"""))
        .withColumn("n_chars", length(col("text")))
    }

    replicated("embeddings") { (df, s, i) =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(s))
      if (i == 0) shifted
      else shifted.withColumn("embedding", expr(
        s"""transform(embedding, (x, j) ->
              IF(j = 0,
                 CAST(x + (pmod(xxhash64(vec_id, $i), 1000) - 500) * 1e-6
                   AS FLOAT),
                 x))"""))
    }

    spark.stop()
  }
}
