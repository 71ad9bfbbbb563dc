package graft.tools

/** Row-count probe for any registered query at any fixture dir — the
  * companion to [[Profile]] for scale-up runs where the QUESTION is
  * output size (is growth output-bound or plan-bound?), e.g.
  * `runMain graft.tools.Count q_editdist_pairs /tmp/graft_scale100`. */
object Count {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Count <query>[,<query>...] [sfDir]")
    val spark = graft.sources.EngineConf.localSession("graft-count")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = args.lift(1).getOrElse("/root/testdata/sf0.1")
    for (name <- args(0).split(",")) {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, d).count()
      println(f"COUNT $name $n rows ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
