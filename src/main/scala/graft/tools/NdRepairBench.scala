package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{IngestGuard, Streams}

/** Round-14 verdict #6 measurement: the band store's exact-repair restart
  * read on a COMPACTED store — the builder's r14 residual note. A clean
  * restart's first `appendBatchOnce` used to be indistinguishable from a
  * crash mid-append (the applied marker reads B-1 either way), so it
  * paid the repair anti-join: partition-pruned, but on a compacted store
  * every file holds mixed batches, so row-group stats cannot prune and
  * the read decodes the touched partitions' key columns.
  *
  * The round-15 fix is the INTENT sidecar ([[Streams.SideStore
  * .appendBatchOnce]]): intent still behind the batch proves the append
  * never started, so the clean restart skips the read while keeping the
  * r13 zero-duplicate-rows guarantee intact (a crash inside the
  * intent-to-applied window still repairs exactly). This tool measures
  * both paths on the same compacted store, so the decision is recorded
  * with numbers:
  *
  *  1. Build a 10×-scale band store (all band rows of the corpus — an
  *     upper bound on any accepted subset) across `nBatches` appends.
  *  2. `compactNdStore` it (one band_key-sorted file per partition —
  *     the mixed-batch worst case the residual describes).
  *  3. Time a fresh handle's first `appendBatchOnce` of one more batch
  *     (a) with the intent marker present (the clean-restart path — the
  *     skip), and (b) with the intent marker removed (the pre-intent /
  *     unknown path — the full repair read), on separate copies.
  *
  * Usage: `runMain graft.tools.NdRepairBench <docsDir>`. Prints one
  * `NDREPAIR {...}` JSON line. */
object NdRepairBench {

  private def bands(docs: DataFrame, parts: Int): DataFrame =
    Dedup.bandSigRows(docs.select(col("doc_id"), col("text")))
      .withColumn("band_part",
        pmod(xxhash64(col("band_key")), lit(parts)).cast("int"))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: NdRepairBench <docsDir>")
    val cpus = graft.sources.EngineConf.localCpus
    val spark = graft.sources.EngineConf.localSession("graft-ndrepair")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val parts = 64
    val nBatches = 10
    val base = java.nio.file.Files
      .createTempDirectory("graft-ndrepair").toString
    val storeA = s"$base/bands_intent"
    def sideStore(dir: String) = new Streams.SideStore(dir, "band_part",
      "guard-neardup/v2/k=16/bands=4/n=3/parts=64", "NdRepairBench", 0, 0,
      sortCols = Seq("band_key"))
    val docs = spark.read.parquet(args(0))
    val nDocs = docs.count()
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)

    // 1. the store: nBatches real guarded appends (stamps + markers);
    // sliced by pmod so every doc lands regardless of the id layout
    val st = sideStore(storeA)
    st.ensureReady(spark)
    (0 until nBatches).foreach { b =>
      val slice = bands(
        docs.filter(pmod(col("doc_id"), lit(nBatches)) === b), parts)
        .withColumn("__lineage", lit("lin"))
      st.appendBatchOnce(spark, slice, "lin", b.toLong,
        Seq("doc_id", "band_id"))
    }
    // 2. compaction: the mixed-batch worst case
    IngestGuard.compactNdStore(spark, storeA)
    def dirMb(p: String): Double = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum() / 1e6
      finally s.close()
    }
    val storeMb = dirMb(storeA)
    // 3b runs on a byte-identical copy so each path sees the same store
    val storeB = s"$base/bands_repair"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(storeA), fs,
      new org.apache.hadoop.fs.Path(storeB), false,
      spark.sparkContext.hadoopConfiguration)
    Seq(".__applied", ".__intent").foreach { sfx =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(storeA + sfx), fs,
        new org.apache.hadoop.fs.Path(storeB + sfx), false,
        spark.sparkContext.hadoopConfiguration)
    }
    fs.delete(new org.apache.hadoop.fs.Path(storeB + ".__intent"), false)

    // the restart batch: one more slice, pre-materialized so the timed
    // section is the append path, not the banding. Both stores are
    // byte-identical copies, so the SAME slice feeds both timed paths —
    // one definition, no per-store parameter to mislead (r15 ADVICE).
    def restartSlice() = bands(
      docs.filter(pmod(col("doc_id"), lit(nBatches)) === 0)
        .withColumn("doc_id", col("doc_id") + maxId + 1), parts)
      .withColumn("__lineage", lit("lin"))
      .localCheckpoint(false)

    // (a) clean restart WITH intent (the round-15 path): skip
    val sliceA = restartSlice()
    val tA0 = System.nanoTime()
    sideStore(storeA).appendBatchOnce(spark, sliceA, "lin",
      nBatches.toLong, Seq("doc_id", "band_id"))
    val intentSec = (System.nanoTime() - tA0) / 1e9

    // (b) the same restart WITHOUT intent (pre-intent store): repair read
    val sliceB = restartSlice()
    val tB0 = System.nanoTime()
    sideStore(storeB).appendBatchOnce(spark, sliceB, "lin",
      nBatches.toLong, Seq("doc_id", "band_id"))
    val repairSec = (System.nanoTime() - tB0) / 1e9

    // both paths must land the same store state (the exactness contract)
    val a = spark.read.parquet(storeA).count()
    val b = spark.read.parquet(storeB).count()
    println(s"""NDREPAIR {"docs":$nDocs,"batches":$nBatches,"store_mb":${f"$storeMb%.1f"},"intent_skip_sec":${f"$intentSec%.2f"},"repair_read_sec":${f"$repairSec%.2f"},"rows_intent":$a,"rows_repair":$b,"rows_match":${a == b},"cpus":$cpus}""")
    spark.stop()
  }
}
