package graft.sources

import org.apache.spark.sql.SparkSession

/** Engine-level Spark tuning shared by every main (Bench, Verify, dev
  * tools, the benchmark harness) and the test session: scale-adaptive
  * settings with env overrides, never constants tuned to one host shape.
  *
  *  - `spark.shuffle.sort.bypassMergeThreshold` (default here 0, env
  *    `SPARK_GRAFT_BYPASS_THRESHOLD`): with the default 200, every
  *    exchange below 200 reduce partitions uses the bypass writer — one
  *    file PER REDUCE PARTITION per map task. At production reducer
  *    counts (>200) the sort writer is the standard path anyway; forcing
  *    it everywhere makes local runs match production behavior and
  *    removes measured ~2.5 ms/map-task of tiny-file churn (a 32-map-task
  *    micro-exchange dropped 223 ms → 137 ms median; `OPTIMIZATION_r20.md`).
  *
  *  `spark.sql.files.openCostInBytes` was evaluated and deliberately left
  *  at Spark's default: the fixtures are single-row-group parquet files,
  *  so byte-range splitting below one file CANNOT raise real scan
  *  parallelism — lowering open cost only added empty splits (measured
  *  q_top_brands 0.84 → 1.05 s at 256 KiB). Scan-side parallelism for
  *  CPU-dense stages is instead handled by the operators' explicit
  *  parallelism floor (Dedup.spreadByKey), which no-ops at warehouse
  *  scale.
  *
  *  - `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheEntries]]):
  *    the JVM-wide LRU cache of Janino-compiled generated classes. Spark's
  *    default of 100 is smaller than the engine's working set, so a
  *    query mix that cycles through more shapes than that recompiles
  *    every class on every pass (about 15 ms a class). Measured at
  *    sf0.001: one pass of the benchmark's 19-query `analytics_sweep`
  *    needs about 225 classes, and the whole 166-query registry about
  *    1,625; at the default, a warm registry pass recompiled 2,105
  *    classes and took 77–95 s, against 44 s with the cache sized. The
  *    entry count depends on query shapes, not on data volume. It stays
  *    bounded (not unlimited) because any plan whose generated source
  *    carries a per-build value compiles a fresh class on every build,
  *    which would grow an unbounded cache without end in a long-running
  *    `Engine`. Streams stamp batch ids through `Streams.stampBatch` for
  *    that reason; a few registry queries still compile per warm build
  *    (ROADMAP direction 2). The setting is static: Spark reads it once
  *    per JVM, when the first class is generated, so only the builder of
  *    the first session that runs a query in the JVM can set it. An
  *    application that embeds `Engine` in its own session puts it on
  *    that builder (OPERATIONS.md §3).
  *
  *  - `spark.sql.streaming.checkpointFileManagerClass`
  *    ([[graft.streaming.LocalCheckpointFileManager]]): how streaming
  *    checkpoints (offset, commit and file-source logs) and HDFS-backed
  *    state-store files are written. Spark's default manager goes
  *    through Hadoop's local FS, which without libhadoop forks `chmod`
  *    for every created file and `readlink` for every rename: a JFR
  *    recording of a seed-7 `ep2_ingest` run (`--seconds 20`, 4 cores)
  *    counted 4,369 child processes (`readlink` 3,136, `chmod 0644`
  *    1,004, `chmod 0755` 223). Under this manager the same run forks
  *    416: 411 `chmod`s of the upsert store's parquet appends, the rest
  *    JVM start-up and shutdown. Paths on any other file system keep
  *    Spark's own manager. Unlike the codegen cache this is an ordinary
  *    session setting, read whenever a checkpoint is opened; a
  *    checkpoint written under either manager restarts under the other.
  */
object EngineConf {
  /** Generated classes kept compiled per JVM: at least twice the whole
    * registry's measured working set. */
  val CodegenCacheEntries = 4096

  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.shuffle.sort.bypassMergeThreshold",
      sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "0"))
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    .config(graft.streaming.LocalCheckpointFileManager.ConfKey,
      classOf[graft.streaming.LocalCheckpointFileManager].getName)

  /** Cores of a local dev session: `SPARK_GRAFT_CPUS`, default 32. */
  def localCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The session every dev main (Bench, the tools) builds on:
    * `local[localCpus]`, one shuffle partition per core, UTC, no UI, and
    * [[tuned]]. Callers add only their own extras. */
  def localSession(app: String): SparkSession.Builder =
    tuned(SparkSession.builder()
      .master(s"local[$localCpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", localCpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
}
