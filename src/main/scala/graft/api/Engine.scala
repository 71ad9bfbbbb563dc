package graft.api

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.operators.{Cdc, Relational}
import graft.sinks.{BulkTransport, EsSink, FileBulkTransport}
import graft.streaming.Streams

/** The engine's programmatic surface — ksqlDB's DDL/metadata + persistent-
  * query lifecycle (SURVEY §2.10) as a thin registry over Structured
  * Streaming.
  *
  * In the reference every `CREATE STREAM ... AS SELECT` registers a named
  * persistent query that survives until `DROP`/terminate
  * (`/root/reference/ksqldb-statements.sql`, `readme.md:150` `SHOW
  * QUERIES`). Here a named query is a named `StreamingQuery`; the registry
  * provides start/stop/list/describe — the capability the reference exposes
  * over its REST API (`rest_example.sh:30-99`) is this Scala API itself.
  *
  * @param connectorDataDir root under which a source connector's per-topic
  *        "binlog" directories live (the file-stream analog of the Debezium
  *        connection; parquet files appended there are read in microbatches
  *        of up to one scan wave, see [[createSourceConnector]])
  * @param esTransport `connection.url` → bulk transport for sink
  *        connectors. No ES server exists in this container, so the default
  *        records `_bulk` payloads to a local spool dir ([[FileBulkTransport]]);
  *        production swaps in an HTTP transport — the Catalyst doc-building
  *        plan is identical either way.
  */
class Engine(val spark: SparkSession,
             val connectorDataDir: String = java.nio.file.Files
               .createTempDirectory("graft-connect").toString,
             esTransport: String => BulkTransport = _ =>
               new FileBulkTransport(java.nio.file.Files
                 .createTempDirectory("graft-es").toString),
             val registry: Option[graft.streaming.SchemaResolver] = None) {

  private val queries = TrieMap.empty[String, StreamingQuery]
  // every name ever registered/adopted in this engine — TERMINATE
  // removes the live entry (the ksqlDB SHOW QUERIES contract), so the
  // erasure ops' owner check needs this to tell "terminated, safe to
  // maintain" apart from "typo'd/never-adopted owner name" (a forfeit
  // of the refusal the surface advertises as enforced)
  private val everNamed = TrieMap.empty[String, Unit]
  // name -> (changelog path, key columns) for upsert-materialized tables
  private val upserts = TrieMap.empty[String, (String, Seq[String])]
  // topic name (lowercased — ksqlDB identifiers are case-insensitive) ->
  // the streaming plan that IS that dataflow. A "topic" here is any named
  // stream another statement can attach to: registered sources, source-
  // connector outputs, and CSAS results declared WITH (KAFKA_TOPIC=...).
  private val topics = TrieMap.empty[String, DataFrame]
  // connector name -> (kind, query names it started)
  private val connectors = TrieMap.empty[String, (String, Seq[String])]
  // connector name -> its Kafka-Connect config, verbatim — served back by
  // GET /connectors/<name>[/config] (the Connect REST contract echoes the
  // submitted config)
  private val connectorConfigs = TrieMap.empty[String, Map[String, String]]

  /** Check-and-start under one lock: REST handlers run concurrently (the
    * server uses a thread pool), so a bare contains-then-put would let two
    * simultaneous CREATEs both pass the check, start two queries, and
    * orphan the one whose registry entry gets overwritten — a running
    * query nothing can ever TERMINATE. */
  private def register(name: String)(start: => StreamingQuery): StreamingQuery =
    queries.synchronized {
      require(!queries.contains(name), s"query '$name' already exists")
      refuseBusyOwner(name)
      val q = start
      queries.put(name, q)
      everNamed.put(name, ())
      q
    }

  /** CSAS: start a named continuous query materializing `df` to an
    * in-memory table of the same name (the test/demo sink; production
    * sinks via [[sinkToEs]]/[[Streams.toKafka]]). */
  def createStreamAs(name: String, df: DataFrame,
                     mode: OutputMode = OutputMode.Append()): StreamingQuery = {
    val q = register(name)(Streams.toMemoryTable(df, name, mode))
    // every CSAS backs a topic of the same name (ksqlDB's default topic =
    // stream name), so sink connectors can attach to it by name
    topics.put(name.toLowerCase, df)
    q
  }

  /** CTAS of an aggregate table in UPDATE mode — ksqlDB's windowed-table
    * materialization (changes to a changelog, state store serves pulls;
    * ksqldb-statements.sql:96-110). Each microbatch appends only changed
    * keys ([[Streams.toUpsertTable]]); [[pullQuery]] sees the compacted
    * latest-per-key view under `name`. */
  def createUpsertTableAs(name: String, df: DataFrame, keys: Seq[String],
                          dir: String,
                          compactEvery: Int = 0): StreamingQuery = {
    val q = register(name)(
      Streams.toUpsertTable(df, s"$dir/store", s"$dir/checkpoint",
        compactEvery, keys))
    upserts.put(name, (s"$dir/store", keys))
    q
  }

  // name -> thunk producing the view's CURRENT contents; re-evaluated
  // before every pull so reads see the latest committed store state —
  // the registration path for store-backed materializations that are
  // not upsert changelogs (the ingest guard's at-ingest view family)
  private val registeredViews = TrieMap.empty[String, () => DataFrame]

  /** Register a MATERIALIZED VIEW for pull queries: `build` re-reads the
    * backing store on every pull (store-sized view reads, never the
    * corpus), so `SELECT`s over `name` via [[pullQuery]] / REST `/query`
    * always serve the latest committed state — the EP3 contract every
    * other materialization in the engine honors. A view whose store has
    * not received its first commit yet is simply absent (like an upsert
    * table pre-first-batch). */
  def registerView(name: String, build: () => DataFrame): Unit = {
    registeredViews.put(name, build)
    ()
  }

  /** Register [[graft.streaming.IngestGuard]]'s at-ingest analytics
    * family — accepted-corpus counts/sums, token-length quantiles, HLL
    * distinct fingerprints per group — as the pull-queryable tables
    * `<prefix>_counts` / `<prefix>_quantiles` / `<prefix>_distinct`:
    * the reference's decide-then-dashboard loop served end-to-end over
    * HTTP (`ksqldb-statements.sql:104-110`, `readme.md:589-597`).
    * `viewsBase` is the guard's `Views.baseDir`. */
  def registerGuardViews(viewsBase: String,
                         prefix: String = "guard"): Unit = {
    registerView(s"${prefix}_counts",
      () => graft.streaming.IngestGuard.viewCounts(spark, viewsBase))
    registerView(s"${prefix}_quantiles",
      () => graft.streaming.IngestGuard.viewQuantiles(spark, viewsBase))
    registerView(s"${prefix}_distinct",
      () => graft.streaming.IngestGuard.viewDistinct(spark, viewsBase))
  }

  /** Register a guard store's Bloom-sidecar WARMING telemetry as the
    * pull-queryable one-row table `<prefix>_warming` (loaded_parts,
    * loaded_bytes, deferred_parts, rebuilt_parts, grown_parts,
    * cached_parts, cached_bytes, prepare_seq) — the
    * signal that tells a converging post-restart warm-up
    * (`deferred_parts` → 0) apart from a permanent working-set steady
    * state (`deferred_parts` never 0, `loaded_bytes` pinned at the
    * per-batch budget: exact, but a standing reload cost to size away —
    * see [[graft.streaming.BloomShards.WarmingStats]]).
    * `rebuilt_parts` counts baseless rebuilds only; capacity growth of
    * saturated warm filters is `grown_parts`. `prepare_seq` advances
    * once per prepare — poll it twice: a frozen seq means the query
    * stopped, not that warming finished. Driver-local by
    * nature (the shard cache lives in the ingesting JVM, so serve this
    * view from the same process that runs the guard query); a store no
    * prepare has touched yet reads as absent, like any pre-first-commit
    * view. `stateDir` is the guard's fingerprint store (or any
    * [[graft.streaming.BloomShards]]-gated store, e.g. the near-dup
    * band store). */
  def registerGuardWarming(stateDir: String,
                           prefix: String = "guard"): Unit =
    registerView(s"${prefix}_warming", () =>
      graft.streaming.BloomShards.lastWarming(stateDir) match {
        case Some(w) =>
          import spark.implicits._
          Seq((w.loadedParts, w.loadedBytes, w.deferredParts,
            w.rebuiltParts, w.grownParts, w.cachedParts, w.cachedBytes,
            w.prepareSeq))
            .toDF("loaded_parts", "loaded_bytes", "deferred_parts",
              "rebuilt_parts", "grown_parts", "cached_parts",
              "cached_bytes", "prepare_seq")
        case None => throw new graft.streaming.Streams
          .StoreNotReadyException(
            s"no BloomShards prepare has run for $stateDir in this JVM")
      })

  /** Register a [[graft.streaming.IvfIndexStream]] index's occupancy as
    * the pull-queryable table `<prefix>_cells` (cell, n_vectors) — the
    * inverted-list balance a curation dashboard watches (a skewed cell
    * means degraded probe selectivity). The counts come from parquet
    * FOOTERS (count-star over a partition column group-by — no vector
    * or id decode), so the view is poll-cheap at any store size.
    *
    * A second one-row view `<prefix>_identity` reports IDENTITY
    * EROSION: post-birth ingest keeps a re-emitted `vec_id` as a data
    * property, and every duplicated id occupies two of a query's k
    * ranks ([[graft.streaming.IvfIndexStream.queryMany]]'s scaladoc),
    * so `n_duplicate_rows > 0` is the cue to retire stale copies. It
    * totals the store on GLOBAL id distinctness (an id re-emitted into
    * a DIFFERENT cell is visible even though both cells look clean)
    * plus `n_tombstones` (the
    * [[graft.streaming.IvfIndexStream.deleteIds]] retirements masked
    * until the next compaction). DELIBERATELY split from the cells
    * view: distinctness must decode the `vec_id` column — an O(store
    * ids) scan per refresh — which is pull-on-demand audit cost, not
    * something a per-batch occupancy poll should silently pay.
    *
    * Like every registered view, an index that hasn't received its
    * first commit reads as absent, and the vectors themselves stay
    * query-side (top-k over an embedding literal is not a SQL pull). */
  def registerIvfIndex(stateDir: String,
                       prefix: String = "ivf",
                       owner: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions._
    ivfIndexes.put(prefix, (stateDir, owner))
    registerView(s"${prefix}_cells",
      () => spark.read.parquet(stateDir)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors")))
    registerView(s"${prefix}_identity", () => {
      val totals = spark.read.parquet(stateDir)
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("vec_id")).as("n_distinct_ids"))
        .withColumn("n_duplicate_rows",
          col("n_rows") - col("n_distinct_ids"))
      val nTomb = graft.streaming.IvfIndexStream
        .readTombstones(spark, stateDir).fold(0L)(_.count())
      totals.withColumn("n_tombstones", lit(nTomb))
    })
  }

  // ---- erasure maintenance surface (SURVEY LLM-pipeline erasure ops,
  // served the reference's way: statements over the engine/REST instead
  // of a JVM deploy — r17 verdict Next #3) ----

  // prefix -> (stateDir, owning query name). The owner is how the
  // engine ENFORCES the library ops' single-writer contract instead of
  // documenting it: it knows its queries, so a maintenance statement
  // against a live store is refused by name.
  private val ivfIndexes = TrieMap.empty[String, (String, Option[String])]
  // name -> (acceptedDir, stateDir, ndStateDir, owner)
  private val guardStores =
    TrieMap.empty[String, (String, String, Option[String], Option[String])]

  /** ADOPT an externally-started streaming query under `name`, so the
    * registry's lifecycle surface — `SHOW QUERIES`, `TERMINATE`, and
    * the erasure ops' single-writer refusal — covers queries the
    * library started directly ([[graft.streaming.IngestGuard.start]],
    * [[graft.streaming.IvfIndexStream.start]] return their query). A
    * name whose previous query is no longer active is re-adoptable (a
    * restart under the same name); a LIVE name is refused like any
    * CREATE clash. */
  def adoptQuery(name: String, q: StreamingQuery): Unit =
    queries.synchronized {
      require(queries.get(name).forall(!_.isActive),
        s"query '$name' already exists and is active")
      refuseBusyOwner(name)
      queries.put(name, q)
      everNamed.put(name, ())
      ()
    }

  /** Register an [[graft.streaming.IngestGuard]] deployment as the
    * erasure target `name`: [[retireDocs]] statements resolve through
    * it, and the one-row view `<name>_erasure` (n_retired) makes the
    * retired-ids ledger's growth a dashboard number instead of an
    * incident (the fp-store twin of `<prefix>_identity`'s
    * n_tombstones; the ledger is a single unbounded file — watch this
    * count against the documented ~10⁸ sizing note). `owner` is the
    * registered/adopted name of the guard's streaming query; erasure
    * statements are refused while it is active.
    *
    * `ndStateDir` is deliberately NOT defaulted: on a guard running
    * with [[graft.streaming.IngestGuard.NearDup]], registering None
    * here would make every REST retirement a silently PARTIAL erasure
    * — fingerprints leave, band rows stay, and because the applied-ids
    * ledger skips retired ids forever, the band rows become
    * un-erasable by a corrected re-run. Pass the guard's NearDup
    * stateDir whenever near-dedup is on; None is an explicit statement
    * that the guard runs without it. */
  def registerGuardStore(name: String, acceptedDir: String,
                         stateDir: String,
                         ndStateDir: Option[String],
                         owner: Option[String] = None): Unit = {
    guardStores.put(name, (acceptedDir, stateDir, ndStateDir, owner))
    registerView(s"${name}_erasure", () => {
      import spark.implicits._
      val n = graft.streaming.IngestGuard.retiredIds(spark, stateDir)
        .fold(0L)(_.count())
      Seq(Tuple1(n)).toDF("n_retired")
    })
  }

  // REST handlers run on a thread pool, so two concurrent maintenance
  // statements could race the sidecar's read-modify-write — the exact
  // lost-delete hazard the library ops pin as "single-writer vs other
  // maintenance calls" — and an owner restarted mid-rewrite would
  // reopen the single-writer hole the refusal just checked (TOCTOU).
  // A global lock held for the whole rewrite would close both but
  // block every register/adoptQuery (= every REST CSAS) for the
  // minutes a store rewrite can take at scale. Instead: BUSY SETS
  // under the registry monitor — maintenance marks its store dirs and
  // owner busy in one brief critical section (after the owner check,
  // under the same lock adoption uses, so no check-to-mark window),
  // runs the rewrite OUTSIDE any lock, and unmarks in a finally.
  // Concurrent maintenance against the same store and adoption of a
  // busy owner are REFUSED by name (a 400 the client retries), never
  // silently interleaved and never blocked behind minutes of rewrite;
  // different stores proceed in parallel.
  private val busyStores = scala.collection.mutable.Set.empty[String]
  private val busyOwners = scala.collection.mutable.Set.empty[String]

  // ONE refusal shared by register/adoptQuery (the contract and its
  // message must not diverge between the two start paths): a name
  // marked busy by a running erasure statement cannot (re)start — the
  // rewrite checked it was stopped, and the check-to-mark and
  // mark-to-start windows share the `queries` monitor. Callers must
  // hold that monitor.
  private def refuseBusyOwner(name: String): Unit =
    require(!busyOwners.contains(name),
      s"query '$name' owns a store under maintenance — wait for the " +
        "running erasure statement to complete, then retry")

  // package-visible so the spec can pin the busy-window refusals
  // deterministically (holding the mark open is a timing-free stand-in
  // for a long rewrite)
  private[graft] def beginMaintenance(op: String, dirs: Seq[String],
                                      owner: Option[String],
                                      checkOwner: Boolean): Unit =
    queries.synchronized {
      if (checkOwner) requireStopped(owner, op)
      dirs.find(busyStores).foreach(d =>
        throw new IllegalArgumentException(
          s"$op: another maintenance statement is running against $d — " +
            "maintenance is single-writer per store; retry when it " +
            "completes"))
      // an owner shared by two targets (one query feeding two stores)
      // must not be marked twice: busyOwners is a Set, so the first
      // endMaintenance would clear the mark while the second rewrite
      // still runs — refusing the overlap keeps begin/end exactly
      // paired (second review pass, finding #1)
      owner.filter(busyOwners).foreach(o =>
        throw new IllegalArgumentException(
          s"$op: owning query '$o' already has a maintenance statement " +
            "running against another of its stores; retry when it " +
            "completes"))
      busyStores ++= dirs
      owner.foreach(busyOwners += _)
    }

  private[graft] def endMaintenance(dirs: Seq[String],
                                    owner: Option[String]): Unit =
    queries.synchronized {
      busyStores --= dirs
      owner.foreach(busyOwners -= _)
      ()
    }

  // every maintenance statement's bracket: mark the stores (and owner)
  // busy, run the rewrite, clear the marks whatever happens
  private def underMaintenance[T](op: String, dirs: Seq[String],
                                  owner: Option[String],
                                  checkOwner: Boolean)(body: => T): T = {
    beginMaintenance(op, dirs, owner, checkOwner)
    try body finally endMaintenance(dirs, owner)
  }

  // An `owner` name absent from the LIVE registry is only safe when the
  // engine has SEEN that name (TERMINATE removes the entry — the normal
  // pre-maintenance state); a name it never saw is a typo or a
  // never-adopted deployment, and reading it as "stopped" would
  // silently forfeit the refusal this surface advertises as enforced —
  // refused instead, naming the remedies. (A maintenance-only session
  // with no query running registers its store with owner = None.)
  private def requireStopped(owner: Option[String], op: String): Unit =
    owner.foreach { o =>
      require(everNamed.contains(o),
        s"$op names owning query '$o', which this engine has never " +
          "registered or adopted — a typo here would forfeit the " +
          "single-writer refusal. adoptQuery the running query under " +
          "that name, or (maintenance-only session, no query running) " +
          "re-register the store with owner = None.")
      require(queries.get(o).forall(!_.isActive),
        s"$op is single-writer against its store: TERMINATE the owning " +
          s"query '$o' first, then re-run")
    }

  /** `RETIRE DOCS (ids) FROM GUARD <name>` — guard-side erasure
    * ([[graft.streaming.IngestGuard.retireDocs]]) with the
    * single-writer contract ENFORCED: refused while the registered
    * owning query is active. Returns the number of ids whose
    * retirement was applied (already-retired and never-accepted ids
    * resolve to nothing). */
  def retireDocs(name: String, ids: Seq[Long]): Long = {
    val (acceptedDir, stateDir, ndStateDir, owner) = guardTarget(name)
    underMaintenance(s"RETIRE DOCS FROM GUARD $name",
      stateDir +: ndStateDir.toSeq, owner, checkOwner = true) {
      import spark.implicits._
      graft.streaming.IngestGuard.retireDocs(spark, ids.toDF("doc_id"),
        acceptedDir, stateDir, ndStateDir)
    }
  }

  /** `UNRETIRE DOCS (ids) FROM GUARD <name>` — the retirement ledger's
    * ESCAPE HATCH ([[graft.streaming.IngestGuard.unretireDocs]]),
    * operable over the same statement surface as the fail-fast it
    * serves: when a crash-REPLAYED batch's doc was retired mid-flight,
    * the guard's ingest path refuses the replay naming this remedy —
    * without a statement form, a REST-operated deployment would need a
    * JVM deploy to execute it, the exact gap the other erasure ops
    * closed. Same discipline as [[retireDocs]] (owner terminated, store
    * not under other maintenance — the legitimate workflow has the
    * guard stopped anyway: its batch just failed). Returns the number
    * of ids actually removed from the ledger (ids never retired
    * resolve to nothing). RE-RUN the retirement after the replay
    * lands, or the erasure is undone — and never unretire an id a NEW
    * document reused (the library scaladoc pins both). */
  def unretireDocs(name: String, ids: Seq[Long]): Long = {
    val (_, stateDir, ndStateDir, owner) = guardTarget(name)
    underMaintenance(s"UNRETIRE DOCS FROM GUARD $name",
      stateDir +: ndStateDir.toSeq, owner, checkOwner = true) {
      import spark.implicits._
      graft.streaming.IngestGuard.unretireDocs(spark, stateDir,
        ids.toDF("doc_id"))
    }
  }

  /** `COMPACT GUARD <name>` — rewrite the guard's fingerprint store
    * (and its near-dup band store, when registered) to one globally
    * sorted file per partition
    * ([[graft.streaming.IngestGuard.compactFpStore]] /
    * [[graft.streaming.IngestGuard.compactNdStore]]), restoring the
    * one-row-group-per-candidate probe layout that per-batch appends
    * erode. Unlike upsert tables (whose `compactEvery` compacts from
    * INSIDE the single-writer loop), the guard stores have no automatic
    * compaction — this statement is their maintenance path, and the
    * rewrites ARE a second writer, so the owning query must be
    * terminated first: same enforcement as [[compactIvfIndex]]. */
  def compactGuardStore(name: String): Unit = {
    val (_, stateDir, ndStateDir, owner) = guardTarget(name)
    underMaintenance(s"COMPACT GUARD $name", stateDir +: ndStateDir.toSeq,
      owner, checkOwner = true) {
      graft.streaming.IngestGuard.compactFpStore(spark, stateDir)
      ndStateDir.foreach(
        graft.streaming.IngestGuard.compactNdStore(spark, _))
    }
  }

  private def guardTarget(name: String)
      : (String, String, Option[String], Option[String]) =
    guardStores.getOrElse(name, throw new IllegalArgumentException(
      s"unknown guard store '$name' — registerGuardStore it first"))

  private def ivfTarget(name: String): (String, Option[String]) =
    ivfIndexes.getOrElse(name, throw new IllegalArgumentException(
      s"unknown IVF index '$name' — registerIvfIndex it first"))

  /** `DELETE VECTORS (ids) FROM INDEX <name>` — index-side erasure
    * ([[graft.streaming.IvfIndexStream.deleteIds]]): retired ids are
    * masked from queries immediately and physically purged by the next
    * [[compactIvfIndex]]. Safe beside the live ingest stream (the
    * ingest path never reads tombstones), so no owner refusal — but
    * single-writer vs other maintenance statements, like the library
    * op. Returns the tombstone ledger's total size after the delete
    * (the `<prefix>_identity` view's n_tombstones). */
  def deleteVectors(name: String, ids: Seq[Long]): Long = {
    val (stateDir, _) = ivfTarget(name)
    // no owner refusal (safe beside the live ingest stream) — but
    // still single-writer vs other maintenance statements, and the
    // busy mark must not block the owner's restart: owner = None here
    underMaintenance(s"DELETE VECTORS FROM INDEX $name", Seq(stateDir),
      None, checkOwner = false) {
      graft.streaming.IvfIndexStream.deleteIds(spark, stateDir, ids)
      graft.streaming.IvfIndexStream.readTombstones(spark, stateDir)
        .fold(0L)(_.count())
    }
  }

  /** `COMPACT INDEX <name>` — one file per cell and the physical purge
    * of deleted rows ([[graft.streaming.IvfIndexStream.compactIndex]]).
    * The store rewrite IS a second writer, so the owning query must be
    * terminated first — enforced, not documented. */
  def compactIvfIndex(name: String): Unit = {
    val (stateDir, owner) = ivfTarget(name)
    underMaintenance(s"COMPACT INDEX $name", Seq(stateDir), owner,
      checkOwner = true) {
      graft.streaming.IvfIndexStream.compactIndex(spark, stateDir)
    }
  }

  /** Re-register the compacted view of every upsert table and every
    * [[registerView]] materialization (no-op for a table/view whose
    * backing store hasn't received its first commit yet). */
  private def refreshUpsertViews(): Unit = {
    // only the EXPECTED pre-first-commit states are absorbed (absent
    // path → AnalysisException, typed not-ready) — a genuinely
    // corrupted or malformed backing store must surface, not silently
    // serve a stale/absent table over REST (round-13 advice). But it
    // must surface WITHOUT collateral damage: one malformed store must
    // not abort the refresh of every remaining healthy view (round-14
    // advice), so failures are collected per view, the loop completes,
    // and the first error is rethrown with the rest aggregated.
    val malformed = scala.collection.mutable.ListBuffer
      .empty[(String, Throwable)]
    upserts.foreach { case (name, (path, keys)) =>
      try Streams.upsertView(spark, path, keys)
        .createOrReplaceTempView(name)
      catch {
        case _: org.apache.spark.sql.AnalysisException => ()
        case scala.util.control.NonFatal(e) => malformed += (name -> e)
      }
    }
    registeredViews.foreach { case (name, build) =>
      try build().createOrReplaceTempView(name)
      catch {
        case _: org.apache.spark.sql.AnalysisException => ()
        case _: Streams.StoreNotReadyException => ()
        case scala.util.control.NonFatal(e) => malformed += (name -> e)
      }
    }
    malformed.toList match {
      case Nil => ()
      case (_, firstErr) :: _ =>
        val all = malformed.map { case (n, e) =>
          s"$n (${e.getClass.getSimpleName}: ${e.getMessage})"
        }.mkString("; ")
        throw new IllegalStateException(
          s"${malformed.size} view(s) failed to refresh " +
            s"(healthy views were refreshed): $all",
          firstErr)
    }
  }

  /** Push query over a TABLE (`ksqldb-statements.sql:96-102`: `SELECT ...
    * FROM RATINGS_PER_CUSTOMER_PER_15MINUTE ... EMIT CHANGES`): a TABLE's
    * push emission is its CHANGELOG — every update to a key re-emits that
    * key's refined row. The upsert store IS that changelog (append-only
    * parquet, one row per key update), so the streaming view is a file
    * stream over it. A retention compaction running mid-push re-emits the
    * latest row per key (the compacted snapshot's files are new to the
    * reader) — benign under upsert semantics, the same refinement
    * contract as ksqlDB's table push over a changelog topic. Like every
    * file-backed topic ([[fileTopic]]) a trigger admits at most one scan
    * wave of changelog files, so a reader attaching to a long changelog
    * catches up in bounded batches. None for names that are not upsert
    * tables; AnalysisException if the table has not received its first
    * batch yet (no store to infer a schema from). */
  def changelogStream(name: String): Option[DataFrame] =
    changelogFiles(name).map(_.drop("__batch_id"))

  /** [[changelogStream]] with the store's `__batch_id` column: the order
    * in which the table refined its keys. */
  private def changelogFiles(name: String): Option[DataFrame] =
    upserts.find(_._1.equalsIgnoreCase(name)).map { case (_, (path, _)) =>
      fileTopic(spark.read.parquet(path).schema, path)
    }

  /** A file-backed topic: a parquet file stream over `dir` that admits up
    * to one scan wave per trigger — `spark.sql.files.maxPartitionBytes ×
    * defaultParallelism` bytes, read from the session when the topic is
    * built. A backlog of small files drains in one microbatch, so the
    * per-trigger costs (offset log, planning, state-store commit, sink
    * requests) are paid once per wave rather than once per file; sparse
    * arrivals still give one file per trigger, and a file larger than
    * the bound is still admitted (alone). */
  private def fileTopic(schema: StructType, dir: String): DataFrame = {
    val wave = spark.sessionState.conf.filesMaxPartitionBytes *
      spark.sparkContext.defaultParallelism
    spark.readStream.schema(schema).option("maxBytesPerTrigger", wave)
      .parquet(dir)
  }

  /** CTAS with ES sink — the reference's sink-connector path. */
  def sinkToEs(name: String, df: DataFrame, index: String,
               idCol: Option[String], checkpoint: String,
               transport: BulkTransport): StreamingQuery =
    register(name)(EsSink.writeStream(df, index, idCol, checkpoint, transport))

  // ------------------------------------------------------------------- //
  // Connectors — the reference's Kafka-Connect surface as SQL statements
  // (`/root/reference/ksqldb-statements.sql:1-11,19-38,70-85`; ksqlDB
  // forwards connector DDL to the Connect cluster, rest_example.sh:52-79)
  // ------------------------------------------------------------------- //

  /** Register a named dataflow ("topic") that connectors and declared
    * streams/tables can attach to — the test/embedding-side analog of a
    * Kafka topic existing. `df` must be a streaming plan. */
  def registerTopic(name: String, df: DataFrame): Unit = {
    require(df.isStreaming, s"topic '$name' must be a streaming dataflow")
    topics.put(name.toLowerCase, df)
    ()
  }

  /** Resolve a topic: the registry first, then any streaming catalog view
    * of that name (a MemoryStream view registered directly with Spark). */
  def topicStream(name: String): Option[DataFrame] =
    topics.get(name.toLowerCase)
      .orElse(tableChangelogTopic(name).map(_.drop("__batch_id")))
      .orElse(
        try {
          val t = spark.table(name)
          if (t.isStreaming) Some(t) else None
        } catch { case _: org.apache.spark.sql.AnalysisException => None })

  /** An upsert TABLE resolved as a connector topic: its CHANGELOG stream
    * (ksqlDB's table→ES pattern — the sink connector attaches to the
    * table's changelog topic, and `key.ignore=false` + `_id`-keyed
    * upserts make the INDEX the materialized view: each refinement
    * overwrites its doc, so ES always serves latest-per-key). The record
    * key analog is the ksqlDB composite key string — the table's key
    * columns joined with `|+|`, matching ksqlDB's multi-column key
    * rendering — added as the `key` column the sink's keyed mode needs.
    * None for tables that have not received their first batch (no store
    * schema to infer yet — create the connector after data flows, as
    * with a Kafka topic that doesn't exist yet). Keeps the store's
    * `__batch_id`, the refinement order a keyed sink reduces by. */
  private def tableChangelogTopic(name: String): Option[DataFrame] =
    upserts.find(_._1.equalsIgnoreCase(name)).flatMap { case (_, (_, keys)) =>
      try changelogFiles(name).map(_.withColumn("key",
        concat_ws("|+|", keys.map(k => col(k).cast("string")): _*)))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    }

  /** Kafka-Connect SMT config → the first `InsertField$Value` timestamp
    * field, e.g. `transforms='ExtractTimestamp'` +
    * `transforms.ExtractTimestamp.timestamp.field='RATING_TS'`
    * (ksqldb-statements.sql:8-10 — T3). */
  private def insertFieldTs(props: Map[String, String]): Option[String] =
    props.get("transforms").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .find(t => props.get(s"transforms.$t.type").exists(_.contains("InsertField")))
      .flatMap(t => props.get(s"transforms.$t.timestamp.field"))

  private def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9_]", "_")

  /** `CREATE SINK CONNECTOR <name> WITH (...)` — the reference's ES sink
    * connectors (`ksqldb-statements.sql:1-11` keyed upsert on `ratings`;
    * `:70-85` multi-topic auto-id). One [[EsSink.writeStream]] query per
    * entry in `topics`; index = topic name lowercased (the Connect ES sink
    * default). `key.ignore=false` → doc `_id` from the stream's `key`
    * column (the record-key analog — K2, idempotent upsert); `true` →
    * auto-id (K3). An `InsertField$Value` SMT injects its timestamp field
    * (T3), using the stream's `kafka_ts` column (record timestamp) when
    * present, else wall clock. */
  def createSinkConnector(name: String, props: Map[String, String]): Seq[String] = {
    require(connectors.putIfAbsent(name, ("SINK", Nil)).isEmpty,
      s"connector '$name' already exists")
    val topicList = props.getOrElse("topics", "").split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    // only the queries THIS create successfully registers — the failure
    // cleanup must never touch a same-named query owned by a CSAS or
    // another connector (register() rejects the clash BEFORE starting)
    val started = scala.collection.mutable.ListBuffer.empty[String]
    // every validation below the name reservation must release it on
    // failure (a rejected CREATE used to leave the name claimed, so a
    // corrected retry got a spurious "already exists")
    try {
    val clazz = props.getOrElse("connector.class", "")
    require(clazz.contains("ElasticsearchSink"),
      s"unsupported sink connector.class '$clazz' (Elasticsearch only)")
    require(topicList.nonEmpty, s"connector '$name': 'topics' is required")
    val keyed = props.get("key.ignore").exists(_.equalsIgnoreCase("false"))
    val tsField = insertFieldTs(props)
    val transport = esTransport(props.getOrElse("connection.url", ""))
    // Kafka-Connect ES sink `behavior.on.null.values` (default IGNORE):
    // DELETE turns upstream tombstones into `{"delete":{"_id":…}}` bulk
    // actions so a CDC'd row deleted at the source disappears from the
    // index (round-7 verdict item 2). Tombstone-ness is carried by the
    // topic's null-when-deleted value column — `after` for
    // Debezium-enveloped topics, overridable with the engine extension
    // prop `behavior.on.null.values.column`. When the prop is absent the
    // sink keeps its pre-existing render-everything behavior (no
    // tombstone concept on plain append topics).
    val onNull = props.get("behavior.on.null.values").map(_.toLowerCase)
    onNull.foreach { m =>
      require(Set("ignore", "delete", "fail").contains(m),
        s"connector '$name': behavior.on.null.values must be " +
          s"ignore|delete|fail, got '$m'")
      require(m != "delete" || keyed,
        s"connector '$name': behavior.on.null.values=delete requires " +
          "key.ignore=false (a doc _id to delete by)")
    }
      val qNames = topicList.map { topic =>
        // a keyed sink over an upsert table reads the table's changelog
        // with its `__batch_id`, the order of the table's refinements
        val changelog =
          if (keyed && !topics.contains(topic.toLowerCase))
            tableChangelogTopic(topic)
          else None
        val df = changelog.orElse(topicStream(topic)).getOrElse(
          throw new IllegalArgumentException(
            s"connector '$name': unknown topic '$topic'"))
        val idCol = if (keyed) {
          require(df.columns.contains("key"),
            s"connector '$name': key.ignore=false needs a 'key' column on " +
              s"topic '$topic' (the record-key analog)")
          Some("key")
        } else None
        val tombstoneCol = onNull.map { _ =>
          val marker = props.getOrElse("behavior.on.null.values.column",
            "after")
          require(df.columns.contains(marker),
            s"connector '$name': behavior.on.null.values needs the " +
              s"null-when-deleted value column '$marker' on topic '$topic' " +
              "(set behavior.on.null.values.column for non-Debezium topics)")
          marker
        }
        val withTs = tsField.fold(df)(f => EsSink.withExtractTs(df, f,
          eventTime = Some("kafka_ts").filter(df.columns.contains)))
        // a keyed sink needs per-key ordering: one microbatch can hold
        // several images (or a delete) of a key, spread over partitions
        // whose `_bulk` requests race. The topic's event order is the
        // Kafka record timestamp or the CDC envelope's ts_ms, and a table
        // changelog's is its batch id (EsSink.writeBatch reduces to
        // latest-per-key with it)
        val orderCol =
          if (changelog.isDefined) Some("__batch_id")
          else if (keyed) Seq("kafka_ts", "ts_ms").find(df.columns.contains)
          else None
        val qName = sanitize(s"${name}_$topic")
        register(qName)(EsSink.writeStream(withTs, topic.toLowerCase, idCol,
          java.nio.file.Files.createTempDirectory(s"graft-ckpt-$qName").toString,
          transport, tombstoneCol, onNull.getOrElse("ignore"), orderCol))
        started += qName
        qName
      }
      connectors.put(name, ("SINK", qNames))
      connectorConfigs.put(name, props)
      qNames
    } catch {
      case e: Throwable =>
        // release everything this create claimed: a multi-topic sink that
        // fails on topic N has already started queries for topics 1..N−1 —
        // leaving them registered blocks the corrected retry with
        // "query already exists" and leaks running queries no connector
        // owns (round-8 review finding). Only the queries started HERE.
        // A cleanup failure rides along on the create's error. Throwable,
        // not NonFatal: nothing is swallowed, and a fatal error (e.g. a
        // LinkageError while a sink starts) must release the name too.
        started.foreach { q =>
          try terminate(q) catch { case NonFatal(t) => e.addSuppressed(t) }
        }
        connectors.remove(name)
        throw e
    }
  } // createSinkConnector

  /** `CREATE SOURCE CONNECTOR <name> WITH (...)` — the reference's Debezium
    * MySQL source (`ksqldb-statements.sql:19-38`). No binlog exists in this
    * container, so the analog is a FILE-STREAM source: for each whitelisted
    * table, the topic `<database.server.name>.<table>` is a streaming scan
    * of CDC-envelope parquet under `connectorDataDir/<topic>` — the same
    * at-least-once append contract as a Debezium topic. A trigger admits
    * every file that arrived since the last one, up to one scan wave
    * (`spark.sql.files.maxPartitionBytes × defaultParallelism` bytes, and
    * always at least one file), so a backlog drains in as few microbatches
    * as the cluster can scan at once ([[fileTopic]]). The declared SMT
    * chain is honored: `ExtractField$Key`
    * is the envelope's scalar `key` (T2), and `ExtractNewRecordState`
    * unwraps to after-image rows, dropping tombstones (T1,
    * `Cdc.unwrap` semantics). Set the SMT's
    * `transforms.<name>.drop.tombstones = 'false'` to pass delete
    * envelopes through instead (null `after`, op `d`) — the chain a
    * CDC-table-to-ES pipeline needs so a downstream sink connector with
    * `behavior.on.null.values=delete` can remove the doc (Debezium's
    * documented pairing for index-synchronized deletes). */
  def createSourceConnector(name: String, props: Map[String, String]): Seq[String] = {
    require(connectors.putIfAbsent(name, ("SOURCE", Nil)).isEmpty,
      s"connector '$name' already exists")
    val server = props.getOrElse("database.server.name", name)
    val tables = props.get("table.whitelist")
      .orElse(props.get("table.include.list")).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    try {
      require(tables.nonEmpty,
        s"connector '$name': table.whitelist/table.include.list is required")
      val smtNames = props.get("transforms").toSeq
        .flatMap(_.split(",").map(_.trim))
      val unwrapSmt = smtNames.find(t => props.get(s"transforms.$t.type")
        .exists(_.contains("ExtractNewRecordState")))
      // Debezium ExtractNewRecordState default: drop.tombstones=true.
      // 'false' keeps delete envelopes flowing (null after-image) so a
      // delete-aware sink can act on them.
      val dropTombstones = unwrapSmt.forall(t =>
        !props.get(s"transforms.$t.drop.tombstones")
          .exists(_.equalsIgnoreCase("false")))
      val made = tables.map { table =>
        val topic = s"$server.$table"
        val dir = java.nio.file.Paths.get(connectorDataDir, topic)
        java.nio.file.Files.createDirectories(dir)
        val envelope = fileTopic(Engine.cdcEnvelopeSchema(spark), dir.toString)
        // `offset` (Debezium source.pos — the binlog TOTAL order) rides
        // along: a delete-mode ES sink needs it to tie-break same-ts_ms
        // actions per key, and Connect consumers see partition offsets too
        val df = unwrapSmt match {
          case Some(_) if dropTombstones =>
            envelope.filter(col("op") =!= "d")
              .select(col("key"), col("after.*"), col("op"), col("ts_ms"),
                col("offset"))
          case Some(_) =>
            // tombstones pass through: delete rows keep a null `after`
            // (flattened value columns all null), op = 'd'
            envelope
              .select(col("key"), col("after.*"), col("op"), col("ts_ms"),
                col("offset"), col("after"))
          case None => envelope
        }
        topics.put(topic.toLowerCase, df)
        topic
      }
      // record the topics as the connector's "tasks" (Connect REST exposes
      // a task list; the file-stream analog has one per whitelisted table)
      connectors.put(name, ("SOURCE", made))
      connectorConfigs.put(name, props)
      made
    } catch { case e: Throwable => connectors.remove(name); throw e }
  }

  /** Create a connector from a raw Kafka-Connect config map — the
    * `POST /connectors` analog (`rest_example.sh:13-24,102-133`). The
    * source/sink split comes from `connector.class`, exactly as Connect
    * resolves it: `*SinkConnector` classes are sinks (the framework
    * requires the suffix), everything else is a source. Returns
    * (kind, task names). */
  def createConnector(name: String, props: Map[String, String]): (String, Seq[String]) = {
    val clazz = props.getOrElse("connector.class",
      throw new IllegalArgumentException(
        s"connector '$name': 'connector.class' is required"))
    if (clazz.contains("Sink")) ("SINK", createSinkConnector(name, props))
    else ("SOURCE", createSourceConnector(name, props))
  }

  /** Create-or-replace a connector — the `PUT /connectors/<name>/config`
    * analog (`rest_example.sh:56-70`): Connect's PUT is upsert semantics
    * (201 on create, 200 on config replace + restart). Replacing stops the
    * old instance's queries first; a source connector's topics stay
    * registered across the swap (as in Connect, where topics outlive the
    * connector). Returns (createdNew, kind, task names). */
  def putConnector(name: String, props: Map[String, String]): (Boolean, String, Seq[String]) = {
    val existed = connectors.contains(name)
    if (existed) dropConnector(name)
    val (kind, tasks) = createConnector(name, props)
    (!existed, kind, tasks)
  }

  /** Connector registry lookup: (kind, task names, config) — the
    * `GET /connectors/<name>[/config|/status]` surface. */
  def connectorInfo(name: String): Option[(String, Seq[String], Map[String, String])] =
    connectors.get(name).map { case (kind, tasks) =>
      (kind, tasks, connectorConfigs.getOrElse(name, Map.empty))
    }

  /** `CREATE STREAM <name> [(cols)] WITH (KAFKA_TOPIC='t', ...)` — declare
    * a stream OVER an existing topic (`commands.sql:13`,
    * `rest_example.sh:33`). The declared column list is accepted but the
    * topic's actual schema wins: ksqlDB needs the declaration because Kafka
    * bytes are schemaless, while a registered topic here already carries
    * its schema (VALUE_FORMAT likewise applies at the Kafka boundary, which
    * is upstream of a registered topic). */
  def declareStream(name: String, topic: String): Unit = {
    val df = topicStream(topic).getOrElse(throw new IllegalArgumentException(
      s"CREATE STREAM $name: unknown topic '$topic'"))
    df.createOrReplaceTempView(name)
    topics.put(name.toLowerCase, df)
    ()
  }

  /** `CREATE STREAM <name> WITH (KAFKA_TOPIC='t', VALUE_FORMAT='AVRO')`
    * with NO column list — the schema is INFERRED from the registry's
    * latest version for subject `<topic>-value`
    * (`/root/reference/commands.sql:13`, SURVEY §1.2): the StructType is
    * constructed from the registered Avro schema
    * ([[graft.streaming.AvroSerde.sparkSchemaFor]]) and the raw topic's
    * binary `value` payloads decode registry-backed BY THE ID EACH RECORD
    * CARRIES — older-generation records resolve onto the inferred reader
    * schema via Avro schema resolution, exactly as on a mixed-version
    * topic. The topic must be a raw stream with a binary `value` column
    * (a registered-and-already-typed topic needs no inference — use
    * [[declareStream]]). */
  def declareStreamInferred(name: String, topic: String): Unit = {
    val reg = registry.getOrElse(throw new IllegalArgumentException(
      s"CREATE STREAM $name: schema inference needs a schema registry " +
        "(Engine registry = None) — declare columns explicitly instead"))
    val raw = topicStream(topic).getOrElse(throw new IllegalArgumentException(
      s"CREATE STREAM $name: unknown topic '$topic'"))
    require(raw.columns.contains("value") &&
      raw.schema("value").dataType == org.apache.spark.sql.types.BinaryType,
      s"CREATE STREAM $name: topic '$topic' has no binary 'value' column " +
        "to decode — inference applies to raw Avro topics")
    val subject = s"$topic-value"
    val (_, schemaJson) = reg.latestFor(subject).getOrElse(
      throw new IllegalArgumentException(
        s"CREATE STREAM $name: registry has no schema for subject " +
          s"'$subject'"))
    val inferred = graft.streaming.AvroSerde.sparkSchemaFor(schemaJson)
    val df = graft.streaming.AvroSerde.decodeWithRegistry(raw, inferred, reg)
    df.createOrReplaceTempView(name)
    topics.put(name.toLowerCase, df)
    ()
  }

  /** `CREATE TABLE <name> (<pk> ... PRIMARY KEY) WITH (KAFKA_TOPIC='t')` —
    * ksqlDB TABLE semantics over a changelog topic: latest value per key
    * (`ksqldb-statements.sql:42-43`). Materialized through the upsert
    * changelog ([[Streams.toUpsertTable]]); the topic's message key (its
    * `key` column) becomes the declared PRIMARY KEY column, mirroring how
    * ksqlDB binds the Kafka key to the declared key column. */
  def declareTable(name: String, topic: String, primaryKey: Option[String],
                   dir: String): StreamingQuery = {
    val df0 = topicStream(topic).getOrElse(throw new IllegalArgumentException(
      s"CREATE TABLE $name: unknown topic '$topic'"))
    val (df, keyCol) = primaryKey match {
      case Some(pk) if df0.columns.contains(pk) => (df0, pk)
      case Some(pk) if df0.columns.contains("key") =>
        (df0.withColumnRenamed("key", pk), pk)
      case None if df0.columns.contains("key") => (df0, "key")
      case other => throw new IllegalArgumentException(
        s"CREATE TABLE $name: topic '$topic' has no 'key' column" +
          other.fold("")(pk => s" and no '$pk' column"))
    }
    createUpsertTableAs(name, df, Seq(keyCol), dir)
  }

  /** `SHOW CONNECTORS` — (name, SOURCE|SINK) pairs. */
  def showConnectors: Seq[(String, String)] =
    connectors.toSeq.map { case (n, (kind, _)) => (n, kind) }.sortBy(_._1)

  /** `DROP CONNECTOR <name>`: stop the queries it started; a source
    * connector's topics stay registered (dropping a Connect source does not
    * delete its topics either). */
  def dropConnector(name: String): Unit = {
    connectors.remove(name).foreach { case (_, qNames) =>
      // for a SINK these are query names; for a SOURCE they are topic
      // names, which terminate() ignores (topics outlive their connector)
      qNames.foreach(terminate)
    }
    connectorConfigs.remove(name)
    ()
  }

  /** `SHOW QUERIES` (readme.md:150). */
  def showQueries: Seq[(String, Boolean)] =
    queries.toSeq.map { case (n, q) => (n, q.isActive) }.sortBy(_._1)

  /** `SHOW STREAMS` (ksqlDB metadata surface): persistent queries that are
    * NOT upsert-table materializations. */
  def showStreams: Seq[String] =
    queries.keys.filterNot(upserts.contains).toSeq.sorted

  /** `SHOW TABLES` (readme.md:164's ksqlDB-side analog): the
    * upsert-materialized tables. */
  def showTables: Seq[String] = upserts.keys.toSeq.sorted

  /** `SHOW TOPICS` (readme.md:100): every named dataflow visible to SQL.
    * Kafka topics are the reference's universal dataflow handle; here the
    * analog is the session catalog's table/view namespace — source views,
    * CSAS memory tables, and upsert views all land there. */
  def showTopics: Seq[String] = {
    refreshUpsertViews()
    (spark.catalog.listTables().collect().map(_.name).toSeq ++
      topics.keys).distinct.sorted
  }

  /** `DROP STREAM/TABLE <name>`: terminate the backing query (if any) and
    * remove the materialized view from the catalog. */
  def drop(name: String): Unit = {
    terminate(name)
    upserts.remove(name)
    registeredViews.remove(name)
    topics.remove(name.toLowerCase)
    spark.catalog.dropTempView(name)
    ()
  }

  /** `DESCRIBE [EXTENDED]` (readme.md:229): schema of a materialized table.
    * Refreshes upsert views first so DESCRIBE works on an upsert table
    * before any pull query has touched it. */
  def describe(name: String): String = {
    refreshUpsertViews()
    spark.table(name).schema.treeString
  }

  /** `SHOW FUNCTIONS` (readme-documented ksqlDB surface): the engine's
    * registered extension functions with their usage strings. */
  def showFunctions: Seq[(String, String)] =
    graft.functions.GraftExtensions.functions
      .map { case (name, info, _) => (name, info.getUsage) }.sortBy(_._1)

  /** `EXPLAIN <sql>` / `EXPLAIN <stream-or-table>` (ksqlDB's plan
    * introspection surface): the formatted physical plan — operators,
    * pushed filters, exchanges, codegen spans — of either an arbitrary
    * SELECT or a registered stream/table/topic by name. */
  def explain(target: String): String = {
    refreshUpsertViews()
    val df =
      if (target.matches("(?is)^\\s*SELECT\\b.*")) pullQuery(target)
      else topicStream(target).getOrElse(spark.table(target))
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** `INSERT INTO <topic> (cols) VALUES (...)` — the engine analog of the
    * reference demo's "make changes in MySQL, observe it downstream" step
    * (`readme.md:302-312`): appends ONE CDC envelope ("binlog event") to a
    * file-backed source-connector topic, which the connector's stream
    * picks up as its next microbatch. Columns address the envelope's
    * after-image fields (`id`, `user_id`, `event_type`, `value`, `props`)
    * plus optional `key`/`op`/`ts_ms`/`offset` overrides — key defaults to
    * `id`, op to 'c', ts_ms/offset to the wall clock (pass them explicitly
    * for deterministic tests). Re-inserting a key replays the readme's
    * UPDATE steps: latest-by-key tables compact to the new row. */
  def insertInto(topic: String, cols: Seq[String], vals: Seq[Any]): Unit = {
    val dir = java.nio.file.Paths.get(connectorDataDir, topic)
    require(java.nio.file.Files.isDirectory(dir),
      s"INSERT INTO: '$topic' is not a file-backed source-connector topic")
    val m = cols.map(_.trim.toLowerCase).zip(vals).toMap
    def longAt(k: String): Option[Long] = m.get(k).collect {
      case l: Long => l
      case d: Double => d.toLong
      case s: String => s.toLong
    }
    def str(k: String): Option[String] = m.get(k).map(String.valueOf)
    val now = System.currentTimeMillis()
    val op = str("op").getOrElse("c")
    val after =
      if (op == "d") null
      else org.apache.spark.sql.Row(
        longAt("id").getOrElse(throw new IllegalArgumentException(
          "INSERT INTO: 'id' is required")).asInstanceOf[java.lang.Long],
        longAt("user_id").map(Long.box).orNull,
        str("event_type").orNull,
        m.get("value").collect { case d: Double => Double.box(d)
          case l: Long => Double.box(l.toDouble) }.orNull,
        str("props").orNull)
    val key = str("key").orElse(longAt("id").map(_.toString)).getOrElse(
      throw new IllegalArgumentException("INSERT INTO: 'key' or 'id' required"))
    val row = org.apache.spark.sql.Row(
      key, after, op,
      Long.box(longAt("ts_ms").getOrElse(now)),
      Long.box(longAt("offset").getOrElse(now)))
    spark.createDataFrame(
      java.util.Collections.singletonList(row),
      Engine.cdcEnvelopeSchema(spark))
      .coalesce(1).write.mode("append").parquet(dir.toString)
  }

  /** `DROP`/terminate a persistent query. STOP before remove: the
    * remove-first order left a window where the name read as absent —
    * which the erasure refusal treats as stopped — while the query's
    * final microbatch was still committing, letting a concurrent
    * maintenance statement interleave with the stream's last store
    * write (second review pass, finding #2). The removal is guarded to
    * the exact instance we stopped, so a query adopted under the name
    * after our stop is not silently dropped unstopped. */
  def terminate(name: String): Unit =
    queries.get(name).foreach { q =>
      q.stop()
      queries.synchronized {
        if (queries.get(name).exists(_ eq q)) queries.remove(name)
        ()
      }
    }

  def terminateAll(): Unit = queries.keys.foreach(terminate)

  /** Pull query (SURVEY §2.10): point-in-time SQL over a materialized
    * table; returns and terminates — never a continuous subscription.
    * Upsert tables resolve to their latest-per-key compacted view. */
  def pullQuery(sql: String): DataFrame = {
    refreshUpsertViews()
    spark.sql(sql)
  }

  /** Block until every registered query has processed all available input
    * (test/demo determinism helper). */
  def processAllAvailable(): Unit = {
    // Store-mediated chains (upsert table → changelog push / table-topic
    // sink connectors) mean a single pass can drain a DOWNSTREAM query
    // before its upstream appends to the store it reads (TrieMap order is
    // arbitrary). Iterate until every query's batch position is stable —
    // a chain of depth d settles in d+1 passes; the bound is a safety
    // net, and drained queries make re-passes nearly free.
    var prev: Map[String, Long] = null
    var rounds = 0
    while (rounds < 8) {
      queries.values.filter(_.isActive).foreach(_.processAllAvailable())
      val sig = queries.toMap.view.mapValues(q =>
        Option(q.lastProgress).map(_.batchId).getOrElse(-1L)).toMap
      if (sig == prev) rounds = 8 else { prev = sig; rounds += 1 }
    }
    refreshUpsertViews()
  }
}

object Engine {
  /** Schema of a source-connector topic: the CDC envelope
    * ([[Cdc.envelope]]'s output over the events shape) — derived from the
    * operator itself so the file-stream connector and the CDC operators
    * cannot drift. */
  def cdcEnvelopeSchema(spark: SparkSession): org.apache.spark.sql.types.StructType =
    Cdc.envelope(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      Streams.eventSchema)).schema

  /** Transport factory for production embeddings — pass as
    * `new Engine(spark, esTransport = Engine.transportFor)`: an http(s)
    * `connection.url` gets the real [[graft.sinks.HttpBulkTransport]]
    * `_bulk` wire, anything else a local file spool. Not the default —
    * no ES exists in this container, so the default engine stays
    * spool-backed and the HTTP path is spec'd against a stub server
    * (EsSinkSpec). Embedders needing prop-driven tolerance
    * (`errors.tolerance=all`) close over their connector config instead. */
  def transportFor(url: String): BulkTransport =
    if (url.startsWith("http://") || url.startsWith("https://"))
      new graft.sinks.HttpBulkTransport(url)
    else new FileBulkTransport(java.nio.file.Files
      .createTempDirectory("graft-es").toString)
}

/** The reference's full EP2/EP3 topology (SURVEY §3) wired as one call:
  * ratings stream → live filter → customer enrichment → unhappy-platinum
  * alert stream + 15-minute windowed aggregate, each a named persistent
  * query — the Spark equivalent of running every statement in
  * `ksqldb-statements.sql`. */
object ReferencePipeline {

  /** Starts 4 persistent queries; returns the engine managing them.
    * `events` may be a streaming or batch-derived DataFrame; `customers`
    * is the dimension snapshot (stream-static join side).
    *
    * The windowed table materializes in UPDATE mode through the upsert
    * changelog (`upsertDir`) — per batch only changed (window, customer)
    * rows are written, never the whole table (Complete-mode re-emission
    * was the round-1 shape and a scale-killer; see
    * [[graft.streaming.Streams.toUpsertTable]]). */
  def start(engine: Engine, events: DataFrame, customers: DataFrame,
            upsertDir: String = java.nio.file.Files
              .createTempDirectory("graft-upsert").toString): Engine = {
    val live = Relational.eventsLive(events)
    val enriched = Relational.enriched(live, customers)
    engine.createStreamAs("ratings_live", live)
    engine.createStreamAs("ratings_with_customer_data",
      enriched.drop("event_ts"))
    engine.createStreamAs("unhappy_platinum_customers",
      Relational.unhappyPlatinum(enriched))
    engine.createUpsertTableAs("ratings_per_customer_per_15minute",
      Relational.ratingsPerCustomerPer15Min(enriched),
      Seq("window_start", "full_name"), upsertDir)
    engine
  }
}
