package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.functions.{Hashing, SketchExpressions}
import graft.operators.TextAnalysis
import MinHashDupStream.DefaultBandParts

/** The composed crawl-ingest guard: every arriving document passes, in
  * order, (1) the quality gate, (2) eval-set decontamination, (3) exact
  * dedup against everything ever ACCEPTED — and lands in exactly one of
  * two ledgers: `acceptedDir` (original columns) or `rejectsDir`
  * (`doc_id`, `reason`). The end-to-end "should this crawl page enter the
  * training corpus?" decision, assembled from the engine's own parts:
  *
  *  - quality + decontamination are PROJECTIONS
  *    ([[TextAnalysis.withQualityCols]]'s codegen'd signals; the
  *    [[SketchExpressions.shingleOverlap]] probe against the eval-hash
  *    plan constant) — no state, no shuffle, evaluated in the scan;
  *  - exact dedup follows [[graft.operators.Dedup.exactDedup]]'s
  *    normalized-text fingerprint: within a batch the lowest doc_id per
  *    fingerprint wins (one window over the batch's fingerprints);
  *    across batches the fingerprint store — distinct 60-bit hashes of
  *    ACCEPTED docs only, `fp_part`-partitioned parquet (partition
  *    count pinned by a format marker), files SORTED on `__fp` — is
  *    probed behind per-partition Bloom shards ([[BloomShards]]):
  *    a bloom-all-negative batch never reads the store at all, and the
  *    positives' membership is confirmed by a read pruned to their own
  *    partitions, with the candidate fps pushed as point predicates so
  *    the sorted files' row-group stats bound the read by the
  *    CANDIDATES, not the partitions (see [[start]]'s geometry notes).
  *    Rejected docs never enter the store: a
  *    later duplicate of a rejected page is judged on its own merits,
  *    because dedup is against the CORPUS, not the reject pile.
  *
  * Reject precedence is quality > contaminated > exact_dup — the cheapest
  * test that condemns a doc names it, and downstream reject analytics see
  * one reason per doc. Store discipline is the proven
  * [[SubstrDedupStream]] contract: clustered after-lookup appends,
  * (lineage, batch-id)-scoped replay guard via [[Streams.lineageId]]
  * (a store adopted under a fresh checkpoint keeps its history),
  * idempotent-append
  * ledgers ([[accepted]]/[[rejects]] dedupe on replay re-emission).
  *
  * With [[Views]] enabled the guard ALSO maintains the at-ingest
  * analytics family over the ACCEPTED subset, inside the same
  * `foreachBatch` — the reference's EP2→EP3 composition (decide, then
  * dashboard the survivors; ksqldb-statements.sql:50-93) at the
  * streaming layer: a per-group count/sum view, the token-length
  * histogram ([[HistogramStream]] grid store, so percentiles are served
  * at read without touching the corpus) and the HLL distinct-fingerprint
  * view ([[HllViewStream]]). Each view is its own
  * [[Streams.foldAppendOnce]] store, so replay safety is per-store
  * batch-atomic: a crash between ledger write and a view fold replays
  * the batch, the decision recomputes identically (the fingerprint-store
  * filter excludes this (lineage, batch)'s own rows), committed views
  * skip on their commit records and the missed one applies. */
object IngestGuard {

  /** At-ingest analytics config: `groupCol` must be a column of the
    * input docs (the dashboard dimension, e.g. `source`); the histogram
    * grid is pinned up front — the streaming-sketch constraint — in
    * ACCEPTED-token units, and the HLL counts distinct normalized-text
    * fingerprints per group (= deduped corpus size per source, the
    * number the guard's own exact-dedup semantics make meaningful).
    *
    * `maxPerGroup` turns the counts view LOAD-BEARING: admission is
    * capped at that many accepted docs per group over the stream's
    * lifetime (domain caps — the mixing-control a pretraining corpus
    * applies so one crawl domain cannot flood the mix), reject reason
    * `quota`. Admission order is deterministic: batches in order,
    * `doc_id` ascending within a batch — so the decision is a pure
    * function of (pre-batch store state, batch contents), which is what
    * makes replay exact. The quota read is
    * [[Streams.readFoldStoreBefore]] — strictly-pre-batch commits only,
    * so a replayed batch never sees its own first attempt's counts — and
    * the counts store then compacts via
    * [[Streams.compactFoldStoreBefore]] (labeled prefix compaction,
    * never crossing the current batch) instead of the after-the-fold
    * compact, which would make pre-batch state unrecoverable. */
  final case class Views(baseDir: String, groupCol: String = "source",
                         histMax: Double = 4096.0, histBins: Int = 4096,
                         lgK: Int = 12, compactEvery: Int = 8,
                         maxPerGroup: Option[Long] = None)

  /** Optional at-ingest NEAR-duplicate stage — the reference's EP2
    * composition taken to the corpus-quality argument of Lee et al. '21
    * ("Deduplicating Training Data Makes Language Models Better"): a
    * crawl pipeline should reject near-copies (reposts, boilerplate
    * rewraps, light edits), not just byte-copies. The modality is
    * [[MinHashDupStream]]'s band store composed INTO the guard as a
    * fifth reject reason `near_dup` — precedence after `exact_dup`
    * (the cheaper, certain test names the doc first) and before
    * `quota` (a near-copy must not consume an admission slot).
    *
    * A doc is `near_dup` when a MinHash LSH band of its text collides
    * with (a) a band of anything ever ACCEPTED (the band store — like
    * the fingerprint store, rejected docs never enter it), or (b) a
    * band of a lower-doc_id same-batch doc that itself survived the
    * exact level AND is not a store-near-dup. Same-batch CHAINS are
    * resolved one level only (if B near-dups accepted A, and C collides
    * only with B, C is still charged `near_dup`), and a same-batch
    * collision stands even when the kept side is LATER rejected by
    * quota (quota is decided after near-dup under the precedence, and
    * re-admitting C would shift quota ranks in its group — the same
    * fixpoint the quota-twin rule refuses): exact sequential admission
    * within a batch is a graph fixpoint, not a window — both deviations
    * are batch-confined and bias toward over-rejection, never corpus
    * corruption, the mirror of the quota-twin rule's pinned
    * under-admission bias. (A same-batch fp-TWIN of a near-dup winner
    * is the one case resolved exactly: identical fp ⇒ identical text ⇒
    * the twin near-dups whatever the winner did, reason `near_dup`.)
    *
    * `minEst` gates collisions on the signature-agreement Jaccard
    * estimate (E[est] = J, Broder '97 — [[JaccardDupStream]]'s scoring):
    * None rejects on ANY band collision (max recall); Some(t) rejects
    * only pairs with est ≥ t. The store carries the k-long signature
    * per band row either way, so `minEst` is a restart-safe QUERY
    * parameter, not store geometry — `(k, bands, n, bandParts)` are the
    * geometry and are format-marked.
    *
    * Scale geometry (round-14 — the fp store's round-13 playbook applied
    * to this store, which like it can never retention-prune): `bandParts`
    * sets the band store's partition count AT CREATION (format-marked:
    * a store written under another count, or with no marker or a
    * pre-v2 one, fails fast); appends are sorted on `band_key` within
    * each file; the probe is the fp store's ([[CorpusStore]]): per-partition
    * Bloom sidecars over `xxhash64(band_key)` gate it, and with at most
    * [[PushdownCap]] distinct bloom-positive band keys the candidates
    * are pushed into the store scan as string point predicates, so the
    * sorted files' row-group stats bound the read by the CANDIDATES' row
    * groups, not the partitions. Past the cap the partition-pruned join
    * takes over, unhinted for AQE. */
  final case class NearDup(stateDir: String, k: Int = 16, bands: Int = 4,
                           n: Int = 3, minEst: Option[Double] = None,
                           bandParts: Int = DefaultBandParts) {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    require(bandParts > 0, "bandParts must be positive")
    minEst.foreach(t => require(t >= 0.0 && t <= 1.0,
      "minEst must be in [0, 1]"))
  }

  /** Band+signature rows of `docs` (doc_id, text) — the
    * [[JaccardDupStream]] row shape (signature riding each band row so
    * the estimate is computed inside the band join, no second join back
    * to a signature table). Package-private: specs forge crashed-store
    * states from the same builder the guard probes with. */
  private[graft] def nearDupRows(docs: DataFrame, k: Int, bands: Int,
                                 n: Int,
                                 parts: Int = DefaultBandParts): DataFrame =
    graft.operators.Dedup.bandSigRows(docs, k, bands, n)
      .withColumn("band_part",
        pmod(xxhash64(col("band_key")), lit(parts)).cast("int"))

  private def nearDupFormatTag(nd: NearDup): String =
    s"guard-neardup/v2/k=${nd.k}/bands=${nd.bands}/n=${nd.n}" +
      s"/parts=${nd.bandParts}"

  private[streaming] val countsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_tokens",
        org.apache.spark.sql.types.LongType)))

  private val DefaultFpParts = 256

  /** Most distinct bloom-positive keys a probe pushes into the store scan
    * as point predicates — the round-13 measured ceiling: or-of-eq
    * pruning degrades past ~64 values, and per-value pruning only wins
    * while candidates number fewer than the partition's row groups. */
  private val PushdownCap = 64

  /** What [[CorpusStore.probe]] found for a batch: the bloom-positive
    * rows, the store history that confirms them (None: no row can
    * collide, so the store is never read), whether that history is
    * already narrowed to the candidates' pushed keys, and the parts the
    * load budget deferred (their rows count as bloom-positive). */
  private final case class Probe(positives: DataFrame,
                                 history: Option[DataFrame],
                                 pushed: Boolean, deferred: Set[Int])

  /** One of the guard's two corpus-lifetime stores — the fp store or the
    * near-dup band store — behind its per-partition Bloom shards
    * ([[BloomShards]]). `key` is the column candidates are pushed on,
    * `hash` a row's Bloom item, `nParts` the marker-pinned partition
    * count. Each store's shard cache gets its own LRU byte budget: the
    * driver must never hold the whole corpus filter (the 1e11-item
    * infeasibility the sharding exists to avoid); evicted shards reload
    * from the log on next touch. Single-writer, like the foreachBatch
    * that owns it. */
  private final class CorpusStore(side: Streams.SideStore, key: String,
                                  hash: Column, nParts: Int,
                                  lineage: String, fpp: Double,
                                  maxLoadBytes: Long, maxCacheBytes: Long) {
    private val cache = new BloomShards.Cache(maxCacheBytes)
    private val part = col(side.partCol)

    /** Probe the store for `rows` (each carrying `key`, the partition
      * column and whatever `hash` reads). Only the rows' own LIVE parts
      * are touched; their shards come from the cache, the sidecar log
      * (up to the load budget — the rest are deferred) or a store
      * rebuild ([[BloomShards.prepare]]), and bloom-NEGATIVE rows are
      * definitively new (no false negatives). With no positives the
      * store is never read — the fresh-content common case. Otherwise
      * the history is the store pruned to the positives' partitions,
      * minus this (lineage, batch)'s own rows (a replay's first attempt
      * is not history); with at most [[PushdownCap]] candidates their
      * keys are pushed into the scan as point predicates, so the sorted
      * files' row-group/page stats bound the read by the candidates' own
      * row groups. A cheap `approx_count_distinct` runs BEFORE the exact
      * distinct: a dup-heavy batch that is obviously past the cap must
      * not pay a candidate-column shuffle just to learn it can't push
      * (its ±2% error only mis-routes borderline batches between two
      * exact paths). A Bloom false positive costs a pruned confirm read,
      * never a wrong decision. */
    def probe(spark: SparkSession, rows: DataFrame, batchId: Long): Probe = {
      val live = side.liveParts(side.ensureReady(spark))
      val touched =
        if (live.isEmpty) Nil
        else rows.select(part).distinct().collect().map(_.getInt(0))
          .toIndexedSeq.filter(live) // bounded ≤ nParts
      val prep = BloomShards.prepare(spark, side.stateDir, side.partCol,
        hash, lineage, touched, cache, BloomShards.InitialCapacity, fpp,
        maxLoadBytes)
      val positives = rows.filter(BloomShards.gate(hash, part, prep, nParts))
      val deferred = prep.deferred.toSet
      val posParts =
        if (prep.shards.isEmpty && prep.deferred.isEmpty) Array.empty[Int]
        else positives.select(part).distinct().collect().map(_.getInt(0))
      if (posParts.isEmpty)
        return Probe(positives, None, pushed = false, deferred)
      val history = side.prunedRead(spark, posParts.toIndexedSeq)
        .filter(!(col("__lineage") <=> lit(lineage) &&
          col("__batch_id") === lit(batchId)))
      val nEst = positives.agg(approx_count_distinct(col(key)))
        .head().getLong(0)
      val cands =
        if (nEst > PushdownCap) Array.empty[Any]
        else positives.select(col(key)).distinct().take(PushdownCap + 1)
          .map(_.get(0))
      if (nEst <= PushdownCap && cands.length <= PushdownCap)
        Probe(positives, Some(history.filter(col(key).isin(cands: _*))),
          pushed = true, deferred)
      else Probe(positives, Some(history), pushed = false, deferred)
    }

    /** Grow the store with the batch's ACCEPTED `rows` after the lookup
      * (a row never matches itself), through the crash-replay append
      * guard, then fold their hashes into the Bloom shards — after the
      * append, so delta rows never cover hashes the store lacks. A
      * fresh part's first base covers its batch; `deferred` parts' hashes
      * ride the delta log only ([[BloomShards.update]]). A replayed batch
      * re-folds its own hashes: bits are idempotent, and the n_items
      * over-count can only trigger an early rebuild from the store. */
    def grow(spark: SparkSession, rows: DataFrame, keyCols: Seq[String],
             batchId: Long, deferred: Set[Int], repair: Boolean): Unit = {
      side.appendBatchOnce(spark, rows.withColumn("__lineage", lit(lineage)),
        lineage, batchId, keyCols, repair)
      BloomShards.update(spark, side.stateDir, side.partCol,
        rows.select(part, hash), cache, BloomShards.InitialCapacity, fpp,
        lineage, batchId, deferred = deferred)
    }
  }

  /** Start the guard. `evalHashes` is the eval set's sorted distinct
    * shingle-hash array (build with
    * `Dedup.shingleRows(evalDocs).select("h1").distinct()` — see
    * [[graft.operators.Dedup.decontaminateScan]]); `docs` must be a
    * streaming DataFrame with at least (doc_id: long, text: string).
    *
    * Scale geometry (round-13): `fpParts` sets the fingerprint store's
    * partition count AT CREATION (format-marked: the partition count is
    * the store's geometry — the probe's partition pruning, the Bloom
    * shard index and the layout key all derive from it — so a restart
    * under another count, or over a store with no marker, fails fast;
    * size it so one
    * partition's rows fit a comfortable pruned read at the deployment's
    * corpus ceiling — corpus/fpParts rows each). Appends are sorted on
    * `__fp` within each file, so the probe's candidate fingerprints —
    * pushed into the scan as point predicates when the batch has at most
    * [[PushdownCap]] (64) distinct bloom-positive fps — prune by parquet
    * row-group/page statistics INSIDE the partition: probe IO is
    * bounded by the candidates' own row groups, not the partition.
    * (Point predicates, not parquet's native large-set `In`: its
    * statistics filter prunes only on the candidate SET's min..max —
    * useless for uniform hashes — so the session's
    * `spark.sql.parquet.pushdown.inFilterThreshold` is raised to the
    * cap at start, making Spark push or-of-eq, which prunes per value.
    * NOTE this raise is SESSION-GLOBAL and lives past the query — the
    * conf has no per-read form, so every other query on a shared
    * session plans In-pushdown with a threshold of at least 64 from then
    * on. A dup-heavy batch past the cap gains nothing from point reads
    * and falls back to the pruned-partition semi-join, unhinted so AQE
    * sizes the join.) The Bloom prefilter is
    * per-partition [[BloomShards]] sidecars — each shard starts at
    * [[BloomShards.InitialCapacity]] (64) items and is sized from its
    * own partition (a fresh part's first base covers its first batch, a
    * live part with no loadable base is counted then rebuilt at a
    * covering capacity, a saturated shard rebuilds at a doubled one),
    * CACHED in the driver
    * across batches (the store is single-writer, so the in-memory map
    * is authoritative: the log is read only on a run's first touch of a
    * partition), fed per batch by batch-proportional DELTA rows rather
    * than full filter rewrites — so no driver-held
    * filter ever has to be sized for the whole corpus, a saturated
    * filter can never silently degrade the probe to read-everything,
    * and per-batch sidecar IO is proportional to the batch.
    * `maxBloomLoadBytes` bounds what a single batch may LOAD for its
    * uncached shards (a restart's full-touch first batch at a corpus
    * too big to re-load wholesale): each batch WARMS up to the budget
    * and defers the rest — candidates in the deferred partitions are
    * treated as bloom-positive and take the pruned+pushed confirm read,
    * which is exact without the Bloom — so the gate recovers fully in
    * ~⌈sidecarBytes/budget⌉ batches after any restart instead of
    * skipping forever, while delta maintenance continues for deferred
    * parts, so deferral never starves the sidecars into false
    * negatives. The near-dup band store ([[NearDup]]) runs the same
    * probe and growth ([[CorpusStore]]) with its own cache.
    *
    * SIZING RULE (`maxBloomCacheBytes` vs the corpus): warming
    * CONVERGES only if the cache can hold the filters of the parts a
    * batch actually touches — size `maxBloomCacheBytes` ≥ the live
    * WORKING SET's filter bytes (for a full-touch stream, the whole
    * sidecar: ~1.2 bytes/fingerprint at fpp=0.01, so ~12 GB at 10¹⁰
    * accepted docs). A full-touch stream whose sidecar exceeds the
    * cache budget instead reaches a PERMANENT warming steady state:
    * each batch loads up to `maxBloomLoadBytes`, evicts LRU, and
    * defers the rest, forever — exact throughout (the deferred
    * partitions' candidates take the confirm read), but a standing
    * per-batch reload + confirm cost that looks identical to a
    * converging warm-up in per-batch behavior. The telemetry that
    * tells them apart is [[BloomShards.lastWarming]] /
    * [[graft.api.Engine.registerGuardWarming]] (and the stable
    * `BloomShards.warming` log line): `deferred_parts` reaching 0 is a
    * warm-up completing; never reaching 0 means grow the cache or
    * shrink the per-batch touched set. Partial-touch workloads — the
    * design assumption at corpus scale — hold their working set and
    * are unaffected. */
  def start(docs: DataFrame, evalHashes: Array[Long], stateDir: String,
            acceptedDir: String, rejectsDir: String, checkpoint: String,
            minTokens: Int = 5, maxPunctRatio: Double = 0.2,
            n: Int = 3, fpp: Double = 0.01, views: Option[Views] = None,
            fpParts: Int = DefaultFpParts,
            nearDup: Option[NearDup] = None,
            maxBloomLoadBytes: Long = 2L << 30,
            maxBloomCacheBytes: Long = 8L << 30): StreamingQuery = {
    require(fpParts > 0, "fpParts must be positive")
    require(maxBloomLoadBytes > 0, "maxBloomLoadBytes must be positive")
    require(maxBloomCacheBytes > 0, "maxBloomCacheBytes must be positive")
    views.foreach(v => require(docs.columns.contains(v.groupCol),
      s"Views.groupCol '${v.groupCol}' is not a column of the input docs"))
    val lineage = Streams.lineageId(
      docs.sparkSession.sparkContext.hadoopConfiguration, checkpoint)
    val inputCols = docs.columns.toIndexedSeq
    // candidate point predicates must reach parquet as or-of-eq (see
    // the scaladoc, incl. the session-global caveat); raise the session
    // threshold to the cap — never lower an existing bigger one
    val sess = docs.sparkSession
    val inThreshold = "spark.sql.parquet.pushdown.inFilterThreshold"
    if (sess.conf.get(inThreshold, "10").toInt < PushdownCap)
      sess.conf.set(inThreshold, PushdownCap.toString)
    // the fp store through the shared skeleton: geometry-marked, appends
    // sorted on __fp so in-partition row-group stats serve the probe's
    // pushed candidates
    val fpStore = new CorpusStore(new Streams.SideStore(stateDir,
        "fp_part", s"guard-fps/v2/parts=$fpParts", "IngestGuard", 0, 0,
        sortCols = Seq("__fp")),
      "__fp", col("__fp"), fpParts, lineage, fpp, maxBloomLoadBytes,
      maxBloomCacheBytes)
    // the optional near-dup band store — same skeleton, same geometry
    // discipline as the fp store's (marker-pinned parts,
    // band_key-sorted files for pushed-candidate row-group pruning,
    // per-part Bloom sidecars); accepted docs' bands only
    val ndStore: Option[(NearDup, CorpusStore)] = nearDup.map(nd =>
      nd -> new CorpusStore(new Streams.SideStore(nd.stateDir, "band_part",
          nearDupFormatTag(nd), "IngestGuard.NearDup", 0, 0,
          sortCols = Seq("band_key")),
        "band_key", xxhash64(col("band_key")), nd.bandParts, lineage, fpp,
        maxBloomLoadBytes, maxBloomCacheBytes))
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // one scan projection computes every per-doc signal
        val scored = TextAnalysis.withQualityCols(batch)
          .withColumn("__overlap",
            SketchExpressions.shingleOverlap(col("text"), evalHashes, n))
          .withColumn("__fp", fpExpr)
          .withColumn("fp_part",
            pmod(col("__fp"), lit(fpParts)).cast("int"))
          .localCheckpoint(false)
        val quality = col("n_tokens") >= minTokens &&
          col("punct_ratio") <= maxPunctRatio
        // within-batch: lowest doc_id per fingerprint wins — ranked only
        // over rows that pass the quality and contamination gates, because
        // dedup is against the CORPUS, not the reject pile: if a doc's
        // lower-doc_id same-fingerprint twin was itself rejected, no doc
        // with that fingerprint entered the corpus and this one must not
        // be charged as exact_dup. Adding the gate to the partition key
        // keeps the exchange on __fp unchanged; gate-failing rows rank
        // within their own partition but never reach the exact_dup branch
        // (their reason is already quality/contaminated).
        val gate = quality && col("__overlap") === 0
        val rn = row_number().over(
          Window.partitionBy(col("__fp"), gate).orderBy(col("doc_id")))
        // cross-batch: fingerprint already accepted in an earlier batch.
        // Only docs that can ever be charged exact_dup — the GATE-passing
        // ones (quality/contamination rejects keep their cheaper reason
        // under the precedence, so probing for them is dead work) — are
        // probed ([[CorpusStore.probe]]).
        val fpProbe = fpStore.probe(spark, scored.filter(gate), batchId)
        val withRn = scored.withColumn("__rn", rn)
        val probed = fpProbe.history.fold(
            withRn.withColumn("__seen", lit(false))) { history =>
          // pushed: ≤ PushdownCap candidate rows, so the broadcast is
          // bounded. Past the cap the candidate and seen sets are
          // batch-sized, so NO forced broadcast anywhere — AQE sizes
          // both joins from runtime stats (round-12 advice: a
          // force-broadcast batch-sized set risks OOM where a shuffle
          // join would have absorbed it). The distinct keeps
          // replay-duplicated store rows from fanning out the join.
          val fps = history.select(col("__fp"))
          val seenFps = (if (fpProbe.pushed) fps
            else fps.join(fpProbe.positives.select(col("__fp")).distinct(),
              Seq("__fp"), "left_semi"))
            .distinct().withColumn("__seen", lit(true))
          withRn.join(if (fpProbe.pushed) broadcast(seenFps) else seenFps,
            Seq("__fp"), "left")
        }
        val isDup = coalesce(col("__seen"), lit(false)) || col("__rn") > 1
        // near-dup stage (see [[NearDup]]): bands are computed ONLY for
        // exact-level keepers (anything already condemned keeps its
        // cheaper reason under the precedence — the same dead-work
        // argument as the fp probe's gate filter), and probed against
        // the band store exactly as the fp store is. Within the batch:
        // lower-doc_id keepers that are not themselves store-near-dups.
        // The hit sets are bounded by the batch; no forced broadcasts.
        val (withNear, ndCtx) = ndStore.map { case (nd, st) =>
          val keepers = probed.filter(gate && !isDup)
            .select(col("doc_id"), col("text"))
          val rows = nearDupRows(keepers, nd.k, nd.bands, nd.n,
              nd.bandParts)
            .localCheckpoint(false)
          val ndProbe = st.probe(spark, rows, batchId)
          val storeHits = ndProbe.history.fold(
              rows.select(col("doc_id")).limit(0)) { history =>
            ndProbe.positives.alias("nn").join(history.alias("pp"),
                col("nn.band_id") === col("pp.band_id") &&
                  col("nn.band_key") === col("pp.band_key"))
              .filter(nd.minEst.fold(lit(true))(t =>
                graft.operators.Dedup.sigAgreement(nd.k, "nn.sig", "pp.sig") >= lit(t)))
              .select(col("nn.doc_id")).distinct()
          }
          val batchHits = rows.alias("aa").join(rows.alias("bb"),
              col("aa.band_id") === col("bb.band_id") &&
                col("aa.band_key") === col("bb.band_key") &&
                col("bb.doc_id") < col("aa.doc_id"))
            .filter(nd.minEst.fold(lit(true))(t =>
              graft.operators.Dedup.sigAgreement(nd.k, "aa.sig", "bb.sig") >= lit(t)))
            // one-level chain resolution (see [[NearDup]]): the kept
            // lower side must not itself be a store-near-dup
            .join(storeHits.withColumnRenamed("doc_id", "__bdoc"),
              col("bb.doc_id") === col("__bdoc"), "left_anti")
            .select(col("aa.doc_id")).distinct()
          val nearIds = storeHits.unionByName(batchHits).distinct()
            .withColumn("__near", lit(true))
          (probed.join(nearIds, Seq("doc_id"), "left"),
            Some((st, rows, ndProbe.deferred)))
        }.getOrElse((probed.withColumn("__near", lit(false)), None))
        val isNear = coalesce(col("__near"), lit(false))
        // honest reason for same-batch fp-twins of a NEAR-DUP winner
        // (the quota-twin rule's sibling): the winner's fingerprint
        // never entered the corpus, so exact_dup would be a lie — but
        // identical fp means identical normalized text, which near-dups
        // whatever the winner near-dupped, so the follower's honest
        // reason is near_dup (and unlike the quota case, the follower
        // could never have been admitted). Same window partitioning as
        // __rn/__winner_quota — the planner reuses the exchange.
        val withWinnerNear =
          if (nearDup.isEmpty)
            withNear.withColumn("__winner_near", lit(false))
          else withNear.withColumn("__winner_near",
            max(when(col("__rn") === 1, isNear).otherwise(lit(false)))
              .over(Window.partitionBy(col("__fp"), gate)))
        // per-group admission quota (Views.maxPerGroup): a doc that
        // survives every content gate still lands `quota` once its group
        // has admitted `cap` docs. Prior counts come from the counts
        // store's strictly-pre-batch commits (replay-exact: a crashed
        // batch's own fold is excluded on retry), the batch's own
        // survivors are ranked doc_id-ascending within the group (the
        // survivor predicate rides the partition key, like __rn's gate —
        // non-survivors rank in their own partition and never reach the
        // quota branch), and prior + rank > cap condemns the overflow.
        // The prior frame is ≤ n_groups rows — broadcast.
        val withQuota = (for { v <- views; cap <- v.maxPerGroup } yield {
          val countsDir = s"${v.baseDir}/counts"
          if (v.compactEvery > 0 && batchId % v.compactEvery == 0)
            Streams.compactFoldStoreBefore(spark, countsDir, lineage,
              batchId)(log => log.groupBy(col("grp"))
                .agg(sum(col("cnt")).as("cnt"),
                  sum(col("sum_tokens")).as("sum_tokens")))
          val prior = Streams.readFoldStoreBefore(spark, countsDir,
              countsSchema, lineage, batchId)
            .groupBy(col("grp")).agg(sum(col("cnt")).as("__admitted"))
            .withColumnRenamed("grp", "__qgrp")
          val survivor = quality && col("__overlap") === 0 && !isDup &&
            !isNear
          val rq = row_number().over(
            Window.partitionBy(col(v.groupCol).cast("string"), survivor)
              .orderBy(col("doc_id")))
          withWinnerNear.join(broadcast(prior),
              col(v.groupCol).cast("string") <=> col("__qgrp"), "left")
            .drop("__qgrp")
            .withColumn("__over_quota", survivor &&
              coalesce(col("__admitted"), lit(0L)) + rq > cap)
            .drop("__admitted")
            // when the fingerprint's within-batch winner is itself
            // condemned by quota, the fingerprint never entered the
            // corpus — charging its same-batch followers exact_dup would
            // violate "dedup is against the CORPUS" (the gate comment's
            // invariant). They are charged `quota` instead: the honest
            // reason (the fp's slot was quota-denied), deliberately
            // WITHOUT re-admission — promoting a follower would shift
            // later quota ranks in ITS group, whose winners could then
            // overflow and free other fps: a fixpoint, not a window. The
            // deviation is confined to multi-copy fps arriving in the
            // same batch as a quota overflow and biases toward
            // under-admission, never corpus corruption; StreamingSpec
            // pins it ("quota-rejected winner does not convict ...").
            .withColumn("__winner_quota",
              max(when(col("__rn") === 1, col("__over_quota"))
                .otherwise(lit(false)))
                .over(Window.partitionBy(col("__fp"), gate)))
        }).getOrElse(withWinnerNear.withColumn("__over_quota", lit(false))
          .withColumn("__winner_quota", lit(false)))
        val judged = withQuota
          .withColumn("reason",
            when(!quality, "quality")
              .when(col("__overlap") > 0, "contaminated")
              .when(coalesce(col("__seen"), lit(false)), "exact_dup")
              .when(col("__rn") > 1 && col("__winner_quota"), "quota")
              .when(col("__rn") > 1 && col("__winner_near"), "near_dup")
              .when(col("__rn") > 1, "exact_dup")
              .when(isNear, "near_dup")
              .when(col("__over_quota"), "quota"))
          .localCheckpoint(false)
        val accepted = judged.filter(col("reason").isNull)
        // RETIRED-ID REUSE fail-fast (r17 verdict #1), BEFORE any ledger
        // write: the retired-ids ledger skips already-applied doc_ids
        // forever, so accepting a NEW doc under a retired id would make
        // that id's later retirement a silent no-op — the new doc's fp
        // would stay in the store after its erasure, the inverse of the
        // temporal un-guarding path the ledger exists to close. Erasure
        // paths don't get silent no-ops, so the collision is refused
        // LOUDLY here, where the id is about to re-enter the corpus.
        // Cost: one fs.exists per batch; the semi-join (ids-only
        // single-file sidecar vs the batch's accepted ids) only when
        // retirements exist at all.
        val retired = new org.apache.hadoop.fs.Path(retiredFile(stateDir))
        if (retired.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(retired)) {
          val clash = retiredIds(spark, stateDir).map(r =>
            accepted.select(col("doc_id"))
              .join(r, Seq("doc_id"), "left_semi").limit(1).collect())
            .getOrElse(Array.empty[org.apache.spark.sql.Row])
          if (clash.nonEmpty) throw new IllegalStateException(
            s"batch $batchId accepts doc_id ${clash.head.getLong(0)}, " +
              "which is in the retired-ids ledger " +
              s"(${retiredFile(stateDir)}): doc_ids must never be " +
              "reused after retirement — a later retireDocs of this id " +
              "would silently no-op and leave the new doc's fingerprint " +
              "un-erasable. Re-emit the document under a fresh id; if " +
              "this batch is a crash REPLAY of ingestion that predates " +
              "the retirement, unretireDocs(id) — or UNRETIRE DOCS (id) " +
              "FROM GUARD <name> over REST — to let the replay land, " +
              "then re-run the retirement once the batch commits.")
        }
        Streams.stampBatch(judged.filter(col("reason").isNotNull)
          .select(col("doc_id"), col("reason")), batchId)
          .write.mode(SaveMode.Append).parquet(rejectsDir)
        Streams.stampBatch(accepted.select(inputCols.map(col): _*), batchId)
          .write.mode(SaveMode.Append).parquet(acceptedDir)
        // repair = false for the fp store: the guard's batch path must be
        // able to skip the store entirely (bloom-all-negative), so the
        // one-batch append-to-sidecar crash window takes a duplicate copy
        // instead of an anti-join read — the probe's lineage filter and
        // seenFps distinct already absorb store duplicates exactly. No
        // distinct here: an accepted doc is its fingerprint's __rn = 1.
        fpStore.grow(spark, accepted.select(col("__fp"), col("fp_part")),
          Seq("__fp"), batchId, fpProbe.deferred, repair = false)
        // the band store repairs exactly (it IS read whenever any keeper
        // exists, so a restart's repair read is already paid for). The
        // accepted bands are checkpointed once: the store append and the
        // sidecar update both consume them — without this the
        // keeper⋉accepted semi-join runs twice per batch.
        ndCtx.foreach { case (st, rows, deferred) =>
          val acceptedBands = rows.join(
              accepted.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .localCheckpoint(false)
          st.grow(spark, acceptedBands, Seq("doc_id", "band_id"), batchId,
            deferred, repair = true)
          org.apache.spark.sql.GraftColumnBridge
            .checkpointRdd(acceptedBands).foreach(_.unpersist(false))
        }
        // at-ingest analytics over the survivors: three maintained views,
        // each fed from the already-materialized `judged` checkpoint (no
        // corpus re-read), each with its own batch-atomic commit record
        views.foreach { v =>
          val acc = accepted.select(
            col(v.groupCol).cast("string").as("grp"),
            col("n_tokens").cast("double").as("n_tokens"), col("__fp"))
          // quota mode compacts via the pre-fold labeled prefix instead
          // (see Views scaladoc) — the after-the-fold compact would fold
          // THIS batch into a partition the pre-batch read can't split
          Streams.foldAppendOnce(spark, s"${v.baseDir}/counts", lineage,
            batchId, s"guard-counts/grp=${v.groupCol}", "IngestGuard.Views",
            if (v.maxPerGroup.isDefined) 0 else v.compactEvery) {
            acc.groupBy(col("grp")).agg(count(lit(1)).as("cnt"),
              sum(col("n_tokens")).cast("long").as("sum_tokens"))
          } { log =>
            log.groupBy(col("grp")).agg(sum(col("cnt")).as("cnt"),
              sum(col("sum_tokens")).as("sum_tokens"))
          }
          HistogramStream.applyBatch(acc, s"${v.baseDir}/hist", lineage,
            batchId, "grp", "n_tokens", 0.0, v.histMax, v.histBins,
            v.compactEvery)
          HllViewStream.applyBatch(acc, s"${v.baseDir}/hll", lineage,
            batchId, "grp", "__fp", v.lgK, v.compactEvery)
        }
        (Seq(scored, judged) ++ ndCtx.map(_._2)).foreach(df =>
          org.apache.spark.sql.GraftColumnBridge.checkpointRdd(df)
            .foreach(_.unpersist(false)))
        ()
      }
      .start()
  }

  /** MAINTENANCE compaction of the fingerprint store: rewrite each
    * `fp_part` partition to one file, globally sorted on `__fp` — the
    * store can never retention-prune (dedup is against everything ever
    * accepted), so its per-batch appends accumulate one file per
    * touched partition per batch FOREVER, and a candidate probe pays
    * one row group per FILE instead of one per candidate; compaction
    * collapses that back and bounds the partitions' file counts.
    * Crash-safe two-rename swap ([[Streams.rewriteStore]]), columns
    * (incl. the `__lineage`/`__batch_id` stamps) preserved, Bloom
    * sidecars untouched (contents are unchanged).
    *
    * Cost is O(store) per call — run it OUT OF BAND during a low-traffic
    * window amortized over many batches (the lakehouse equivalent of a
    * RocksDB major compaction; a MERGE-capable table format would make
    * it a metadata operation). SINGLE-WRITER: the store's streaming
    * query must be stopped while this runs — the guard's foreachBatch
    * owns the store while active. */
  def compactFpStore(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String): Unit =
    Streams.rewriteStore(spark, stateDir, Seq("fp_part"), Seq("__fp"))(
      identity)

  /** [[compactFpStore]]'s twin for the near-dup BAND store: rewrite each
    * `band_part` partition to one file globally sorted on `band_key`,
    * restoring the one-row-group-per-candidate layout the probe's pushed
    * band-key predicates depend on (per-batch appends are each sorted,
    * but a candidate pays one row group PER FILE until compaction
    * collapses them). Same contract as the fp twin: crash-safe two-rename
    * swap, columns preserved, Bloom sidecars untouched, SINGLE-WRITER —
    * stop the guard's streaming query first. */
  def compactNdStore(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String): Unit =
    Streams.rewriteStore(spark, stateDir, Seq("band_part"),
      Seq("band_key"))(identity)

  /** The guard's normalized-text fingerprint of the `text` column — ONE
    * definition shared by the ingest path and [[retireDocs]] (a second
    * derivation could silently drift and retire the wrong hash);
    * package-visible so the retirement spec can assert the stale-bit
    * sidecar condition on the actual hash. */
  private[graft] def fpExpr: org.apache.spark.sql.Column =
    expr(Hashing.hash64("regexp_replace(trim(lower(text)), '\\\\s+', ' ')"))

  /** The retired-ids ledger's path beside the fp store. */
  private[graft] def retiredFile(stateDir: String): String =
    stateDir + ".__retired"

  /** The guard's applied-retirement ledger (one `doc_id` column), or
    * None when nothing was ever retired — the set [[retireDocs]] skips
    * and the ingest path refuses to re-accept (see the fail-fast in
    * [[start]]). Ids-only and single-file, like the index's tombstone
    * sidecar. */
  def retiredIds(spark: org.apache.spark.sql.SparkSession,
                 stateDir: String): Option[DataFrame] =
    Streams.readIdSidecar(spark, retiredFile(stateDir), "doc_id")

  /** ESCAPE HATCH for the ingest fail-fast: drop `docIds` from the
    * retired-ids ledger so a crash-REPLAYED batch whose doc was retired
    * mid-flight (retirement ran between the batch's ledger writes and
    * its checkpoint commit) can land. The replay re-admits the doc —
    * its fingerprint re-enters the store — so RE-RUN the retirement
    * once the batch commits, or the erasure is undone. Never unretire
    * an id that a NEW document reused: that is exactly the silent-no-op
    * hazard the fail-fast exists to refuse. SINGLE-WRITER like every
    * maintenance op (stop the guard first; its batch just failed, so it
    * already is). Returns the number of ids actually removed from the
    * ledger — a replayed unretirement (or an id never retired) resolves
    * to 0, so the statement form is idempotent and its response says
    * whether this run did the work. */
  def unretireDocs(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String, docIds: DataFrame): Long =
    retiredIds(spark, stateDir).fold(0L) { r =>
      val ids = docIds.select(col("doc_id")).distinct()
      val n = r.join(ids, Seq("doc_id"), "left_semi").count()
      if (n > 0)
        Streams.replaceIdSidecar(spark, retiredFile(stateDir),
          r.join(ids, Seq("doc_id"), "left_anti"))
      n
    }

  /** ERASURE maintenance op — make the guard FORGET erased docs (the
    * fp-store twin of [[IvfIndexStream.deleteIds]], with the OPPOSITE
    * retirement semantics, deliberately: an index masks an erased id
    * forever because the id is row identity; the guard's fingerprint is
    * corpus MEMBERSHIP, and once the doc leaves the corpus a future
    * identical page is no longer a duplicate OF anything — it must be
    * judged on its own merits and ACCEPTED, exactly like a duplicate of
    * a rejected page always was, "because dedup is against the CORPUS,
    * not the reject pile").
    *
    * `docIds` names the erased docs; their text — and therefore the
    * fingerprints to drop — is resolved FROM THE ACCEPTED LEDGER
    * (`acceptedDir`), never from caller-supplied text: retiring by raw
    * text would let an operator pass a REJECTED duplicate's copy and
    * silently drop the fp of its still-live accepted twin (the twin
    * shares the fp — that is why it was rejected), un-guarding a doc
    * that never left the corpus. Resolving through the ledger makes
    * the fp ↔ accepted-doc 1:1 claim structural: an id that was never
    * accepted resolves to nothing and retires nothing. The fp store
    * drops the resolved fingerprints, and the near-dup band store
    * (when `ndStateDir` is given — pass it whenever the guard runs
    * with near-dedup, or future NEAR twins of the erased doc stay
    * convicted) drops their band rows by `doc_id`. Both are crash-safe
    * [[Streams.rewriteStore]] swaps preserving the stores' partition +
    * sort layout — the same O(store) offline shape as
    * [[compactFpStore]]/[[compactNdStore]], so batch retirements
    * together at compaction cadence.
    *
    * A RETIRED-IDS LEDGER (`<stateDir>.__retired`, the single-file
    * atomic sidecar) records which ids' retirement has been APPLIED,
    * and already-recorded ids are skipped. This is what makes a replay
    * safe ACROSS TIME, not just immediately: the accepted ledger holds
    * the retired doc's (id, text) forever, and once the same text is
    * legitimately RE-ADMITTED under a new id (the whole point of
    * retirement), a replayed `retireDocs` of the old id would resolve
    * to the shared text and drop the re-admitted doc's LIVE
    * fingerprint — un-guarding it silently. The ledger is written
    * AFTER the store rewrites, so a retirement that crashes mid-way
    * re-applies on re-run (the safe direction — writing it first
    * would let a crash skip the rewrites forever, silently dropping
    * the erasure); complete a torn retirement (re-run it) BEFORE
    * restarting the guard, per the single-writer discipline. The
    * skip-forever ledger makes ID REUSE a hazard in the other
    * direction — a NEW doc accepted under a retired id could never be
    * retired again — so the ingest path FAILS FAST when a batch would
    * accept a retired id (see [[start]]): doc_ids are never reused,
    * by contract, and [[unretireDocs]] is the explicit hatch for the
    * one legitimate exception (a crash-replayed batch whose doc was
    * retired mid-flight).
    *
    * The Bloom sidecars are deliberately UNTOUCHED: a filter cannot
    * unlearn a member, but stale bits are the sidecar's normal
    * false-positive condition — the probe's store confirm read decides
    * (exactly; a false negative is impossible), so a retired fp costs
    * one pruned confirm read per future twin until the part's next
    * natural rebuild, never a wrong decision. The `n_items` overcount
    * only hastens a saturation rebuild, which reads the store and
    * self-heals the filter.
    *
    * NOT touched, by contract: the `accepted`/`rejects` LEDGERS (they
    * are history — what the guard decided when the doc was live; the
    * caller erases the doc from its own corpus store), and the
    * additive analytics views + quota admission counts (also history:
    * retirement changes future DECISIONS, not recorded ones — a
    * quota slot consumed by a later-erased doc is not refunded).
    * SINGLE-WRITER: stop the guard's streaming query first, like every
    * maintenance op here. */
  def retireDocs(spark: org.apache.spark.sql.SparkSession,
                 docIds: DataFrame, acceptedDir: String,
                 stateDir: String,
                 ndStateDir: Option[String] = None): Long = {
    val retiredPath = retiredFile(stateDir)
    val ids = docIds.select(col("doc_id")).distinct()
    val already = Streams.readIdSidecar(spark, retiredPath, "doc_id")
    // only ids not yet applied: a replayed retirement after the same
    // text was re-admitted under a NEW id must not resolve the OLD
    // id's text again (see the ledger note in the scaladoc)
    val fresh = already.fold(ids)(a =>
      ids.join(a, Seq("doc_id"), "left_anti"))
    val docs = accepted(spark, acceptedDir)
      .join(fresh, Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    val fps = docs.select(fpExpr.as("__fp")).distinct()
    Streams.rewriteStore(spark, stateDir, Seq("fp_part"), Seq("__fp"))(
      _.join(fps, Seq("__fp"), "left_anti"))
    ndStateDir.foreach { nd =>
      Streams.rewriteStore(spark, nd, Seq("band_part"), Seq("band_key"))(
        _.join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    }
    // record AFTER the rewrites: a mid-retirement crash re-applies on
    // re-run (recording first would let it skip forever). Only ids
    // that actually RESOLVED are recorded — a never-accepted id stays
    // retireable in case its acceptance had simply not landed yet.
    val applied = docs.select(col("doc_id")).distinct()
    val nApplied = applied.count()
    if (nApplied > 0)
      Streams.replaceIdSidecar(spark, retiredPath,
        already.fold(applied)(_.unionByName(applied)).distinct())
    org.apache.spark.sql.GraftColumnBridge
      .checkpointRdd(docs).foreach(_.unpersist(false))
    nApplied
  }

  /** Accepted corpus so far (idempotent-append: replays re-emit rows). */
  def accepted(spark: org.apache.spark.sql.SparkSession,
               acceptedDir: String): DataFrame =
    spark.read.parquet(acceptedDir).drop("__batch_id").distinct()

  /** Reject ledger with one reason per doc. */
  def rejects(spark: org.apache.spark.sql.SparkSession,
              rejectsDir: String): DataFrame =
    spark.read.parquet(rejectsDir).select("doc_id", "reason").distinct()

  /** Accepted-corpus count/sum per group, as of the last committed batch
    * (view-sized read: the fold log re-aggregated, never the corpus). */
  def viewCounts(spark: org.apache.spark.sql.SparkSession,
                 viewsBase: String): DataFrame =
    Streams.readFoldStore(spark, s"$viewsBase/counts", countsSchema)
      .groupBy(col("grp"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_tokens")).as("sum_tokens"))

  /** Accepted-corpus token-length percentiles per group, served from the
    * histogram store's own grid marker. */
  def viewQuantiles(spark: org.apache.spark.sql.SparkSession,
                    viewsBase: String,
                    qs: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame =
    HistogramStream.quantiles(spark, s"$viewsBase/hist", qs)

  /** Distinct accepted fingerprints per group (HLL estimate) — the
    * deduped corpus size each source contributed. */
  def viewDistinct(spark: org.apache.spark.sql.SparkSession,
                   viewsBase: String): DataFrame =
    graft.functions.HllView.distinctBySource(
      HllViewStream.view(spark, s"$viewsBase/hll"))
}
