package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, SketchExpressions}

/** Deduplication operators for training-data pipelines: exact (hash
  * group-by), MinHash+LSH banding, SimHash, and n-gram Jaccard — over the
  * `documents` table.
  *
  * Scale design:
  *  - SimHash signatures are per-row array expressions — a single projection
  *    over the scan, no shuffle, no UDF. MinHash explodes shingles and
  *    computes the k minima as group-by aggregates (see
  *    [[minhashSignatures]]) — partial aggregation keeps the shuffle at
  *    k longs per document.
  *  - Candidate generation shuffles only (doc_id, band_key) pairs — a few
  *    dozen bytes/doc — never document text. The band join is an equi-join
  *    on the band hash, so Catalyst plans a shuffle hash-join partitioned by
  *    band_key; identical docs land in the same partition.
  *  - The shingle self-join for exact Jaccard caps per-shingle document
  *    frequency ([[maxShingleDf]]): ubiquitous shingles ("in the the")
  *    produce O(df²) candidate pairs — the classic skew bomb at 100 TB —
  *    and carry no similarity signal. Dropping them bounds the join fanout.
  *  - All hashes are md5-derived ([[Hashing.hash64]]) so the DuckDB oracle
  *    reproduces them bit-for-bit.
  */
object Dedup {

  /** Exact dedup: group by normalized-text fingerprint, keep the lowest
    * doc_id as canonical. Output one row per distinct content. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp",
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_dups"))

  /** Scan-parallelism floor for CPU-heavy per-document stages (tokenize +
    * md5-per-shingle): repartition by the downstream aggregation key ONLY
    * when the scan yields fewer partitions than the cluster's default
    * parallelism. At 100 TB a parquet scan has thousands of row-group
    * splits and this is a no-op — no full-text shuffle is ever added — but
    * a small single-row-group file would otherwise serialize all hashing on
    * one core. When the shuffle does fire, its key matches the downstream
    * `groupBy(doc_id)`, so hashpartitioning(doc_id) also satisfies the
    * aggregate's required distribution: the post-explode exchange is
    * elided and the net exchange count is unchanged. The explicit partition
    * count keeps AQE from coalescing the tiny-by-bytes (but CPU-dense)
    * partitions back down to one.
    *
    * `bytesPerTask` (r20) sizes the repartition from the INPUT BYTES
    * instead of always fanning to defaultParallelism: a stage whose kernel
    * burns ~0.2 s/MB gets nothing from 32 near-empty partitions — every
    * downstream stage over the spread (or its checkpoint) inherits the
    * partition count and pays the per-task fixed costs 32× (measured: the
    * r20 flat-p spread REGRESSED q_dedup_incremental 0.70 → 1.00 s, whose
    * quarter-corpus sides spread 0.6 MB across 32 tasks). Callers pass a
    * value matched to their kernel's CPU density; the count is always
    * capped at defaultParallelism, so at 8 cores the floor still yields
    * 8-way spreads and at warehouse scale the floor never fires at all.
    * A count not above the scan's own partition count returns `df`
    * itself: a small input sized to one task would otherwise pay a
    * `repartition(1)` shuffle stage that spreads nothing. */
  private[graft] def spreadByKey(df: DataFrame, key: String,
                                 bytesPerTask: Long = 256L << 10): DataFrame =
    spreadParts(df, bytesPerTask).fold(df)(df.repartition(_, col(key)))

  /** The partition count [[spreadByKey]] repartitions `df` to, or None
    * when it returns `df` unchanged. */
  private[graft] def spreadParts(df: DataFrame,
                                 bytesPerTask: Long): Option[Int] =
    // Streaming inputs skip the floor: `.rdd` is illegal on a streaming
    // DataFrame, and a microbatch's scan parallelism comes from its source
    // partitions (Kafka topic partitions at prod scale). Batch callers
    // inside foreachBatch (e.g. NearDupStream) arrive here as batch frames
    // and get the floor as usual.
    if (df.isStreaming) None
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      val scanBytes = fileScanBytes(df)
      val parts = scanBytes
        .map(b => math.min(p.toLong,
          math.max(1L, (b + bytesPerTask - 1) / bytesPerTask)).toInt)
        .getOrElse(p)
      Some(parts).filter(_ > scanPartitions(df, p, scanBytes))
    }

  /** Total FileIndex bytes under `df` when it is a plain scan + narrow ops
    * (Project/Filter) over a file source; None otherwise. Fast-path only
    * for shapes that cannot CHANGE the partitioning — anything else
    * (repartition, join, agg, in-memory leaf) keeps the precise RDD probe
    * in [[scanPartitions]], preserving the referential no-op
    * contract for already-repartitioned inputs (PlanSpec). */
  private[graft] def fileScanBytes(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def walk(plan: LogicalPlan): Option[Long] = plan match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(fs.location.sizeInBytes)
        case _ => None
      }
      case pr: Project => walk(pr.child)
      case f: LFilter => walk(f.child)
      case a: SubqueryAlias => walk(a.child)
      case _ => None
    }
    walk(df.queryExecution.logical)
  }

  /** The partition count `df`'s scan gives at parallelism `p` — the
    * spreadByKey trigger, WITHOUT physically planning the subtree.
    *
    * The old probe (`df.rdd.getNumPartitions`) converted the plan to an
    * RDD, paying full physical planning per call (~30-40 ms on this host,
    * re-paid on every timed bench trial since each run rebuilds its
    * DataFrame). For file-source-backed plans the same count falls out
    * of the FileIndex's total byte size (listing is session-cached, ~0 ms):
    * replicate Spark's own split sizing — `maxSplitBytes =
    * min(maxPartitionBytes, max(openCostInBytes, bytes/p))` — and take
    * the implied partition count. The estimate ignores
    * per-file open-cost packing, which UNDERCOUNTS partitions for
    * many-tiny-file layouts; that errs toward repartitioning, the safe
    * direction for the CPU-dense explode stages this gates (and at real
    * scale bytes/maxSplitBytes >> p, so the floor never fires — exactly
    * the old behavior). Non-file leaves (in-memory microbatch frames,
    * checkpointed RDDs) keep the precise RDD probe: their stats carry no
    * usable size and their physical planning is cheap. `scanBytes` is
    * [[fileScanBytes]] of `df`, taken by the caller so that a caller who
    * also sizes from it walks the plan once. */
  private def scanPartitions(df: DataFrame, p: Int,
                             scanBytes: Option[Long]): Long =
    scanBytes match {
      case Some(bytes) =>
        val conf = df.sparkSession.sessionState.conf
        val maxSplit = math.min(conf.filesMaxPartitionBytes,
          math.max(conf.filesOpenCostInBytes, bytes / math.max(p, 1)))
        math.max(1L, (bytes + maxSplit - 1) / math.max(maxSplit, 1))
      case None => df.rdd.getNumPartitions.toLong
    }

  /** [[spreadByKey]]'s `bytesPerTask` for the n-gram explode stages. */
  private val GramBytesPerTask = 32L << 10

  /** One row per (document, n-gram position) with both 60-bit md5 halves of
    * the shingle ([[Hashing.hash64]]/[[Hashing.hash64Hi]] — one md5, CSE'd).
    *
    * Explode-first on purpose: generating shingles as an array via
    * `transform(sequence(...), i -> toks[i] || ...)` looks natural but is a
    * performance trap — higher-order lambdas are interpreted, and
    * CollapseProject + filter pushdown inline `split(lower(text))` into
    * every element access, re-tokenizing the document O(positions) times.
    * Here tokenization is materialized once per document below the
    * `Generate`, and every downstream expression (concat, md5, conv) is a
    * codegen'd scalar — the whole stage stays in WholeStageCodegen. */
  def shingleRows(docs: DataFrame, n: Int = 3): DataFrame =
    // gram_hashes computes every gram's (h1, h2) in one incremental-digest
    // pass per document (r19) — the old shape exploded a position sequence
    // and paid a per-gram `toks[i] || ' ' || …` concat plus md5-hex +
    // 2×conv(substring) parses; plan shape (tokenize → spread → explode)
    // and all hash values are unchanged (DedupSpec pins kernel parity).
    spreadByKey(docs
      .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("toks"))
      .filter(size(col("toks")) >= n), "doc_id", GramBytesPerTask)
      .select(col("doc_id"),
        explode(SketchExpressions.gramHashes(col("toks"), n)).as("g"))
      .select(col("doc_id"), col("g.h1").as("h1"), col("g.h2").as("h2"))

  /** MinHash signatures: k min-hashes over the shingle set, via
    * Kirsch-Mitzenmacher double hashing (`h_i = h1 + i·h2`, one md5 per
    * shingle), computed by ONE codegen'd pass per document
    * ([[SketchExpressions.minhashSig]]) — no explode, no per-shingle
    * intermediate rows, NO SHUFFLE at all (the previous shape exploded
    * ~(tokens per doc) rows per document and shuffled k partial minima
    * per doc through a groupBy; at a 250k-doc microbatch that was a
    * ~10M-row exchange per batch in the streaming consumers). Bit-parity
    * with the exploded pipeline — same tokenizer, same h1/h2 md5
    * derivations, same `& maskKM` — is pinned by DedupSpec against the
    * inlined legacy formula, so every oracle-checked MinHash surface
    * keeps its values. Sub-n-token documents yield no signature, exactly
    * like the old `size(toks) >= n` filter. */
  def minhashSignatures(docs: DataFrame, k: Int = 16, n: Int = 3): DataFrame =
    // Same scan-parallelism floor as shingleRows (r20): the signature pass
    // is the CPU-dense half of every MinHash surface (one md5 per shingle)
    // and a single-row-group fixture file otherwise computes it all on one
    // core (q_minhash_pairs measured a 414 ms one-task stage at sf0.1). At
    // warehouse scale the scan has thousands of splits and this no-ops.
    spreadByKey(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        SketchExpressions.minhashSig(col("text"), k, n).as("sig"))
      .filter(col("sig").isNotNull)

  /** (doc_id, band_id, band_key) rows of the LSH banding over
    * [[minhashSignatures]] — the joinable index shared by
    * [[minhashCandidatePairs]] (self-join) and [[incrementalDedup]]
    * (new-vs-reference join). localCheckpoint'ed because any join of band
    * rows against band rows otherwise duplicates the whole
    * shingle→minhash pipeline per side (ReuseExchange/AQE stage reuse
    * never fires for self-join subtrees — same finding as
    * ngramJaccardPairs); the checkpointed table is (long, int, hash) —
    * `bands` rows per doc, tiny relative to recomputing signatures. */
  def bandRows(docs: DataFrame, k: Int = 16, bands: Int = 4,
               n: Int = 3): DataFrame =
    bandSigRows(docs, k, bands, n)
      .select(col("doc_id"), col("band_id"), col("band_key"))
      .localCheckpoint(false)

  /** [[bandRows]] with the SIGNATURE riding each band row — the shape
    * the at-ingest consumers ([[graft.streaming.JaccardDupStream]], the
    * ingest guard's near-dup stage) need so the signature-agreement
    * estimate is computed inside the band join itself, with no second
    * join back to a signature table. ONE band-key construction for
    * every MinHash surface — a drifted copy would silently desync a
    * stream's collisions from the batch twin's. NOT checkpointed
    * (callers decide; the streaming consumers checkpoint per batch). */
  def bandSigRows(docs: DataFrame, k: Int = 16, bands: Int = 4,
                  n: Int = 3): DataFrame =
    bandsFromSigs(minhashSignatures(docs, k, n), k, bands)

  /** The banding step of [[bandSigRows]] over an EXISTING `(doc_id, sig)`
    * table — factored out (r20) so a caller that already holds a
    * checkpointed signature table ([[minhashJaccardEstimate]]) derives its
    * bands from it instead of running the signature pipeline a second
    * time. Still the single band-key construction for every MinHash
    * surface. */
  private[graft] def bandsFromSigs(sigs: DataFrame, k: Int,
                                   bands: Int): DataFrame = {
    val rpb = k / bands
    sigs
      .select(col("doc_id"), col("sig"), expr(
        s"""explode(transform(sequence(0, ${bands - 1}), b -> struct(
           |  b AS band_id,
           |  md5(array_join(transform(slice(sig, b * $rpb + 1, $rpb),
           |                           x -> cast(x AS string)), ',')) AS band_key)))"""
          .stripMargin).as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.band_id"), col("band.band_key"))
  }

  /** The signature-agreement Jaccard estimate (E[est] = J, Broder '97)
    * between two k-long signature columns — codegen'd zip_with/aggregate,
    * shared by [[minhashJaccardEstimate]]'s streaming twins. */
  def sigAgreement(k: Int, sigA: String, sigB: String): Column = expr(
    s"""round(aggregate(zip_with($sigA, $sigB,
       |  (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
       |  0, (a, e) -> a + e) / CAST($k AS DOUBLE), 6)""".stripMargin)

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`,
    * hash each band, and emit candidate pairs of documents agreeing on at
    * least one full band. Only (doc_id, band) rows are shuffled. */
  def minhashCandidatePairs(docs: DataFrame, k: Int = 16,
                            bands: Int = 4, n: Int = 3): DataFrame = {
    val rows = bandRows(docs, k, bands, n)
    val a = rows.alias("a")
    val b = rows.alias("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Incremental dedup: flag each NEW document that duplicates the frozen
    * REFERENCE corpus — the v2-crawl-against-v1 membership test a
    * production pipeline runs instead of re-clustering everything
    * ([[canonicalFromPairs]] is the full-recluster form). One row per new
    * doc: `exact_dup` (normalized-text fingerprint seen in the reference,
    * [[exactDedup]]'s rule) and `near_dup` (shares ≥1 MinHash LSH band
    * with some reference doc, [[minhashCandidatePairs]]' rule — exact
    * dups are near dups too, identical text hashes to identical bands).
    *
    * Scale shape: both membership tests are LEFT SEMI equi-joins on
    * hashes — the exact test on the 16-byte fp, the near test on
    * (band_id, band_key) — so the reference corpus text is never read
    * past its own shingling pass and nothing N² ever forms. The reference
    * band table is the natural thing to persist between runs (it is what
    * [[graft.streaming.NearDupStream]] accumulates in streaming form). */
  def incrementalDedup(newDocs: DataFrame, refDocs: DataFrame, k: Int = 16,
                       bands: Int = 4, n: Int = 3): DataFrame = {
    def fps(df: DataFrame) = df.select(col("doc_id"),
      md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("fp"))
    val exactIds = fps(newDocs)
      .join(fps(refDocs).select("fp").distinct(), Seq("fp"), "left_semi")
      .select("doc_id")
    val nearIds = bandRows(newDocs, k, bands, n)
      .join(bandRows(refDocs, k, bands, n).select("band_id", "band_key"),
        Seq("band_id", "band_key"), "left_semi")
      .select("doc_id").distinct()
    newDocs.select(col("doc_id"))
      .join(exactIds.withColumn("e", lit(true)), Seq("doc_id"), "left_outer")
      .join(nearIds.withColumn("nd", lit(true)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_dup"),
        coalesce(col("nd"), lit(false)).as("near_dup"))
  }

  /** [[incrementalDedup]]'s exact membership test with a BLOOM PREFILTER —
    * the shape that wins when the new crawl is enormous and the duplicate
    * rate is low (the production common case: a fresh crawl against last
    * month's corpus re-fetches a few percent).
    *
    * The frozen reference corpus is reduced to a Bloom filter over its
    * normalized-text fingerprints (`stat.bloomFilter` — a treeAggregate of
    * partition-local bitmaps, no row shuffle; ~1.2 MB per million docs at
    * 1% fpp) and probed as a codegen'd projection inside the new-crawl
    * scan ([[graft.functions.BloomMightContain]]). Only bloom survivors —
    * true duplicates plus the fpp tail — reach the exact-confirm semi-join,
    * so the shuffle is proportional to the DUPLICATE count, not the crawl
    * size, and text never leaves its scan on either side. No false
    * negatives (Bloom's guarantee), and the confirm join removes the false
    * positives, so the result is EXACTLY the plain semi-join's — the DuckDB
    * oracle needs no sketch semantics.
    *
    * Membership is on the 60-bit [[Hashing.hash64]] fingerprint (collision
    * odds ~n²/2⁶¹ — negligible below billions of DISTINCT contents, and a
    * collision only ever over-flags a dup, the safe direction for dedup). */
  def incrementalDedupBloom(newDocs: DataFrame, refDocs: DataFrame,
                            expectedRefDocs: Long = 1L << 20,
                            fpp: Double = 0.01): DataFrame = {
    def fps(df: DataFrame) = df
      .select(col("doc_id"),
        regexp_replace(trim(lower(col("text"))), "\\s+", " ").as("nt"))
      .select(col("doc_id"), expr(Hashing.hash64("nt")).as("fp"))
    // lazy localCheckpoint: the bloom build is the materializing job, and
    // the confirm semi-join then reads the cached (doc_id, fp) rows —
    // without it the reference text is scanned + md5'd a second time
    val refFps = fps(refDocs).localCheckpoint(false)
    val bloom = refFps.stat.bloomFilter("fp", expectedRefDocs, fpp)
    val confirmed = fps(newDocs)
      .filter(SketchExpressions.bloomMightContain(col("fp"), bloom))
      .join(refFps.select("fp").distinct(), Seq("fp"), "left_semi")
      .select("doc_id")
    newDocs.select(col("doc_id"))
      .join(confirmed.withColumn("e", lit(true)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("e"), lit(false)).as("exact_dup"))
  }

  /** Pigeonhole byte-bands of a simhash signature table: 4 rows per doc,
    * one per signature byte. Two signatures within Hamming distance 3
    * agree on at least one band. */
  private[graft] def simhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("simhash"),
        explode(expr(
          "transform(sequence(0, 3), b -> struct(b AS band_id, " +
            "CAST(shiftright(simhash, b * 8) & 255 AS INT) AS band_byte))"))
          .as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.band_id"), col("band.band_byte"))

  /** 64-bit simhash — the WIDE-BAND scale path the round-5 scaling smoke
    * motivated: the 32-bit form's 4×8-bit pigeonhole bands give only 256
    * buckets per band, so RANDOM band collisions (and with them candidate
    * join fanout) grow ~N²/256 at fixed width — measurably the steepest
    * curve in the 10× smoke (README "Scaling smoke"). Doubling the
    * signature to 64 bits (two independent md5-derived 32-bit halves —
    * same one-md5-per-token CSE as MinHash's (h1, h2) trick) makes the
    * bands 16-bit: 65,536 buckets per band, pushing the quadratic knee
    * out 256×. One codegen'd pass per document, like [[simhash]].
    *
    * Kept separate from the 32-bit operator (not a default-flip): the
    * oracle SQL and NearDupStream's band_byte partition pruning mirror
    * the 32-bit signature bit-for-bit. */
  def simhashWide(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        SketchExpressions.simhashSig(col("text"), wide = true).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Pigeonhole bands of configurable width over a signature table —
    * 4 bands of `bandBits` each; two signatures within Hamming distance 3
    * agree on at least one band (4 bands, ≤3 flipped bits). */
  private[graft] def simhashBandsN(sig: DataFrame, bandBits: Int): DataFrame =
    sig.select(col("doc_id"), col("simhash"),
        explode(expr(
          s"transform(sequence(0, 3), b -> struct(b AS band_id, " +
            s"CAST(shiftright(simhash, b * $bandBits) & ${(1 << bandBits) - 1} " +
            "AS INT) AS band_byte))"))
          .as("band"))
      .select(col("doc_id"), col("simhash"),
        col("band.band_id"), col("band.band_byte"))

  /** Near-dup pairs over the 64-bit signature with 16-bit bands — the
    * drop-in replacement for [[simhashNearDups]] once corpus size makes
    * the byte-band collision rate (~N²/256 candidate pairs) the
    * bottleneck; same candidates-then-verify shape and shuffle payload
    * (a few dozen bytes per doc, never text). */
  def simhashWideNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = simhashBandsN(simhashWide(docs), 16).localCheckpoint(false)
    val a = bands.alias("a")
    val b = bands.hint("shuffle_hash").alias("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
          col("a.band_byte") === col("b.band_byte") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-duplicate pairs within a Hamming-distance budget.
    * Pigeonhole banding: two 32-bit signatures within Hamming distance 3
    * must agree on at least one of 4 bytes, so candidates come from an
    * equi-join on (band_id, band_byte) — never an N² scan — and the exact
    * `bit_count(xor)` check runs only on candidates. Same
    * candidates-then-verify shape as MinHash banding, but over a per-row
    * signature with no shingle explosion.
    *
    * 32-bit signature / 8-bit-band near-dup pairs. The 256 buckets per
    * band give ~N²/256 random-collision candidate pairs — fine at demo
    * scale, a quadratic knee beyond ~10⁶ docs. **Prefer
    * [[simhashWideNearDups]] (64-bit / 16-bit bands, 65,536 buckets per
    * band) for any real corpus** — it is the documented scale default and
    * carries its own CORRECTNESS entry (`q_simhash_neardup_wide`); this
    * form is kept as the reference-fidelity 32-bit twin. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = simhashBands(simhash(docs))
      // lazy localCheckpoint — see minhashCandidatePairs: without it the
      // token→simhash aggregation pipeline executes once per join side
      .localCheckpoint(false)
    val a = bands.alias("a")
    val b = bands.hint("shuffle_hash").alias("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
          col("a.band_byte") === col("b.band_byte") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Canonical-document assignment from candidate pairs: connected
    * components by min-label propagation, run to a FIXPOINT — a duplicate
    * chain A~B~C canonicalizes every member to A, not just its direct
    * neighbors' minimum (the round-1 single-contraction gap).
    *
    * Scale shape: each iteration is (1) one equi-join of the (8-byte,
    * 8-byte) edge list against the current label table plus a
    * min-aggregate, then (2) a PATH-COMPRESSION self-join on the label
    * table (`l(x) := l(l(x))`, pointer jumping) — so convergence is
    * O(log diameter) rounds, not O(diameter): a 1000-link duplicate chain
    * converges in ~10 rounds. The edge list carries self-loops, so the
    * neighbor minimum already includes the doc's own label and no second
    * label-table join is needed per round. No text is ever shuffled; every
    * join key is a long. Convergence is detected with zero extra jobs: the
    * label sum (strictly decreasing exactly when any label changed — labels
    * are monotone non-increasing) rides the round's checkpoint job as an
    * `observe()` metric.
    *
    * The fixpoint runs over the PAIR-INDUCED SUBGRAPH only: a document that
    * appears in no candidate pair is its own canonical by construction, so
    * carrying it through every propagation round is pure waste — at 100 TB
    * it is the difference between `maxIters` full-corpus shuffles and
    * `maxIters` shuffles over just the near-duplicate cluster members
    * (typically a few percent of the corpus). Untouched documents join the
    * result through a single identity-label anti-join at the end.
    *
    * ADAPTIVE SMALL-SIDE PATH — the broadcast-join analog: when the pair
    * set is below `maxDriverPairs` (known for free from an observe()
    * metric riding the pair checkpoint job), labels come from a driver
    * union-find in one pass
    * instead of ~10 scheduled propagation rounds. Near-dup pair sets are
    * usually orders of magnitude smaller than the corpus, so this is the
    * common case at every scale — and exactly the kind of size-conditional
    * strategy switch Spark itself makes for joins. The distributed
    * fixpoint remains the over-threshold path and is exercised directly in
    * DedupSpec (`maxDriverPairs = 0`), which also asserts both paths
    * produce identical labels. */
  def canonicalFromPairs(docs: DataFrame, pairs: DataFrame,
                         maxIters: Int = 50,
                         maxDriverPairs: Long = 1L << 22): DataFrame = {
    // Eager localCheckpoint (not persist): iteration k's plan references
    // labels_{k-1} TWICE, so without lineage truncation the logical plan
    // doubles every round — O(2^k) analysis memory, a driver OOM by ~10
    // iterations. Checkpointing makes each round's input a leaf: constant
    // plan size, constant analysis cost. (On a multi-executor cluster,
    // swap for reliable `checkpoint()` against the checkpoint dir if
    // executor loss during the loop must be survivable.)
    def release(ds: DataFrame): Unit =
      org.apache.spark.sql.GraftColumnBridge.checkpointRdd(ds)
        .foreach(_.unpersist(false))
    // Checkpoint the PAIRS, not the exploded edge list (r20): the driver
    // path collects exactly the pair rows, the distributed path re-derives
    // its edges from the cached pairs with a per-job explode (a projection
    // over the cached RDD — trivial CPU, no extra job), and the cached
    // footprint is 1/4 the rows. The pair COUNT rides the checkpoint job
    // as an observe() metric (same task-side-accumulator trick as the
    // fixpoint's convergence signal below), so the separate edges.count()
    // job the r19 shape paid per call is gone.
    val observed = pairs.select(col("doc_a"), col("doc_b"))
      .observe("pairs", count(lit(1)).as("n"))
    val pairsCk = observed.localCheckpoint(true)
    val nPairs: Long = observed.queryExecution.observedMetrics.get("pairs")
      .map(_.getLong(0))
      // metric missing would be a Spark-internals change; fall back to the
      // cached-RDD count rather than guessing a path
      .getOrElse(pairsCk.count())
    if (nPairs <= maxDriverPairs) {
      val labels = driverUnionFind(
        pairsCk.collect().map(r => (r.getLong(0), r.getLong(1))))
      release(pairsCk)
      val spark = docs.sparkSession
      import spark.implicits._
      // tiny relation: Catalyst broadcasts it into the anti-join below.
      // coalesce(1): a LocalTableScan otherwise parallelizes its handful
      // of driver rows across defaultParallelism slices, and every slice
      // of any DOWNSTREAM exchange pays the per-map-task shuffle-write
      // setup (q_cluster_sizes measured 3.2 s of executor time writing a
      // 77 KB exchange from 32 near-empty union slices). The table is
      // driver-memory-bounded by construction (≤ maxDriverPairs rows), so
      // one partition is right at any scale.
      val labelDf = labels.toSeq.toDF("doc_id", "canonical_id").coalesce(1)
      val untouched = docs.select(col("doc_id"))
        .join(labelDf, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("canonical_id"))
      return labelDf.union(untouched)
    }
    // Both directions PLUS self-loops: with (x, x) present, each round's
    // min-over-neighbor-labels already includes the doc's own label, so the
    // propagation step is a single edge⋈label join + aggregate — no second
    // join back against the label table. Duplicate edges are harmless
    // under `min`, so no distinct pass is spent on them.
    //
    // explode over the checkpointed pairs, NOT a 4-way union of selects
    // over `pairs`: the union form duplicated the whole candidate
    // generation subtree (band self-join + distinct — the expensive part)
    // FOUR times, since neither ReuseExchange nor AQE dedupes sibling
    // union branches (r19; the same one-subtree-per-plan finding as
    // bandRows' localCheckpoint).
    val edges = pairsCk.select(explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("nbr")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("nbr")),
        struct(col("doc_a").as("doc_id"), col("doc_a").as("nbr")),
        struct(col("doc_b").as("doc_id"), col("doc_b").as("nbr")))).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.nbr").as("nbr"))
    // Initial labels fuse round 1's propagation into the init aggregate:
    // with l0(x) = x, the first round's min-over-neighbors is just
    // min(nbr), which the self-loops already cap at the doc's own id — one
    // groupBy over the edge list, no join, and one fewer loop round. The
    // groupBy also IS the distinct paired-doc set.
    var labels = edges.groupBy(col("doc_id"))
      .agg(min(col("nbr")).as("canonical_id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    var prevSum: Option[Any] = None
    while (iter < maxIters && !converged) {
      val prev = labels
      // (1) min over own + neighbors' labels (self-loops make this total
      // over the label table and cover the "own label" term).
      // Lazy checkpoint: still a lineage barrier (constant plan size) and a
      // single materialization shared by both sides of the compression
      // self-join below, but fused into that join's job — one eager
      // checkpoint job per round instead of two.
      val stepped = edges.join(
        labels.select(col("doc_id").as("nbr"), col("canonical_id").as("nbr_label")),
        "nbr")
        .groupBy(col("doc_id"))
        .agg(min(col("nbr_label")).as("__l1"))
        .localCheckpoint(false)
      // (2) path compression: l(x) := l(l(x)). Labels are monotonically
      // non-increasing and always reference a live doc_id, so the inner
      // self-join is total and l(l(x)) <= l(x). (A second compression hop
      // per round was tried and reverted: on banding-output topologies it
      // measurably changed nothing — the bottleneck is min-information
      // propagation along edges, one hop per round — while the extra
      // un-checkpointed join-of-join deadlocked AQE at higher iteration
      // counts.)
      val parents = stepped.select(col("doc_id").as("__p"), col("__l1").as("__pl"))
      // Convergence signal rides the checkpoint job as an observe() metric
      // (task-side accumulator) — no separate probe job per round. Labels
      // only ever decrease, so the label sum is strictly smaller iff any
      // label changed; DECIMAL(38,0) keeps the sum exact at any corpus
      // size.
      val projected = stepped.join(parents, col("__l1") === col("__p"))
        .select(col("doc_id"), col("__pl").as("canonical_id"))
        .observe("cc", sum(col("canonical_id").cast("decimal(38,0)")).as("label_sum"))
      val next = projected.localCheckpoint(true)
      val sumNow: Option[Any] =
        projected.queryExecution.observedMetrics.get("cc").map(_.get(0))
      // Unpersist the underlying checkpoint RDDs directly —
      // Dataset.unpersist() does not reach a localCheckpoint's RDD, which
      // would otherwise accumulate one cached block set per round until the
      // ContextCleaner got around to it.
      release(prev); release(stepped)
      labels = next
      converged = prevSum.nonEmpty && prevSum == sumNow
      prevSum = sumNow
      iter += 1
    }
    release(pairsCk)
    // Docs untouched by any pair are their own canonical; they never enter
    // the loop. (The final `labels` checkpoint stays cached — it backs both
    // branches of the returned plan — and is reclaimed by the
    // ContextCleaner when the result is dropped.)
    val untouched = docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("canonical_id"))
    labels.union(untouched)
  }

  /** Path-compressed union-find over a collected pair list: doc_id →
    * minimum doc_id of its connected component. The driver-side half of
    * [[canonicalFromPairs]]'s adaptive strategy; O(pairs · α) time,
    * O(touched docs) memory. Union-by-minimum keeps the invariant that a
    * root is its component's smallest id, so no relabeling pass is
    * needed. */
  private[operators] def driverUnionFind(
      pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val next = parent(c); parent(c) = r; c = next
      }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** 32-bit SimHash over the token bag: per bit, sum ±1 contributions of
    * each token's hash bit; the signature bit is the sign of the sum.
    * Near-duplicates then differ in few bits (Hamming distance).
    *
    * ONE codegen'd pass per document ([[SketchExpressions.simhashSig]] —
    * one md5 per token, vote array on the stack): no explode, no
    * 32-aggregate groupBy, no shuffle, and a 32-term-smaller plan to
    * analyze per trial. Replaces the explode-first form (itself a fix of
    * the O(32·tokens) interpreted-lambda original); bit sums are
    * order-independent and the kernel is bit-parity-pinned in DedupSpec
    * against the inlined aggregate formula, so results are identical. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        SketchExpressions.simhashSig(col("text"), wide = false).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Exact-dedup survivor ids: fingerprint → min(doc_id) as a GROUP-BY
    * aggregate, so the shuffle carries (16-byte fp, 8-byte id) rows only.
    * This replaced a `min(doc_id).over(Window.partitionBy(fp))` form whose
    * exchange hash-shuffled full document text on fp — at 100 TB a
    * full-corpus text shuffle, and the reason q_clean_corpus cost 7.6 s at
    * sf0.1 while the same CC fixpoint elsewhere ran in 1 s. PlanSpec locks
    * the no-text-in-shuffle / no-Window shape. */
  private[graft] def exactSurvivorIds(kept: DataFrame): DataFrame =
    kept
      .select(col("doc_id"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** The composed corpus-cleaning pipeline a pretraining dataset runs:
    * quality gate → PII redaction → exact-dup removal → near-dup
    * canonicalization → keep only canonical survivors. Each stage is one of
    * the operators above; the composition stays a single Catalyst plan
    * (filters push into the scan, the only shuffles are the two dedup
    * stages' hash-partitioned candidate/canonical steps). */
  def cleanCorpus(docs: DataFrame, minTokens: Int = 5,
                  maxPunctRatio: Double = 0.3): DataFrame = {
    // Quality gate as a pure filter: withQualityCols keeps the input
    // columns, so no docs⋈quality self-join (which re-tokenized both sides
    // and planned a real join). Lazy localCheckpoint: `kept` feeds the
    // fingerprint aggregate, the survivor semi-join, and the final
    // canonical join — without it the scan + tokenize + filter prefix
    // executes three times. (The checkpoint blocks are reclaimed by the
    // ContextCleaner when the result is dropped, same contract as
    // canonicalFromPairs' final label table.)
    val kept = TextAnalysis.qualityKept(docs, minTokens, maxPunctRatio)
      .select("doc_id", "text")
      .localCheckpoint(false)
    // Survivor selection is an id-only semi-join: the aggregate's survivor
    // set is one row per distinct content, which AQE broadcasts at
    // moderate scale; when it is too big to broadcast the shuffle carries
    // 8-byte ids on the build side — text stays in place either way.
    val exactCanonical = kept
      .join(exactSurvivorIds(kept), Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    val canon = canonicalFromPairs(exactCanonical,
      minhashCandidatePairs(exactCanonical))
      .filter(col("doc_id") === col("canonical_id"))
      .select("doc_id")
    TextAnalysis.redactPii(kept.join(canon, "doc_id"))
  }

  /** [[incrementalDedup]]'s NEAR-dup membership test with a Bloom
    * prefilter over the reference BAND KEYS — the sketch-composition form:
    * where [[incrementalDedupBloom]] sketches exact fingerprints, this
    * sketches the MinHash LSH band table, so the new crawl's band rows are
    * pruned in-scan before the (band_id, band_key) semi-join. Bloom
    * false positives are removed by the confirm join and Bloom has no
    * false negatives, so the result EXACTLY equals [[incrementalDedup]]'s
    * `near_dup` flag — same oracle, sketch purely an execution detail.
    * The persisted reference artifact is one ~1.2 MB filter per million
    * band rows instead of the full band table. */
  def incrementalNearDupBloom(newDocs: DataFrame, refDocs: DataFrame,
                              k: Int = 16, bands: Int = 4, n: Int = 3,
                              expectedRefBands: Long = 1L << 20,
                              fpp: Double = 0.01): DataFrame = {
    def keyed(df: DataFrame) = bandRows(df, k, bands, n)
      .select(col("doc_id"), expr(
        Hashing.hash64("concat(cast(band_id AS string), ':', band_key)"))
        .as("bk"))
    val refKeys = keyed(refDocs)
    val bloom = refKeys.stat.bloomFilter("bk", expectedRefBands, fpp)
    val nearIds = keyed(newDocs)
      .filter(SketchExpressions.bloomMightContain(col("bk"), bloom))
      .join(refKeys.select("bk").distinct(), Seq("bk"), "left_semi")
      .select("doc_id").distinct()
    newDocs.select(col("doc_id"))
      .join(nearIds.withColumn("nd", lit(true)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("nd"), lit(false)).as("near_dup"))
  }

  /** Canonical selection by QUALITY: like [[canonicalFromPairs]] the
    * candidate pairs induce duplicate clusters, but the kept member is the
    * highest-QUALITY one (ties → lowest doc_id), not the lowest id — the
    * rule a production pipeline actually wants ("of these five mirrors of
    * the same article, keep the cleanest copy"). Emits every clustered
    * doc with its cluster label, score, and a `keep` flag so the survivor
    * choice is auditable.
    *
    * Scale shape: cluster labels come from the same hash-only fixpoint as
    * [[canonicalFromPairs]]; the quality table joins on doc_id and the
    * winner is a rank window PARTITIONED by cluster — (8-byte, 8-byte,
    * double) rows through every exchange, text untouched. */
  def canonicalByQuality(docs: DataFrame, pairs: DataFrame,
                         quality: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    canonicalFromPairs(docs, pairs)
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
      .join(quality.select(col("doc_id"), col("quality_score")), "doc_id")
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
  }

  /** Duplicate-cluster SIZE DISTRIBUTION — the dedup health report
    * ("how much of the corpus sits in clusters of 2? of 100?") a pipeline
    * owner reads before choosing dedup thresholds: cluster sizes from
    * [[canonicalFromPairs]], rolled up to (cluster_size, n_clusters,
    * n_docs). Two tiny aggregates downstream of the hash-only fixpoint;
    * nothing here ever exceeds (8-byte, 8-byte) rows. */
  def clusterSizeDistribution(docs: DataFrame, pairs: DataFrame): DataFrame =
    canonicalFromPairs(docs, pairs)
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))

  /** MinHash Jaccard ESTIMATE for candidate pairs: the fraction of
    * agreeing signature positions — the cheap score an LSH pipeline uses
    * to rank/threshold candidates before (or instead of) the exact
    * shingle-set verify ([[ngramJaccardPairs]] is the exact form; E[est] =
    * true Jaccard by the MinHash property, σ = √(J(1−J)/k)).
    *
    * The signature table is localCheckpoint'ed and joined twice (a/b side
    * of each pair) — k longs per doc, so the pair join shuffles 2k longs
    * per candidate and the per-pair compare is a k-element loop, never a
    * shingle-set intersection. */
  def minhashJaccardEstimate(docs: DataFrame, k: Int = 16, bands: Int = 4,
                             n: Int = 3): DataFrame = {
    val sigs = minhashSignatures(docs, k, n).localCheckpoint(false)
    // Candidate pairs from bands DERIVED FROM THE CACHED SIGNATURES (r20):
    // calling minhashCandidatePairs(docs, …) here ran the whole signature
    // pipeline a second time inside bandRows (ReuseExchange never dedupes
    // the two sibling subtrees — the same finding that motivated bandRows'
    // own checkpoint). Same band construction, same join, same distinct —
    // identical pairs, one signature pass.
    val rows = bandsFromSigs(sigs, k, bands)
      .select(col("doc_id"), col("band_id"), col("band_key"))
      .localCheckpoint(false)
    val pairs = rows.alias("a").join(rows.alias("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), expr(
        s"""round(aggregate(zip_with(sig_a, sig_b,
           |  (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
           |  0, (a, e) -> a + e) / CAST($k AS DOUBLE), 6)""".stripMargin)
        .as("est_jaccard"))
  }

  /** Benchmark DECONTAMINATION: flag every training document sharing at
    * least one (more than `maxOverlap`) n-gram with the evaluation set —
    * the standard guard against eval leakage into a pretraining corpus.
    *
    * Scale shape: the eval set is tiny relative to the corpus (thousands
    * of benchmark documents vs billions of training docs), so its distinct
    * shingle hashes are BROADCAST; the corpus side is one shingle
    * projection + a broadcast join + per-doc count — the unbounded corpus
    * is never shuffled by the membership test itself, only the (doc_id,
    * 8-byte hash) distinct/count aggregation. Overlap counts are over
    * DISTINCT shingles so a repeated phrase cannot inflate the score. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                    maxOverlap: Long = 0L): DataFrame = {
    val evalSh = broadcast(
      shingleRows(evalDocs, n).select(col("h1").as("s")).distinct())
    val overlap = shingleRows(docs, n)
      .select(col("doc_id"), col("h1").as("s")).distinct()
      .join(evalSh, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
    docs.select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated",
        (col("n_overlap") > maxOverlap).cast("int"))
  }

  /** In-scan twin of [[decontaminate]]: identical output, different
    * physical strategy — the eval set's distinct shingle hashes collect
    * into ONE sorted array (bounded: eval benchmarks are small by
    * construction; 1M shingles = 8 MB, well under broadcast scale) and
    * every document is scored by the codegen'd
    * [[graft.functions.SketchExpressions.shingleOverlap]] probe in the
    * scan projection. No shuffle, no join, no per-doc distinct — and
    * because the expression is STATELESS it runs unchanged on a streaming
    * DataFrame in append mode: the ingest-time decontamination guard,
    * with the batch semi-join form kept for eval sets too big to ship as
    * a plan constant. */
  def decontaminateScan(docs: DataFrame, evalDocs: DataFrame, n: Int = 3,
                        maxOverlap: Long = 0L): DataFrame = {
    val hashes = shingleRows(evalDocs, n).select(col("h1"))
      .distinct().collect().map(_.getLong(0)).sorted
    docs.select(col("doc_id"),
        SketchExpressions.shingleOverlap(col("text"), hashes, n)
          .as("n_overlap"))
      .withColumn("contaminated",
        (col("n_overlap") > maxOverlap).cast("int"))
  }

  /** In-scan twin of [[contaminationFraction]]: numerator and denominator
    * from ONE codegen'd gram pass
    * ([[graft.functions.SketchExpressions.shingleStats]]) — no shuffle,
    * no per-doc distinct exchange, streaming-capable like
    * [[decontaminateScan]]. */
  def contaminationFractionScan(docs: DataFrame, evalDocs: DataFrame,
                                n: Int = 3): DataFrame = {
    val hashes = shingleRows(evalDocs, n).select(col("h1"))
      .distinct().collect().map(_.getLong(0)).sorted
    docs.select(col("doc_id"),
        SketchExpressions.shingleStats(col("text"), hashes, n).as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_shingles"),
        col("st").getItem(1).as("n_overlap"),
        round(col("st").getItem(1).cast("double") /
          greatest(col("st").getItem(0), lit(1L)).cast("double"), 6)
          .as("overlap_frac"))
  }

  /** Graded twin of [[decontaminate]]: instead of a boolean flag, the
    * FRACTION of each document's distinct n-gram shingles that appear in
    * the eval set — the number a decontamination policy actually
    * thresholds on (Brown et al. 2020 drop at 13-gram overlap; graded
    * scores let the threshold be tuned post-hoc without re-scanning).
    * Identical scale shape to the boolean form: eval shingles broadcast,
    * one corpus shingle projection, the LEFT join preserves every corpus
    * shingle so numerator and denominator come out of ONE doc_id rollup. */
  def contaminationFraction(docs: DataFrame, evalDocs: DataFrame,
                            n: Int = 3): DataFrame = {
    val evalSh = broadcast(
      shingleRows(evalDocs, n).select(col("h1").as("s")).distinct()
        .withColumn("hit", lit(1)))
    val stats = shingleRows(docs, n)
      .select(col("doc_id"), col("h1").as("s")).distinct()
      .join(evalSh, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
    docs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L))
            .cast("double"), 6).as("overlap_frac"))
  }

  /** Skew guard for the shingle self-join: shingles appearing in more
    * documents than this are dropped before pairing. */
  val maxShingleDf = 100

  /** Exact n-gram Jaccard similarity for candidate pairs sharing at least
    * one (non-ubiquitous) shingle. Inverted-index self-join pattern:
    * explode → equi-join on shingle → per-pair intersection counts. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
                        threshold: Double = 0.2): DataFrame = {
    // Inverted-index self-join on the 60-bit shingle hash — 8-byte join
    // keys, long comparisons, and a shuffle that never carries text.
    // Set size and document frequency come from two stacked window counts:
    // the df window's exchange leaves `ef` hash-partitioned by `s`, which is
    // exactly the join's required distribution, and both join sides are the
    // identical subtree, so ReuseExchange evaluates it once.
    // repartition by doc_id up front: hashpartitioning(doc_id) satisfies
    // the clustered distribution of BOTH the (doc_id, s) distinct and the
    // sz window — one exchange where the naive plan takes two. When
    // shingleRows' scan-parallelism floor fired (the same spreadParts
    // decision), the rows already arrive doc_id-partitioned and adding the
    // explicit repartition would just shuffle them a second time.
    val spreadFired = spreadParts(docs, GramBytesPerTask).isDefined
    val base = shingleRows(docs, n).select(col("doc_id"), col("h1").as("s"))
    val e = (if (spreadFired) base else base.repartition(col("doc_id")))
      .distinct()
    val ef = e
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("df") <= maxShingleDf)
      .select("doc_id", "sz", "s")
      // Lazy localCheckpoint: self-joining the same `val` still DUPLICATES
      // the logical subtree — verified at runtime that neither ReuseExchange
      // nor AQE stage reuse fires for this shape (round-1 verdict item 4),
      // so without this the whole shingle+window pipeline executed twice.
      // The checkpoint materializes the filtered inverted index ONCE
      // (8-byte-hash rows only, MEMORY_AND_DISK, spill-safe); both join
      // sides scan that RDD. PlanSpec locks the single-execution shape.
      .localCheckpoint(false)
    // shuffle_hash (not broadcast): at 100 TB the candidate table exceeds
    // any broadcast threshold, and a broadcast build would pull the index
    // to the driver.
    val a = ef.alias("a")
    val b = ef.hint("shuffle_hash").alias("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter") * lit(1.0) / (col("sza") + col("szb") - col("inter")), 6))
      .filter(col("jaccard") > threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** One row per (document, k-gram position): `(doc_id, i, h1, h2)` with
    * both 60-bit md5 halves of the k-token gram starting at token `i`
    * (0-based). Same explode-first shape as [[shingleRows]] — tokenization
    * materialized once per document below the `Generate`, every downstream
    * expression codegen'd — but the position survives, because substring
    * dedup needs to know WHERE the duplicate sits, not just that it
    * exists. */
  private[graft] def positionalGramRows(docs: DataFrame, k: Int): DataFrame =
    // same one-pass gram_hashes kernel as [[shingleRows]] (r19), position
    // kept — substring dedup needs WHERE the duplicate sits
    spreadByKey(docs
      .select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("toks"))
      .filter(size(col("toks")) >= k), "doc_id", GramBytesPerTask)
      .select(col("doc_id"),
        explode(SketchExpressions.gramHashes(col("toks"), k)).as("g"))
      .select(col("doc_id"), col("g.i").as("i"),
        col("g.h1").as("h1"), col("g.h2").as("h2"))

  /** Exact substring-level dedup, detection half: the maximal cross-corpus
    * duplicated token spans of each document — the sliding-window form of
    * Lee et al. 2021 (arXiv:2107.06499)'s suffix-array ExactSubstr pass,
    * of which [[TextAnalysis.dedupPassages]] is the coarser fixed-grid
    * approximation. A position `i` is duplicated when its k-token gram
    * occurs at least twice in the corpus; with `keepFirst` (the paper's
    * "keep one occurrence"), the globally-first occurrence — min
    * `(doc_id, i)` — is exempt. Runs of duplicated positions whose token
    * intervals `[i, i+k)` overlap or touch merge into one maximal span.
    *
    * Scale shape:
    *  - Grams (tokenize + md5 — the dominant CPU) are computed ONCE and
    *    shuffled ONCE: occurrence count and the first-occurrence witness
    *    are two full-frame window aggregates over the same
    *    `(h1, h2) ORDER BY (doc_id, i)` spec, so Catalyst plans a single
    *    sort + Window pass. The alternative — `groupBy(h1, h2)` + join the
    *    dup-gram table back to positions — re-executes the gram subtree on
    *    both sides (ReuseExchange never fires across an aggregate; same
    *    finding as [[bandRows]]) and shuffles the positions twice; measured
    *    2.4× slower at sf0.1.
    *  - WindowExec buffers each gram group in a spillable
    *    ExternalAppendOnlyUnsafeRowArray, so a boilerplate heavy-hitter
    *    gram with 10⁸ occurrences spills to local disk instead of OOMing —
    *    the skew tail degrades to sequential I/O, never to failure, and
    *    rows are 24 bytes (two longs + int), never text.
    *  - Interval merge is a per-document window (gaps-and-islands over a
    *    running `max(i + k)`), bounded by document length — the only
    *    per-doc state, exactly parallel across documents.
    *
    * Output: `(doc_id, span_start, span_tokens, n_grams)` — token offsets
    * of each maximal duplicated span plus the duplicated-gram count merged
    * into it. */
  def duplicateSpans(docs: DataFrame, k: Int = 8,
                     keepFirst: Boolean = true): DataFrame =
    mergeSpans(flaggedPositions(positionalGramRows(docs, k), keepFirst), k)

  /** Detection stage of [[duplicateSpans]], exposed for the streaming twin
    * ([[graft.streaming.SubstrDedupStream]]): duplicated `(doc_id, i)`
    * positions of a positional-gram table, globally-first occurrence
    * exempt when `keepFirst`. */
  private[graft] def flaggedPositions(grams: DataFrame,
                                      keepFirst: Boolean): DataFrame = {
    val byGram = Window.partitionBy("h1", "h2").orderBy("doc_id", "i")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grams
      .withColumn("occ", count(lit(1)).over(byGram))
      .withColumn("first_occ",
        min(struct(col("doc_id"), col("i"))).over(byGram))
      .filter(col("occ") >= 2 &&
        (if (keepFirst)
          !(col("doc_id") === col("first_occ.doc_id") &&
            col("i") === col("first_occ.i"))
        else lit(true)))
      .select(col("doc_id"), col("i"))
  }

  /** Incremental exact substring dedup: maximal spans of NEW documents
    * duplicating the REFERENCE corpus — or earlier new documents — at the
    * k-gram level. The batch/incremental split mirrors
    * [[incrementalDedup]]: the reference's grams are the already-ingested
    * canon, so every reference occurrence ranks before any new one and is
    * never flagged; within the new batch, the first occurrence is exempt
    * exactly as in [[duplicateSpans]]. Implemented as the same one-sort
    * window pass with a tier column (reference = 0, new = 1) prepended to
    * the `(doc_id, i)` order — no second shuffle, no join against the
    * reference. Output: [[duplicateSpans]]-shaped rows for new docs only. */
  def duplicateSpansAgainst(newDocs: DataFrame, refDocs: DataFrame,
                            k: Int = 8): DataFrame = {
    val grams = positionalGramRows(newDocs, k).withColumn("tier", lit(1))
      .unionByName(
        positionalGramRows(refDocs, k).withColumn("tier", lit(0)))
    val byGram = Window.partitionBy("h1", "h2")
      .orderBy("tier", "doc_id", "i")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val dupPos = grams
      .withColumn("occ", count(lit(1)).over(byGram))
      .withColumn("first_occ",
        min(struct(col("tier"), col("doc_id"), col("i"))).over(byGram))
      .filter(col("tier") === 1 && col("occ") >= 2 &&
        !(col("first_occ.tier") === 1 &&
          col("doc_id") === col("first_occ.doc_id") &&
          col("i") === col("first_occ.i")))
      .select(col("doc_id"), col("i"))
    mergeSpans(dupPos, k)
  }

  /** Gaps-and-islands interval merge shared by the substring-dedup family:
    * duplicated gram positions `(doc_id, i)` → maximal merged spans
    * `[i, i+k)` per document. Per-document window, bounded by document
    * length. */
  private[graft] def mergeSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val preceding = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    dupPos
      .withColumn("prev_end", max(col("i") + lit(k)).over(preceding))
      .withColumn("is_start",
        when(col("prev_end").isNull || col("i") > col("prev_end"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("is_start")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).cast("int").as("span_start"),
        (max(col("i")) + lit(k) - min(col("i"))).cast("int").as("span_tokens"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_tokens", "n_grams")
  }

  /** Corpus health report for substring-level duplication — the
    * [[clusterSizeDistribution]] analog for the ExactSubstr family: how
    * much of the corpus is duplicated text, before committing to a trim.
    * One row: `(n_docs, docs_with_spans, n_spans, dup_tokens,
    * total_tokens, dup_token_frac)`. Both inputs reduce to 1-row
    * aggregates before the crossJoin — a broadcast of singletons, the same
    * share-of-total shape as the TPC-H Q11 HAVING total. */
  def substrDedupStats(docs: DataFrame, k: Int = 8): DataFrame = {
    val spanAgg = duplicateSpans(docs, k).agg(
      countDistinct(col("doc_id")).as("docs_with_spans"),
      count(lit(1)).as("n_spans"),
      coalesce(sum(col("span_tokens").cast("long")), lit(0L))
        .as("dup_tokens"))
    val docAgg = docs
      .select(size(expr(TextAnalysis.tokensExpr)).cast("long").as("n"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
    docAgg.crossJoin(spanAgg)
      .select(col("n_docs"), col("docs_with_spans"), col("n_spans"),
        col("dup_tokens"), col("total_tokens"),
        round(col("dup_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("dup_token_frac"))
  }

  /** Exact substring-level dedup, removal half: drop every token covered by
    * a [[duplicateSpans]] span (first occurrence kept) and re-assemble the
    * survivors in order. The span list joins back to the corpus as
    * per-document `(start, end)` structs — a handful of ints per doc — and
    * the token filter is a single per-row lambda; document text crosses no
    * exchange (the join key is `doc_id` and the spans side is the small
    * one). Output: `(doc_id, n_tokens, n_removed, text_clean)`. */
  def trimDuplicateSpans(docs: DataFrame, k: Int = 8): DataFrame =
    applySpans(docs, duplicateSpans(docs, k))

  /** Apply a span ledger (any [[duplicateSpans]]-shaped frame — the batch
    * operator's output or a streaming ledger from
    * [[graft.streaming.SubstrDedupStream.spans]]) to its corpus: remove
    * covered tokens, re-assemble survivors in order. */
  def applySpans(docs: DataFrame, spanLedger: DataFrame): DataFrame = {
    val spans = spanLedger
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
          (col("span_start") + col("span_tokens")).as("e"))).as("spans"),
        sum(col("span_tokens").cast("long")).as("n_removed"))
    docs.select(col("doc_id"), expr(TextAnalysis.tokensExpr).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        expr("""array_join(
          filter(toks, (t, idx) ->
            spans IS NULL OR
            NOT exists(spans, sp -> idx >= sp.s AND idx < sp.e)), ' ')""")
          .as("text_clean"))
  }

  /** Edit-distance (Levenshtein) near-dup pairs over a fixed-length
    * document prefix — the fuzzy-title/boilerplate dedup modality the
    * token-set methods (MinHash Jaccard, SimHash) cannot express: those
    * see "the cat sat" / "the cat sats" as near-identical SETS, but only
    * edit distance bounds character-level noise (OCR errors, mojibake,
    * version strings) with a hard guarantee.
    *
    * The naive form is an O(n²) cross join with a DP per pair — dead at
    * any scale. Candidate generation is the pigeonhole partition scheme
    * of PassJoin (Li, Deng, Feng & Wang, "PASS-JOIN: A Partition-based
    * Method for Similarity Joins", VLDB 2012): split each P-char prefix
    * into `k+1` contiguous segments — with ≤ k edits, SOME segment is
    * untouched (pigeonhole), and an untouched segment of one string
    * appears VERBATIM in the other at a start position shifted by at
    * most ±k (the net indel balance before it). So the index side emits
    * its k+1 segments, the probe side emits the substrings at each
    * segment's position ± k, and candidates come from one EQUI join on
    * `(segment_index, segment_text)` — ~13-char exact-match keys, which
    * stay selective even on a tiny shared vocabulary where short-gram
    * filters (Gravano 2001 count filtering) degenerate toward n²
    * (measured here: the q=2 gram-count form cost 58 s at sf0.1 on the
    * 31-token fixture vocabulary; this form runs in well under a
    * second). Only distinct candidate pairs pay the exact `levenshtein`
    * DP. No false negatives — the lemma is a hard bound.
    *
    * Scale shape: index `k+1` rows/doc, probe ≤ `(k+1)(2k+1)` rows/doc —
    * both linear projections; the join hash-partitions on long
    * segment keys; the quadratic risk is confined to docs sharing an
    * identical aligned segment, i.e. (near-)duplicates themselves.
    * Output: `(doc_a, doc_b, dist)`, `doc_a < doc_b`, `dist ≤ k`. */
  def editDistancePairs(docs: DataFrame, k: Int = 2,
                        prefixLen: Int = 40): DataFrame = {
    val keys = prefixKeys(docs, prefixLen)
    val index = passjoinIndex(keys, k, prefixLen)
      .withColumnRenamed("doc_id", "doc_b")
    val probe = passjoinProbe(keys, k, prefixLen)
      .withColumnRenamed("doc_id", "doc_a")
    val candidates = probe.join(index, Seq("i", "sub"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val a = keys.select(col("doc_id").as("doc_a"), col("s").as("sa"))
    val b = keys.select(col("doc_id").as("doc_b"), col("s").as("sb"))
    candidates.join(a, "doc_a").join(b, "doc_b")
      .withColumn("dist", levenshtein(col("sa"), col("sb")))
      .filter(col("dist") <= k)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** The PassJoin comparison key: `(doc_id, s)` with `s` the fixed-length
    * prefix; docs shorter than `prefixLen` do not participate. */
  def prefixKeys(docs: DataFrame, prefixLen: Int): DataFrame =
    docs.filter(length(col("text")) >= prefixLen)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("s"))

  private def segmentation(k: Int, prefixLen: Int): (Array[Int], Array[Int]) = {
    require(k >= 0 && prefixLen >= (k + 1) * 2,
      "need k >= 0 and prefixLen >= 2(k+1) so every segment is non-trivial")
    val nSeg = k + 1
    // contiguous cover: first (prefixLen % nSeg) segments get the extra char
    val lens = Array.tabulate(nSeg)(i =>
      prefixLen / nSeg + (if (i < prefixLen % nSeg) 1 else 0))
    (lens, lens.scanLeft(1)(_ + _).init) // 1-based starts
  }

  /** PassJoin index side: each key's `k+1` segments as `(doc_id, i, sub)`
    * — the rows an inverted index (or a streaming store) holds. */
  def passjoinIndex(keys: DataFrame, k: Int, prefixLen: Int): DataFrame = {
    val (lens, starts) = segmentation(k, prefixLen)
    val segCols = lens.indices.map { i =>
      struct(lit(i).as("i"),
        expr(s"substring(s, ${starts(i)}, ${lens(i)})").as("sub"))
    }
    keys.select(col("doc_id"), explode(array(segCols: _*)).as("seg"))
      .select(col("doc_id"), col("seg.i").as("i"), col("seg.sub").as("sub"))
  }

  /** PassJoin probe side: for each segment position, the key's substrings
    * at that position shifted by up to ±k (in-bounds only) — any string
    * within edit distance k of the key has SOME index segment among
    * these. */
  def passjoinProbe(keys: DataFrame, k: Int, prefixLen: Int): DataFrame = {
    val (lens, starts) = segmentation(k, prefixLen)
    val probeCols = for {
      i <- lens.indices
      d <- -k to k
      st = starts(i) + d
      if st >= 1 && st + lens(i) - 1 <= prefixLen
    } yield struct(lit(i).as("i"),
      expr(s"substring(s, $st, ${lens(i)})").as("sub"))
    keys.select(col("doc_id"), explode(array(probeCols: _*)).as("seg"))
      .select(col("doc_id"), col("seg.i").as("i"), col("seg.sub").as("sub"))
  }
}
