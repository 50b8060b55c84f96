package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Redaction
import graft.operators.DedupIndex
import graft.queries.Dedup

/** The corpus-curation gates as a STREAMING intake — the shape a crawler
  * feed takes before it lands in the corpus store, mirroring CorpusMain's
  * batch funnel stage for stage where streaming semantics allow:
  *
  *  - exact dedup → `dropDuplicatesWithinWatermark` on the content digest:
  *    state holds one digest per unique doc inside the watermark horizon
  *    (exactly-bounded memory), so a re-crawled page is dropped while its
  *    first copy is still in horizon. Corpus-wide dedup across horizons
  *    stays a batch job (CorpusMain) — unbounded digest state in a stream
  *    is the design error, not an option;
  *  - quality + repetition gates (q31/q80 signals) are per-row — identical
  *    expressions to the batch funnel;
  *  - PII scrub (q81's operator) is per-row.
  *
  * Near-dup dedup IS here, but NOT as stream state: the corpus-wide LSH
  * bucket state lives in the standing [[graft.operators.DedupIndex]]
  * table, and [[nearDupBatch]] probes/extends it per micro-batch inside
  * `foreachBatch` — exactly the batch index q244/q246 verify, consulted
  * incrementally. A paraphrase arriving batches after its original (a
  * shape `dropDuplicatesWithinWatermark` can never catch — different
  * digest) is dropped by the index probe; pairs straddling micro-batches
  * are caught because every batch's survivors enter the index before the
  * next batch probes it.
  */
object CorpusStream {

  private val stopwords = array(graft.queries.TrainPrep.Stop.map(lit): _*)

  // repetition fractions via the native one-pass NgramDistincts expression
  // (same gate as CorpusMain stage 4 / q80)
  private def frac(total: Column, distinct: Column): Column =
    when(total === 0, lit(0.0))
      .otherwise(lit(1.0) - distinct.cast("double") / total.cast("double"))

  /** `docs` must carry (doc_id, text, lang, source, ingest_ts TIMESTAMP).
    * Returns the curated stream: quality + repetition gates, then
    * watermark-bounded exact dedup, then the scrub. The per-row gates run
    * BEFORE the stateful dedup on purpose: junk never enters the digest
    * state, so state size is the in-horizon count of PASSING docs (the
    * kept set is identical either way — both orders keep the first copy
    * of a passing text). Append-mode safe (no aggregation). */
  def curated(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      // per-batch funnel via observe(): the counts ride the batch's own
      // execution (StreamingQueryProgress.observedMetrics) — no second
      // pass, the streaming analog of CorpusMain's staged funnel
      .observe("intake", count(lit(1)).as("n_in"))
      .withColumn("w", graft.queries.TrainPrep.rawToks(col("text")))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .filter(col("n_tokens") >= 10 &&
        size(filter(col("w"), t => array_contains(stopwords, t))).cast("double") /
          greatest(col("n_tokens").cast("double"), lit(1.0)) >= 0.01)
      .withColumn("d", org.apache.spark.sql.graft.TextHashes.ngram_distincts(col("w")))
      .filter(!(frac(col("n_tokens"), col("d.d_tok")) > 0.8 ||
        frac(greatest(col("n_tokens") - 2, lit(0L)), col("d.d_3g")) > 0.3))
      .drop("d")
      .observe("gated", count(lit(1)).as("n_gated"))
      .withColumn("text_hash", md5(lower(trim(col("text"))).cast("binary")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")
      .withColumn("text", Redaction.redactPii(col("text")))
      .drop("w", "text_hash")

  /** Novelty gate against the standing Bloom membership state
    * ([[graft.operators.AggState]], r12) — the cheap "seen-before" screen
    * a crawler feed runs BEFORE the LSH probe: a doc whose distinct
    * 8-grams are mostly already in the corpus (re-crawl, template remix,
    * syndicated copy) is dropped without ever touching the index. Per
    * micro-batch:
    *
    *  1. probe each doc's hashed 8-grams against the standing filter —
    *     one broadcast of <=16384 packed words, k map lookups per n-gram,
    *     map-side, no shuffle of the corpus (which is never rescanned);
    *  2. admit docs whose NOVEL fraction clears `minNovelBp` (integer
    *     basis points — no float boundary); docs with no 8-gram to probe
    *     (too short, or null text) are admitted — no signal, the quality
    *     gates own them;
    *  3. admitted docs' n-grams fold into the filter by a blind
    *     bitwise-OR append (O(batch) forever), THEN the batch lands —
    *     the nearDupBatch ordering, so a crash-replayed batch re-probes
    *     a filter that already holds its n-grams and under-admits:
    *     an n-gram-BEARING doc is never landed twice. No-signal docs
    *     have nothing in the filter to suppress a replay with, so they
    *     follow the sink's plain at-least-once semantics — their exact
    *     duplicates are owned by [[curated]]'s digest dedup upstream.
    *
    * INTRA-batch near-dups pass this gate by design: every doc in a
    * micro-batch probes the filter as it stood BEFORE the batch (the
    * admitted set's own n-grams fold in only at step 3), so N
    * near-identical docs arriving in the SAME batch are all admitted and
    * landed. The downstream LSH probe ([[nearDupBatch]]) owns
    * within-batch and cross-batch near-dup pairs alike; this screen's
    * contract is only "drop what the CORPUS has already absorbed"
    * without rescanning it. Probing the batch against its own admitted
    * prefix would force a sequential per-doc loop — the opposite of a
    * partition-parallel screen.
    *
    * The filter is the right memory bound for this screen: exact n-gram
    * state grows with the corpus, the Bloom stays mBits forever. False
    * positives make a doc look LESS novel by the filter's FP rate
    * (~0.005% at the 2^20/k=3 default with 10^5 n-grams) — a curation
    * bias toward dropping, never a correctness leak; size mBits up for
    * bigger corpora (it is a build knob persisted in the state's meta).
    */
  def noveltyBatch(bloomDir: String, outDir: String, minNovelBp: Long = 3000L)(
      batch: DataFrame, batchId: Long): Unit = {
    noveltyAdmit(bloomDir, minNovelBp)(batch)
      .write.mode("append").parquet(outDir)
  }

  /** The novelty gate's decide-and-fold half, landing-free: probe, PIN
    * the admitted set, fold its n-grams into the filter, and RETURN the
    * pinned admitted docs for whatever lands them (the plain sink in
    * [[noveltyBatch]]; the near-dup probe in [[pipelineBatch]]). */
  /** `bloomBits` sizes the filter at FIRST build (appends inherit the
    * built meta): the r15 scale tiers measured the default 2^20 filter
    * saturating around ~15k docs of this corpus shape (~33 8-grams/doc;
    * fill → 0.9, false-positive rate → 0.73), after which the novelty
    * fraction of genuinely new docs reads below minNovelBp and the gate
    * drops nearly everything. Size it at ~8 bits per expected corpus
    * n-gram (fill ≈ 0.31 at capacity, FP ≈ 3%) — 500k docs ≈ 140M bits
    * ≈ 17.5 MB packed, still one broadcast. */
  private[graft] def noveltyAdmit(bloomDir: String, minNovelBp: Long = 3000L,
      bloomBits: Long = graft.operators.AggState.BloomDefaultBits)(
      batch: DataFrame): DataFrame = {
    import graft.operators.AggState
    val admitted = noveltyDecide(bloomDir, minNovelBp)(batch)
    AggState.writeBloomSlice(admittedSlice(admitted, bloomDir, bloomBits),
      bloomDir, bloomBits)
    admitted.drop("__ng")
  }

  /** The probe-and-pin half of [[noveltyAdmit]] (r16 lock staging): probe
    * the filter, PIN the admitted set — `__ng` kept so the caller can
    * derive the fold slice — and mutate NOTHING. [[pipelineBatch]] runs
    * this outside any writer lock and lands the fold under one. */
  private[graft] def noveltyDecide(bloomDir: String, minNovelBp: Long = 3000L)(
      batch: DataFrame): DataFrame = {
    import graft.operators.AggState
    val spark = batch.sparkSession
    val base = batch
      .withColumn("__ng", graft.queries.TrainPrep.hashedNgrams8(col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ex = base.filter(size(col("__ng")) > 0)
        .select(col("doc_id"), explode(col("__ng")).as("__h"))
      val probed =
        if (AggState.bloomExists(bloomDir))
          AggState.bloomMightContain(spark, bloomDir, ex, Nil, "__h", "__seen")
        else ex.withColumn("__seen", lit(false)) // first batch: empty corpus
      val novelIds = probed.groupBy("doc_id")
        .agg(count(lit(1)).as("__n"),
          sum(when(col("__seen"), 0L).otherwise(1L)).as("__novel"))
        .filter(expr(s"(__novel * 10000) DIV __n >= $minNovelBp"))
        .select("doc_id")
      // PIN the admission decision BEFORE mutating the filter (the
      // nearDupBatch discipline): the sink write re-evaluates its input,
      // and an un-pinned plan would re-probe a filter that already holds
      // this batch's n-grams — every admitted doc would then read as
      // seen and silently vanish from the sink
      // no-signal branch via coalesce: size(NULL __ng) is NULL under ANSI,
      // so a bare === 0 would silently drop null-text docs from BOTH
      // branches (they match neither the probe's > 0 nor an equality)
      base.join(novelIds, Seq("doc_id"), "left_semi")
        .unionByName(base.filter(coalesce(size(col("__ng")), lit(0)) === 0))
        .localCheckpoint(eager = true)
    } finally base.unpersist()
  }

  /** The pinned packed-word fold slice for a [[noveltyDecide]] output. */
  private def admittedSlice(admitted: DataFrame, bloomDir: String,
      bloomBits: Long): DataFrame =
    graft.operators.AggState.bloomSliceFor(
      admitted.select(explode(col("__ng")).as("__h")), Nil, "__h",
      bloomDir, mBitsIfNew = bloomBits)

  /** [[noveltyBatch]] under generation management — the long-running form.
    * A streaming append loop accumulates one packed-word slice per batch,
    * so the per-batch state read grows linearly with batch COUNT (never
    * with corpus size — each slice stays <=mBits/64 rows) until an
    * optimize collapses it. Every `optimizeEvery` batches the filter is
    * rewritten into a new generation (AggState.optimize — bit_or fold,
    * fingerprint-gated, meta carried), the CURRENT pointer swaps
    * atomically, and retirement follows the keepLast/retentionHours
    * policy — the maintainedBatch protocol applied to the fourth standing
    * state. */
  def maintainedNoveltyBatch(tableDir: String, outDir: String,
      optimizeEvery: Int, minNovelBp: Long = 3000L, keepLast: Int = 1,
      retentionHours: Double = 0.0)(batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.AggState
    require(optimizeEvery > 0, s"optimizeEvery must be positive: $optimizeEvery")
    val spark = batch.sparkSession
    // single-writer guard (Generations contract): BOTH locks, table
    // first then generation — the generation lock serializes against a
    // CLI append into the live generation (which locks the gen dir); the
    // TABLE lock serializes the maintain step's publish/retire against a
    // CLI publish, which locks the table dir (the r13 ADVICE granularity
    // mismatch: gen-lock-only left two publishers free to interleave and
    // duplicate lineage seqs). Lock order is fixed (table, then gen) and
    // CLI verbs take exactly one lock each, so no deadlock cycle exists.
    val gen = currentGen(tableDir)
    graft.operators.Generations.withWriterLock(tableDir) {
      graft.operators.Generations.withWriterLock(gen) {
        noveltyBatch(gen, outDir, minNovelBp)(batch, batchId)
        maintainGeneration(tableDir, gen, batchId, optimizeEvery, keepLast,
          retentionHours, AggState.bloomExists, AggState.optimize(spark, _, _, Nil))
      }
    }
  }

  private def currentGen(tableDir: String): String =
    graft.operators.Generations.current(tableDir).getOrElse(s"$tableDir/gen-0")

  /** The shared generation-management tail every maintained foreachBatch
    * loop runs after its per-batch work: first-batch publish, then on the
    * optimize cadence rewrite -> atomic publish -> policy retirement.
    * The `next != gen` guard makes a crash-REPLAYED cadence batch a no-op
    * instead of a permanent wedge: after `publish(gen-N)` succeeded but
    * the streaming checkpoint did not commit, the replay resolves
    * CURRENT = gen-N and would otherwise optimize gen-N onto ITSELF —
    * refused by the in-place guard — on every restart forever. Skipping
    * is correct: the rewrite already happened, and the replayed batch's
    * own work re-ran against the new generation (under-admitting, the
    * documented fail-safe). */
  private def maintainGeneration(tableDir: String, gen: String, batchId: Long,
      optimizeEvery: Int, keepLast: Int, retentionHours: Double,
      exists: String => Boolean,
      optimizeTo: (String, String) => Unit): Unit = {
    import graft.operators.Generations
    if (Generations.current(tableDir).isEmpty && exists(gen))
      Generations.publish(tableDir, gen) // first batch creates generation 0
    val next = s"$tableDir/gen-${batchId + 1}"
    // CANONICAL comparison: publish stores the canonical path in CURRENT,
    // while `next` is built from the caller's raw tableDir — a relative,
    // trailing-slash, or symlinked tableDir would make a string compare
    // pass two names for the same directory and re-open the wedge
    def canon(p: String) = new java.io.File(p).getCanonicalPath
    if (exists(gen) && batchId % optimizeEvery == (optimizeEvery - 1) &&
        canon(next) != canon(gen)) {
      optimizeTo(gen, next)
      // record the source's post-rewrite listing; publishChecked re-lists
      // right before the pointer switch — on an object store where the
      // writer lock degrades to best-effort, this is what still catches
      // an append that landed behind the rewrite
      Generations.recordSourceFingerprint(next, gen)
      Generations.publishChecked(tableDir, next) // atomic — old or new, never torn
      Generations.retire(tableDir, keepLast, retentionHours)
      ()
    }
  }

  /** Near-dup curation against the standing index, as a `foreachBatch`
    * sink for the [[curated]] stream:
    *
    * {{{
    * curated(docs).writeStream
    *   .foreachBatch(CorpusStream.nearDupBatch(indexDir, outDir) _)
    * }}}
    *
    * Per micro-batch: one MinHash base over the batch, then
    *  1. probe the standing [[DedupIndex]] — a batch doc whose best index
    *     match clears J >= 0.7 is a near-dup of an already-landed doc;
    *  2. within-batch LSH pairing ([[Dedup.lshPairs]]) — of two batch
    *     near-dups the smaller doc_id survives (keep-first, the q35
    *     discipline);
    *  3. survivors append to BOTH the index (their signatures/bands — the
    *     next batch probes against them) and `outDir` parquet.
    *
    * Scale: every step is sized by the BATCH — the probe touches only
    * colliding index buckets, the append is a blind write, and the corpus
    * is never rescanned. The index accumulates small files at streaming
    * cadence; run [[DedupIndex.optimize]] on compaction cadence.
    *
    * Exactly-once caveat: the index append itself is not transactional
    * with the sink write — a batch replayed after a crash between the two
    * re-probes an index that already contains its survivors and drops
    * them as self-matches. That fails SAFE for curation (never a dup
    * landed twice, at worst a replayed batch under-admits); a stricter
    * pipeline would stage appends under `batchId` and commit atomically.
    */
  /** [[nearDupBatch]] under generation management — the long-running form.
    * The index lives behind a [[graft.operators.Generations]] CURRENT
    * pointer at `tableDir`; every `optimizeEvery` batches the active
    * generation is compacted into a NEW generation dir
    * ([[DedupIndex.optimize]] — fingerprint-validated, tombstones dropped
    * physically), the CURRENT pointer swaps atomically, and the old
    * generation is retired. Probes always resolve through CURRENT, so a
    * reader never sees a half-compacted index — the unbounded small-file
    * accumulation of a streaming append loop is capped at one optimize
    * period. Retirement is policy-driven (r12 — was an immediate delete):
    * the defaults (`keepLast = 1`, `retentionHours = 0`) reproduce the
    * single-writer loop's behavior — this loop is, between batches, the
    * only reader — while a multi-reader deployment passes a positive
    * window so a reader that resolved CURRENT just before the swap keeps
    * its snapshot on disk for the drain window.
    */
  def maintainedBatch(tableDir: String, outDir: String, optimizeEvery: Int,
      keepLast: Int = 1, retentionHours: Double = 0.0)(
      batch: DataFrame, batchId: Long): Unit = {
    require(optimizeEvery > 0, s"optimizeEvery must be positive: $optimizeEvery")
    val spark = batch.sparkSession
    // single-writer guard — BOTH locks, table then gen; see
    // maintainedNoveltyBatch for the ordering rationale
    val gen = currentGen(tableDir)
    graft.operators.Generations.withWriterLock(tableDir) {
      graft.operators.Generations.withWriterLock(gen) {
        nearDupBatch(gen, outDir)(batch, batchId)
        maintainGeneration(tableDir, gen, batchId, optimizeEvery, keepLast,
          retentionHours, DedupIndex.exists, DedupIndex.optimize(spark, _, _))
      }
    }
  }

  /** Recovery for the documented crash window (index appended, sink write
    * lost): index entries whose doc never landed in the corpus store are
    * GHOSTS — they suppress every future copy of their content while the
    * content itself was never admitted. The repair tombstones them
    * ([[DedupIndex.remove]]) so the next crawl of that content is
    * admitted cleanly. Assumes ingest assigns fresh surrogate doc_ids per
    * crawl (re-crawled content returns under a NEW id, so tombstoned
    * ghost ids never resurface) — the standard ingest-id discipline.
    * Run it at restart, before the stream resumes. Returns the ghost
    * count; both sides of the anti join are id projections (delta-sized
    * driver cost: none). */
  def repairIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, outDir: String): Long = {
    if (!DedupIndex.exists(indexDir)) return 0L
    val landed =
      if (new java.io.File(outDir).exists())
        spark.read.parquet(outDir).select("doc_id").distinct()
      else spark.range(0).select(col("id").as("doc_id"))
    val ghosts = DedupIndex.liveIds(spark, indexDir)
      .join(landed, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = true)
    val n = ghosts.count()
    if (n > 0) DedupIndex.remove(ghosts, indexDir)
    n
  }

  /** Standing-cluster maintenance stream — the ARCHIVE/audit shape beside
    * [[nearDupBatch]]'s curation shape: every doc is ADMITTED (an archive
    * keeps all copies) and the duplicate GRAPH is tracked instead. Per
    * micro-batch: one MinHash base feeds (1) the index probe's VERIFIED
    * PAIRS (batch vs corpus — [[DedupIndex.probePairsPersisted]], no
    * corpus-corpus pair), (2) within-batch LSH pairs, and (3) the blind
    * index append; the pair union folds into the standing
    * [[graft.operators.ClusterState]] labels (CC over label stars + the
    * delta only — the historical pair set is never re-clustered). An edge
    * bridging docs landed in different earlier batches merges their
    * standing clusters. Every step is sized by the batch; replay fails
    * safe (re-derived edges reproduce the same connectivity — labels are
    * a function of the cumulative graph, and duplicate edges are no-ops
    * to CC). */
  def clusterBatch(indexDir: String, clusterDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.ClusterState
    val spark = batch.sparkSession
    val docs = batch.persist()
    // unpersist the minhash base in the FINALLY (r14 ADVICE): a throw from
    // writeBase/append used to leak the persisted base, and in a
    // long-running stream each failed-then-replayed batch left another
    // cached RDD squeezing execution memory
    var base: DataFrame = null
    try {
      if (!docs.isEmpty) {
        base = Dedup.minhashBase(docs)
        val probeEdges =
          if (DedupIndex.exists(indexDir))
            DedupIndex.probePairsPersisted(spark, base, indexDir)
              .select(col("b").as("src"), col("c").as("dst"))
          else base.select(col("doc_id").as("src"), col("doc_id").as("dst")).limit(0)
        val batchEdges = Dedup.lshPairs(base, Dedup.LshBucketCap)
          .select(col("d1").as("src"), col("d2").as("dst"))
        val edges = probeEdges.unionByName(batchEdges).localCheckpoint(eager = true)
        if (!edges.isEmpty) {
          if (ClusterState.exists(clusterDir))
            ClusterState.appendEdges(spark, edges, clusterDir)
          else ClusterState.build(edges, clusterDir)
        }
        DedupIndex.writeBase(base, indexDir,
          if (DedupIndex.exists(indexDir)) "append" else "overwrite")
        docs.write.mode("append").parquet(outDir)
      }
    } finally {
      if (base != null) base.unpersist()
      docs.unpersist()
      ()
    }
  }

  /** The COMPLETE curation loop as ONE foreachBatch sink (VERDICT r12 #8)
    * — per micro-batch of [[curated]] output:
    *
    *  1. novelty gate against the standing Bloom state (seen-before
    *     content dropped, admitted n-grams folded in — [[noveltyAdmit]]);
    *  2. near-dup probe of the admitted docs against the standing
    *     [[DedupIndex]] + within-batch LSH pairs;
    *  3. every discovered duplicate EDGE folds into the standing
    *     [[graft.operators.ClusterState]] BEFORE dropping — the corpus
    *     keeps one copy, the audit/takedown trail keeps the structure;
    *  4. survivors append to the corpus store and their signatures to the
    *     index;
    *  5. every `optimizeEvery` batches BOTH generation-managed tables
    *     (bloom + index) rewrite, publish (fingerprint-checked pointer
    *     switch) and retire under the keepLast/retentionHours policy.
    *
    * LOCK STAGING (r16 — the r15 tiers measured lock-hold ≈ wave wall
    * because the whole batch ran under all four locks): every
    * compute-heavy phase — novelty probe, packed fold slice, MinHash
    * base, index probe, within-batch LSH pairing, the drop decision and
    * the index tables to land — runs OPTIMISTICALLY with no lock held,
    * pinned by eager localCheckpoints. Each table then gets its own lock
    * window (fixed order preserved: bloom table, bloom gen, then index
    * table, index gen — the windows are sequential, never nested across
    * tables, and CLI verbs take exactly one lock each, so no cycle
    * exists) that (1) re-validates the generation by pointer identity +
    * listing fingerprint, (2) lands the pinned results as blind writes,
    * (3) runs the maintain cadence. A writer that mutated the state
    * between the unlocked read and the lock flips the fingerprint and
    * the window REDOES its domain's compute under the lock — exactly the
    * r15 monolithic behavior, demoted to the contended-rare path. Reads
    * are never blocked either way (readers resolve published pointers).
    *
    * Crash-replay fail-safes compose unchanged: the novelty fold precedes
    * landing (a replayed batch under-admits), the index append precedes
    * the corpus write (ghost entries are [[repairIndex]]'s contract), and
    * the cluster fold precedes the drop from inside the index window
    * (edges derive from that window's validated probe).
    *
    * EXACT-PARAGRAPH trim (r18, VERDICT r17 #1 — exact-FIRST: q311
    * measured the digest trim at ~1/10 the near-dup trim's cost at the
    * 100× tier, so production curation leads with it): when `paraTable`
    * is non-empty, the batch's paragraphs are digested
    * ([[Dedup.paraDigested]]) and checked against the standing
    * (digest → first-seen pid) min-partial state (the q312 table,
    * [[graft.operators.AggState]]) — a paragraph the corpus already
    * shipped, or a within-batch repeat, is trimmed before ANY other gate
    * sees the text ([[Dedup.paraExactRebuild]]; a doc with zero novel
    * paragraphs vanishes). The digests of the FINAL survivors' kept
    * paragraphs blind-append into the state in the para table's own lock
    * window, AFTER the index window and BEFORE the corpus landing, so
    * the state mirrors exactly the corpus's paragraph content (the
    * keep-first contract "the first copy survives somewhere" holds:
    * only shipped paragraphs block future copies) and a crash-replayed
    * batch reads all its paragraphs as seen and under-admits (the
    * noveltyBatch fail direction — never a double landing). The para
    * window needs NO fingerprint fallback: min-partial appends are blind
    * and commutative (no read-modify-write), and a probe gone stale
    * against a concurrent writer only UNDER-trims — both shipped copies
    * are real corpus content and the merged min is still a valid keeper.
    * A 1-row trim ledger (paras in/dropped, tokens in/kept) appends to
    * `paraTable/trim_ledger` per batch — the PipeScaleMain per-wave
    * retention signal. Empty `paraTable` (the default) disables the
    * stage.
    *
    * `raceHook` is a test seam: invoked with "bloom"/"index" after each
    * optimistic compute, right before its lock window — specs mutate the
    * state there to prove the fingerprint fallback recomputes correctly. */
  def pipelineBatch(bloomTable: String, indexTable: String,
      clusterDir: String, outDir: String, optimizeEvery: Int,
      keepLast: Int = 1, retentionHours: Double = 0.0,
      minNovelBp: Long = 3000L,
      bloomBits: Long = graft.operators.AggState.BloomDefaultBits,
      paraTable: String = "",
      raceHook: String => Unit = _ => ())(
      batch0: DataFrame, batchId: Long): Unit = {
    import graft.operators.{AggState, ClusterState, Generations}
    val spark = batch0.sparkSession

    // ---- exact-paragraph trim (exact-FIRST; see the scaladoc) ----------
    // `marked` is the pinned trim DECISION (the r16 decision-pin
    // discipline: one checkpoint job; the rebuild, the ledger row and
    // the survivor digest slice all derive from it lazily)
    var marked: DataFrame = null
    val batch = if (paraTable.isEmpty) batch0 else {
      val paraGen0 = currentGen(paraTable)
      val seen =
        if (AggState.exists(paraGen0))
          Some(AggState.merged(spark, paraGen0, Seq("dig")).select("dig"))
        else None
      marked = Dedup.paraExactMark(
        Dedup.paraDigested(batch0.select("doc_id", "text")), seen)
        .localCheckpoint(eager = true)
      Dedup.paraExactRebuild(marked, batch0)
    }

    // the para table's lock window — called after the index window (the
    // survivor set exists) and before the corpus landing (crash contract)
    def paraWindow(keptOfSurvivors: DataFrame): Unit =
      Generations.withWriterLock(paraTable) {
        val paraGen = currentGen(paraTable)
        Generations.withWriterLock(paraGen) {
          AggState.append(keptOfSurvivors, Seq("dig"), "pid", paraGen)
          marked.withColumn("nt", size(split(col("text"), " ")).cast("long"))
            .agg(count(lit(1)).as("paras_in"),
              sum("d").as("paras_dropped"),
              sum("nt").as("tokens_in"),
              sum(when(col("d") === 0L, col("nt")).otherwise(0L))
                .as("tokens_kept"))
            .withColumn("batch_id", lit(batchId))
            // an empty batch writes no row (the fitstats discipline)
            .filter(col("paras_in") > 0)
            .coalesce(1)
            .write.mode("append").parquet(s"$paraTable/trim_ledger")
          maintainGeneration(paraTable, paraGen, batchId, optimizeEvery,
            keepLast, retentionHours, AggState.exists,
            AggState.optimize(spark, _, _, Seq("dig")))
        }
      }

    // ---- bloom window ------------------------------------------------
    val bloomGen0 = currentGen(bloomTable)
    val fpBloom0 = Generations.listingFingerprint(bloomGen0)
    var admitted = noveltyDecide(bloomGen0, minNovelBp)(batch)
    raceHook("bloom")
    Generations.withWriterLock(bloomTable) {
      val bloomGen = currentGen(bloomTable)
      Generations.withWriterLock(bloomGen) {
        if (bloomGen != bloomGen0 ||
            Generations.listingFingerprint(bloomGen) != fpBloom0) {
          // contended-rare: the filter (or the pointer) moved under us —
          // the optimistic decision probed stale state; redo it here
          admitted = noveltyDecide(bloomGen, minNovelBp)(batch)
        }
        // the fold slice derives from the PINNED decision but is computed
        // inside the window against the locked gen's own meta — one
        // aggregation of the batch's n-grams, cheap relative to the probe
        // and one fewer per-batch checkpoint job (the 1x fixed-cost A/B)
        AggState.writeBloomSlice(admittedSlice(admitted, bloomGen, bloomBits),
          bloomGen, mBitsIfNew = bloomBits)
        maintainGeneration(bloomTable, bloomGen, batchId, optimizeEvery,
          keepLast, retentionHours, AggState.bloomExists,
          AggState.optimize(spark, _, _, Nil))
      }
    }

    // ---- index window ------------------------------------------------
    val admittedDocs = admitted.drop("__ng")
    // base unpersists in the FINALLY (r14 ADVICE): a throw must not leak
    // the cached base — in a long-running PipelineMain stream every
    // failed-then-retried batch would stack another persisted RDD
    var base: DataFrame = null
    try {
      if (!admittedDocs.isEmpty) {
        base = Dedup.minhashBase(admittedDocs)
        val indexGen0 = currentGen(indexTable)
        val fpIndex0 = Generations.listingFingerprint(indexGen0)
        // probe + pair + the DROP DECISION, all pinned (these are the
        // corpus-sized shuffles and the rows the sink re-evaluation must
        // never re-derive); the sig/band tables to land are cheap
        // projections of the persisted base against the pinned dropIds —
        // computed inside the window (lock-hold has 3-50x headroom at
        // every tier; a checkpoint job per batch does not)
        def stage(gen: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
          val idxPairs =
            if (DedupIndex.exists(gen))
              DedupIndex.probePairsPersisted(spark, base, gen)
                .select(col("b"), col("c"))
                .localCheckpoint(eager = true)
            else admittedDocs
              .select(col("doc_id").as("b"), col("doc_id").as("c"))
              .limit(0)
          val batchPairs = Dedup.lshPairs(base, Dedup.LshBucketCap)
            .select(col("d1"), col("d2")).localCheckpoint(eager = true)
          // edges stay LAZY off the two pins (an eager checkpoint here is
          // one more per-batch job for a frame the fold reads once)
          val edges = idxPairs
            .select(col("b").as("src"), col("c").as("dst"))
            .unionByName(batchPairs
              .select(col("d1").as("src"), col("d2").as("dst")))
          val dropIds = idxPairs.select(col("b").as("doc_id"))
            .unionByName(batchPairs.select(col("d2").as("doc_id")))
            .distinct().localCheckpoint(eager = true)
          val survivors = admittedDocs
            .join(dropIds, Seq("doc_id"), "left_anti")
            .localCheckpoint(eager = true)
          (edges, survivors, dropIds, batchPairs)
        }
        var (edges, survivors, dropIds, _) = stage(indexGen0)
        var genExisted = DedupIndex.exists(indexGen0)
        raceHook("index")
        Generations.withWriterLock(indexTable) {
          val indexGen = currentGen(indexTable)
          Generations.withWriterLock(indexGen) {
            if (indexGen != indexGen0 ||
                Generations.listingFingerprint(indexGen) != fpIndex0) {
              val st = stage(indexGen) // contended-rare: re-probe under lock
              edges = st._1; survivors = st._2; dropIds = st._3
              genExisted = DedupIndex.exists(indexGen)
            }
            // cluster fold BEFORE the drop lands (the audit-trail
            // contract), from inside the window whose probe produced it
            if (!edges.isEmpty) {
              if (ClusterState.exists(clusterDir))
                ClusterState.appendEdges(spark, edges, clusterDir)
              else ClusterState.build(edges, clusterDir)
            }
            DedupIndex.writeBase(
              base.join(dropIds, Seq("doc_id"), "left_anti"), indexGen,
              if (genExisted) "append" else "overwrite")
            maintainGeneration(indexTable, indexGen, batchId, optimizeEvery,
              keepLast, retentionHours, DedupIndex.exists,
              DedupIndex.optimize(spark, _, _))
          }
        }
        // para digest fold: the survivors' KEPT paragraphs — exactly the
        // content about to land — enter the standing state before the
        // corpus write (see the scaladoc's crash contract)
        if (paraTable.nonEmpty)
          paraWindow(marked.filter(col("d") === 0L)
            .join(survivors.select(col("doc_id").as("src_doc")),
              Seq("src_doc"), "left_semi")
            .select(col("dig"), Dedup.pidDecimal(col("pid")).as("pid")))
        // the corpus landing needs no standing-table lock; the index
        // append still PRECEDES it (the ghost-entry crash contract)
        survivors.write.mode("append").parquet(outDir)
        ()
      } else {
        // empty batch: only the maintain cadences need the locks
        Generations.withWriterLock(indexTable) {
          val indexGen = currentGen(indexTable)
          Generations.withWriterLock(indexGen) {
            maintainGeneration(indexTable, indexGen, batchId, optimizeEvery,
              keepLast, retentionHours, DedupIndex.exists,
              DedupIndex.optimize(spark, _, _))
          }
        }
        // nothing survived the gates, but the trim may still have run
        // (its ledger row + cadence); the kept slice is empty
        if (paraTable.nonEmpty)
          paraWindow(marked.filter(col("d") === 0L)
            .select(col("dig"), Dedup.pidDecimal(col("pid")).as("pid")).limit(0))
      }
    } finally {
      if (base != null) base.unpersist()
      ()
    }
  }

  def nearDupBatch(indexDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val docs = batch.persist()
    var base: DataFrame = null // unpersisted in the finally (r14 ADVICE)
    try {
      if (!docs.isEmpty) {
        base = Dedup.minhashBase(docs)
        val idxMatches =
          if (DedupIndex.exists(indexDir))
            DedupIndex.probePersisted(spark, base, indexDir)
              .select(col("batch_id").as("doc_id"))
          else base.select("doc_id").limit(0)
        val batchDups = Dedup.lshPairs(base, Dedup.LshBucketCap)
          .select(col("d2").as("doc_id")).distinct()
        val dropIds = idxMatches.unionByName(batchDups).distinct()
          .localCheckpoint(eager = true)
        val survivors = docs.join(dropIds, Seq("doc_id"), "left_anti")
          .localCheckpoint(eager = true)
        val survivorBase = base.join(dropIds, Seq("doc_id"), "left_anti")
        DedupIndex.writeBase(survivorBase, indexDir,
          if (DedupIndex.exists(indexDir)) "append" else "overwrite")
        survivors.write.mode("append").parquet(outDir)
      }
    } finally {
      if (base != null) base.unpersist()
      docs.unpersist()
      ()
    }
  }
}
