package graft.streaming

import org.apache.spark.sql.DataFrame
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
  * table, and [[pipelineBatch]] (the one curation `foreachBatch` sink)
  * probes/extends it per micro-batch — exactly the batch index q244/q246
  * verify, consulted incrementally. A paraphrase arriving batches after
  * its original (a shape `dropDuplicatesWithinWatermark` can never catch
  * — different digest) is dropped by the index probe; pairs straddling
  * micro-batches are caught because every batch's survivors enter the
  * index before the next batch probes it.
  */
object CorpusStream {

  /** A pipe dir's tables — `bloom`/`index`/`para` generation-managed,
    * `para/trim_ledger` the per-batch retention rows — and its streaming
    * `checkpoint`: PipelineMain, PipeScaleMain and Takedown all read it. */
  private[graft] final case class Layout(pipeDir: String) {
    val bloom = s"$pipeDir/bloom"
    val index = s"$pipeDir/index"
    val clusters = s"$pipeDir/clusters"
    val corpus = s"$pipeDir/corpus"
    val para = s"$pipeDir/para"
    val checkpoint = s"$pipeDir/checkpoint"
  }

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
      .filter(graft.queries.TrainPrep.tokenGate(col("w")))
      // repetition fractions via the native one-pass NgramDistincts
      // expression (the same gate as CorpusMain stage 4 / q295)
      .withColumn("d", org.apache.spark.sql.graft.TextHashes.ngram_distincts(col("w")))
      .filter(graft.queries.TrainPrep.repetitionGate(col("w"), col("d")))
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
    * syndicated copy) is dropped without ever touching the index. This is
    * the probe-and-pin half (r16 lock staging): [[pipelineBatch]] runs it
    * outside any writer lock and lands the fold of the admitted n-grams
    * ([[admittedSlice]]) under one, before the batch lands.
    *
    * Each doc's hashed 8-grams probe the filter (one broadcast of the
    * packed words, map-side, the corpus never rescanned); docs whose NOVEL
    * fraction clears `minNovelBp` (integer basis points) are admitted, as
    * are docs with no 8-gram to probe (too short, or null text — no
    * signal, the quality gates own them). The admitted set is PINNED —
    * `__ng` kept for the fold slice — and NOTHING is mutated.
    *
    * INTRA-batch near-dups pass this gate by design: every doc in a
    * micro-batch probes the filter as it stood BEFORE the batch (the
    * admitted set's own n-grams fold in afterwards), so N near-identical
    * docs arriving in the SAME batch are all admitted. The downstream LSH
    * probe owns within-batch and cross-batch near-dup pairs alike; this
    * screen's contract is only "drop what the CORPUS has already absorbed"
    * without rescanning it. Probing the batch against its own admitted
    * prefix would force a sequential per-doc loop — the opposite of a
    * partition-parallel screen.
    *
    * The filter is the right memory bound for this screen: exact n-gram
    * state grows with the corpus, the Bloom stays mBits forever. False
    * positives make a doc look LESS novel by the filter's FP rate
    * (~0.005% at the 2^20/k=3 default with 10^5 n-grams) — a curation
    * bias toward dropping, never a correctness leak; size mBits up for
    * bigger corpora (`pipelineBatch`'s `bloomBits`). */
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
      // PIN the admission decision BEFORE the filter is mutated: the sink
      // write re-evaluates its input, and an un-pinned plan would re-probe
      // a filter that already holds this batch's n-grams — every admitted
      // doc would then read as seen and silently vanish from the sink
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

  /** The generation-management tail each of [[pipelineBatch]]'s three
    * table windows runs after its per-batch work: first-batch publish,
    * then on the optimize cadence rewrite -> publish -> policy retirement.
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
    if (exists(gen) && batchId % optimizeEvery == (optimizeEvery - 1) &&
        !Generations.sameDir(next, gen)) {
      // the rewrite step records the source's post-rewrite listing, and
      // the checked publish re-lists it right before the atomic pointer
      // switch — on an object store where the writer lock degrades to
      // best-effort, this still catches an append behind the rewrite
      Generations.rewriteAndPublish(tableDir, gen, next)(optimizeTo(gen, next))
      Generations.retire(tableDir, keepLast, retentionHours)
      ()
    }
  }

  /** The GHOSTS of the documented crash window (index appended, sink
    * write lost): the ids live in the index at `indexDir` (pass the
    * resolved generation) that never landed in the corpus store at
    * `corpusDir` — each suppresses every future copy of content that was
    * never admitted. Reads only, eagerly pinned so the caller may mutate
    * the index it was read from; both sides of the anti join are id
    * projections. The recovery that re-admits the content: on a bare
    * index, [[DedupIndex.remove]] of these ids; on a [[pipelineBatch]]
    * pipe dir, [[graft.operators.Takedown]] of them with `rebloom`, since
    * the batch's bloom and para windows ran before the lost write and a
    * re-crawl would otherwise die at those gates (CorpusStreamSpec runs
    * both cases). Assumes ingest assigns fresh surrogate doc_ids per
    * crawl (re-crawled content returns under a NEW id, so removed ghost
    * ids never resurface) — the standard ingest-id discipline. */
  def ghostIds(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, corpusDir: String): DataFrame = {
    val none = spark.range(0).select(col("id").as("doc_id"))
    if (!DedupIndex.exists(indexDir)) none
    else {
      val landed =
        if (new java.io.File(corpusDir).exists())
          spark.read.parquet(corpusDir).select("doc_id").distinct()
        else none
      DedupIndex.liveIds(spark, indexDir)
        .join(landed, Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = true)
    }
  }

  /** The COMPLETE curation loop as ONE foreachBatch sink (VERDICT r12 #8)
    * — the only curation sink; per micro-batch of [[curated]] output:
    *
    *  1. exact-paragraph trim against the standing digest state (below);
    *  2. novelty gate against the standing Bloom state (seen-before
    *     content dropped — [[noveltyDecide]] — and the admitted n-grams
    *     folded in);
    *  3. near-dup probe of the admitted docs against the standing
    *     [[DedupIndex]] + within-batch LSH pairs (of two batch near-dups
    *     the smaller doc_id survives — q35's keep-first);
    *  4. every discovered duplicate EDGE folds into the standing
    *     [[graft.operators.ClusterState]] BEFORE dropping — the corpus
    *     keeps one copy, the audit/takedown trail keeps the structure;
    *  5. survivors' signatures append to the index, their kept paragraphs'
    *     digests to the para state, and the survivors to the corpus store;
    *  6. every `optimizeEvery` batches all three generation-managed tables
    *     (bloom, index, para) rewrite, publish (fingerprint-checked pointer
    *     switch) and retire under the keepLast/retentionHours policy.
    *
    * LOCK STAGING (r16 — the r15 tiers measured lock-hold ≈ wave wall
    * because the whole batch ran under all four locks): every
    * compute-heavy phase — novelty probe, packed fold slice, MinHash
    * base, index probe, within-batch LSH pairing, the drop decision and
    * the index tables to land — runs OPTIMISTICALLY with no lock held,
    * pinned by eager localCheckpoints. Each table then gets its own lock
    * window — one `Generations.withTableWriter` scope per table (bloom,
    * then index, then para; each locks its table, then the generation
    * resolved under that lock; the windows are sequential, never nested
    * across tables, and CLI verbs take exactly one lock each, so no cycle
    * exists) that (1) re-validates the generation by pointer identity +
    * listing fingerprint, (2) lands the pinned results as blind writes,
    * (3) runs the maintain cadence. A writer that mutated the state
    * between the unlocked read and the lock flips the fingerprint and
    * the window REDOES its domain's compute under the lock — exactly the
    * r15 monolithic behavior, demoted to the contended-rare path. Reads
    * are never blocked either way (readers resolve published pointers).
    *
    * Crash-replay fail-safes compose unchanged: the novelty fold precedes
    * landing (a replayed batch re-probes a filter that already holds its
    * n-grams and under-admits — an n-gram-BEARING doc is never landed
    * twice; no-signal docs follow the sink's plain at-least-once
    * semantics, their exact duplicates owned by [[curated]]'s digest
    * dedup), the index append precedes the corpus write (a lost write
    * leaves a GHOST in the bloom, index and para states; a Takedown of
    * the [[ghostIds]] with `rebloom` re-admits its content, where removing
    * them from the index alone clears only the index), and the cluster fold
    * precedes the drop from inside the index window (edges derive from
    * that window's validated probe). A replayed cadence batch skips its
    * optimize (see [[maintainGeneration]]).
    *
    * EXACT-PARAGRAPH trim (r18, VERDICT r17 #1 — exact-FIRST: q311
    * measured the digest trim at ~1/10 the near-dup trim's cost at the
    * 100× tier, so production curation leads with it): the batch's
    * paragraphs are digested ([[Dedup.paraDigested]]) and checked against
    * the standing (digest → first-seen pid) min-partial state at
    * `paraTable` (the q312 table, [[graft.operators.AggState]]) — a
    * paragraph the corpus already shipped, or a within-batch repeat, is
    * trimmed before ANY other gate sees the text
    * ([[Dedup.paraExactRebuild]]; a doc with zero novel paragraphs
    * vanishes). The digests of the FINAL survivors' kept paragraphs
    * blind-append into the state in the para table's own lock window,
    * AFTER the index window and BEFORE the corpus landing, so the state
    * mirrors exactly the corpus's paragraph content (the keep-first
    * contract "the first copy survives somewhere" holds: only shipped
    * paragraphs block future copies) and a crash-replayed batch reads all
    * its paragraphs as seen and under-admits (the novelty fold's fail
    * direction — never a double landing). The para window needs NO
    * fingerprint fallback: min-partial appends are blind and commutative
    * (no read-modify-write), and a probe gone stale against a concurrent
    * writer only UNDER-trims — both shipped copies are real corpus content
    * and the merged min is still a valid keeper. A 1-row trim ledger
    * (paras in/dropped, tokens in/kept) appends to `paraTable/trim_ledger`
    * per batch — the PipeScaleMain per-wave retention signal. Empty
    * `paraTable` (the default) disables the stage.
    *
    * `bloomBits` sizes the novelty filter at FIRST build (appends inherit
    * the built meta): the r15 scale tiers measured the default 2^20 filter
    * saturating around ~15k docs of this corpus shape (~33 8-grams/doc;
    * fill → 0.9, false-positive rate → 0.73), after which the novelty
    * fraction of genuinely new docs reads below `minNovelBp` and the gate
    * drops nearly everything. Size it at ~8 bits per expected corpus
    * n-gram (fill ≈ 0.31 at capacity, FP ≈ 3%) — 500k docs ≈ 140M bits
    * ≈ 17.5 MB packed, still one broadcast.
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
      val paraGen0 = Generations.active(paraTable)
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
    // survivor set exists) and before the corpus landing (crash contract):
    // the survivors' KEPT paragraphs — exactly the content about to land —
    // fold into the standing state; a no-op with the stage disabled
    def paraWindow(survivors: DataFrame): Unit = if (paraTable.nonEmpty)
      Generations.withTableWriter(paraTable) { paraGen =>
        AggState.append(marked.filter(col("d") === 0L)
          .join(survivors.select(col("doc_id").as("src_doc")),
            Seq("src_doc"), "left_semi")
          .select(col("dig"), Dedup.pidDecimal(col("pid")).as("pid")),
          Seq("dig"), "pid", paraGen)
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

    // ---- bloom window ------------------------------------------------
    val bloomGen0 = Generations.active(bloomTable)
    val fpBloom0 = Generations.listingFingerprint(bloomGen0)
    var admitted = noveltyDecide(bloomGen0, minNovelBp)(batch)
    raceHook("bloom")
    Generations.withTableWriter(bloomTable) { bloomGen =>
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

    // ---- index window ------------------------------------------------
    val admittedDocs = admitted.drop("__ng")
    // base unpersists in the FINALLY (r14 ADVICE): a throw must not leak
    // the cached base — in a long-running PipelineMain stream every
    // failed-then-retried batch would stack another persisted RDD
    var base: DataFrame = null
    try {
      if (!admittedDocs.isEmpty) {
        base = Dedup.minhashBase(admittedDocs)
        val indexGen0 = Generations.active(indexTable)
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
        Generations.withTableWriter(indexTable) { indexGen =>
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
        paraWindow(survivors)
        // the corpus landing needs no standing-table lock; the index
        // append still PRECEDES it (the ghost-entry crash contract)
        survivors.write.mode("append").parquet(outDir)
        ()
      } else {
        // empty batch: only the maintain cadences need the locks
        Generations.withTableWriter(indexTable) { indexGen =>
          maintainGeneration(indexTable, indexGen, batchId, optimizeEvery,
            keepLast, retentionHours, DedupIndex.exists,
            DedupIndex.optimize(spark, _, _))
        }
        // nothing survived the gates, but the trim may still have run
        // (its ledger row + cadence); the kept slice is empty
        paraWindow(admittedDocs)
      }
    } finally {
      if (base != null) base.unpersist()
      ()
    }
  }
}
