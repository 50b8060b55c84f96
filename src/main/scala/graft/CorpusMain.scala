package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.ConnectedComponents
import graft.queries.{Dedup, TrainPrep}

/** The LLM-corpus curation pipeline as ONE runnable job — the
  * training-data operators (builder brief) composed the way a real corpus
  * build uses them:
  *
  * ```
  * runMain graft.CorpusMain <sfDir> <outDir>
  * ```
  *
  *  1. exact dedup — hash-groupBy on the content digest, keep min doc_id;
  *  2. near-dup removal — MinHash+LSH pairs (one corpus scan, capped
  *     buckets, Jaccard-verified ≥ 0.7) closed into duplicate CLUSTERS via
  *     [[ConnectedComponents]]; exactly the cluster minimum survives (the
  *     pairwise greedy drop could keep several docs of one transitive
  *     cluster — e.g. pairs (a,c),(b,c) kept both a and b);
  *  3. quality gate — token count ≥ 10 and stopword ratio ≥ 0.01 (the
  *     q31 scoring signals);
  *  4. repetition gate — Gopher-style duplicate token/3-gram fractions
  *     (q80's signals) for WITHIN-doc loops, then the cross-doc
  *     boilerplate gate (q215's signal): docs that are mostly 3-grams
  *     shared with ≥ 5 other survivors — template families whose unique
  *     tails keep pairwise Jaccard under the near-dup gate;
  *  5. split assignment + optional decontamination — the content-
  *     independent train/val/test bucket attached first (q73's md5 split,
  *     so a doc never moves across splits between corpus builds), then
  *     optionally train docs 8-gram-overlapping the heldout splits dropped
  *     (q85's operator, reversed direction — CLI flag `decontam`);
  *  6. PII scrub — emails/IPs/phones replaced by typed placeholders
  *     ([[graft.functions.Redaction]], q81's operator);
  *  7. curated write — parquet partitioned by `lang`, so per-language
  *     training reads prune partitions.
  *
  * Every stage is a DataFrame transform over the SAME operators the
  * oracle-verified queries use (q35/q37/q70/q31 logic); the pipeline adds
  * only composition. At 100 TB: stage 1 is one digest shuffle, stage 2 is
  * the linear LSH path plus O(log diameter) label-propagation rounds, stage
  * 3 is per-row, and the final write is partition-parallel — no driver-side
  * iteration anywhere. Each stage output is persisted before its funnel
  * count, so counting N stages costs N stage executions, not N(N+1)/2 —
  * at 100 TB the funnel must not re-run the corpus scan per number printed.
  */
object CorpusMain {

  /** Returns (curated docs, stage funnel incl. cluster stats, release).
    * Call `release()` after the curated output is written: it unpersists
    * the retained stage caches (the curated DataFrame still recomputes from
    * parquet afterwards, it just stops being cache-backed).
    *
    * `lmGateE6`: optional model-based quality gate (the perplexity filter;
    * q91's operator) — drop docs whose average bigram log-likelihood under
    * the corpus's own LM is below the threshold (micro-nats). The LM is
    * fit on the post-repetition-gate survivors, so junk filtered by the
    * cheap gates never pollutes the model. Docs too short to score (< 2
    * tokens) pass — the token-count gate already bounded length. */
  /** `keepLongest`: survivorship rule for near-dup clusters. Default keeps
    * each cluster's minimum doc_id (stable, content-independent); `true`
    * keeps the LONGEST doc per cluster (token count, ties to the smaller
    * id — q128's canonical rule), which preserves the best copy of a
    * boilerplate family at the cost of keep-set stability across corpus
    * versions (a longer near-dup arriving later replaces the old keep). */
  /** `decontam`: optional train/heldout decontamination (q85's operator,
    * reversed direction): TRAIN-split docs sharing ≥ 10% of their hashed
    * 8-grams with any val/test doc are dropped, so the heldout splits stay
    * unseen. The heldout n-gram set is the SMALL side; at 100 TB it rides
    * a bloom/runtime filter on the train scan. */
  /** `paraGate`: optional paragraph-granularity dedup (q303's operator,
    * r16): after whole-doc near-dedup, drop surviving docs whose 16-token
    * paragraph mass is >= 50% duplicated in OTHER survivors — sub-document
    * boilerplate that whole-doc Jaccard misses when a fresh paragraph
    * dilutes the pairwise score under 0.7. CLI flag `paradedup`. */
  /** `paraExactGate`: exact-paragraph trim (q311's operator, r18 —
    * exact-FIRST: the digest trim measured ~1/10 the near-dup trim's
    * cost at the 100× tier, so it runs right after exact doc dedup,
    * before anything shingles): paragraphs duplicated ANYWHERE in the
    * corpus keep their first (min-pid) copy; later copies are removed
    * and the doc's text rebuilt from its kept paragraphs ([[graft.queries.
    * Dedup.paraExactRebuild]] — untouched docs pass verbatim); a doc
    * with zero novel paragraphs drops. CLI flag `paraexact`. */
  def curate(spark: SparkSession, docs: DataFrame,
             lmGateE6: Option[Long] = None,
             keepLongest: Boolean = false,
             decontam: Boolean = false,
             paraGate: Boolean = false,
             paraExactGate: Boolean = false): (DataFrame, Seq[(String, Long)], () => Unit) = {
    val total = docs.count()

    // 1. exact dedup: keep the smallest doc_id per content digest.
    // Persisted: the minhash base, the anti-join probe side, and (until
    // nearDeduped materializes) everything downstream read it.
    val keepExact0 = docs
      .withColumn("text_hash", md5(lower(trim(col("text"))).cast("binary")))
      .withColumn("keep_id", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("text_hash")))
      .filter(col("doc_id") === col("keep_id"))
      .drop("text_hash", "keep_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nExact = keepExact0.count()

    // 1b. optional exact-paragraph trim (see the scaladoc) — the decision
    // is checkpointed (the pipelineBatch discipline) so the rebuild and
    // the funnel count never re-run the paragraph digest shuffle
    val (keepExact, nParaExact) =
      if (!paraExactGate) (keepExact0, nExact)
      else {
        val marked = Dedup.paraExactMark(
          Dedup.paraDigested(keepExact0.select("doc_id", "text")), None)
          .localCheckpoint(eager = true)
        val t = Dedup.paraExactRebuild(marked, keepExact0)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val n = t.count()
        keepExact0.unpersist()
        (t, n)
      }

    // 2. near-dup removal: LSH pairs -> connected components -> keep each
    // cluster's minimum doc_id (transitively closed keep-first)
    val base = Dedup.minhashBase(keepExact)
    val pairs = Dedup.lshPairs(base, Dedup.LshBucketCap)
    val comp = ConnectedComponents.components(
      pairs.select(col("d1").as("src"), col("d2").as("dst")))
    val nClusters = comp.select("cluster_id").distinct().count()
    val largest = if (nClusters == 0) 0L
      else comp.groupBy("cluster_id").count().agg(max("count")).head().getLong(0)
    val dropIds =
      if (keepLongest) {
        // q128's survivorship: per cluster keep the longest doc (ties to
        // the smaller id) — map-side max_by, one row per cluster shuffled
        val qual = keepExact.select(col("doc_id").as("id"),
          size(TrainPrep.rawToks(col("text"))).cast("long").as("n_tok"))
        val canon = comp.join(qual, Seq("id"))
          .groupBy("cluster_id")
          .agg(max_by(col("id"), struct(col("n_tok"), -col("id"))).as("keep"))
        comp.join(canon, Seq("cluster_id"))
          .filter(col("id") =!= col("keep"))
          .select(col("id").as("doc_id"))
      } else comp.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
    val nearDeduped = keepExact.join(dropIds, Seq("doc_id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNear = nearDeduped.count()
    // everything below reads only the persisted nearDeduped
    comp.unpersist()
    base.unpersist()
    keepExact.unpersist()

    // 2b. optional paragraph-granularity gate (q303's operator): survivors
    // of the whole-doc near-dedup whose paragraph mass is mostly
    // duplicated elsewhere still ship boilerplate — drop the 'drop'
    // verdicts (dup_bp >= 5000). The drop list is checkpointed before the
    // anti join so the gate never re-runs the paragraph LSH.
    val (paraGated, nPara) =
      if (!paraGate) (nearDeduped, nNear)
      else {
        val dropP = Dedup.paraDedup(nearDeduped.select("doc_id", "text"))
          .filter(col("verdict") === "drop").select("doc_id")
          .localCheckpoint(eager = true)
        val g = nearDeduped.join(dropP, Seq("doc_id"), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
        val n = g.count()
        nearDeduped.unpersist()
        (g, n)
      }

    // 3. quality gate: q31's signals as a filter
    val quality = paraGated
      .withColumn("w", TrainPrep.rawToks(col("text")))
      .filter(TrainPrep.tokenGate(col("w")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nQuality = quality.count()
    paraGated.unpersist() // == nearDeduped when the para gate is off

    // 4. repetition gate: q80's duplicate-fraction signals as a filter,
    // computed by the native one-pass NgramDistincts expression
    val deRepped = quality
      .withColumn("d", org.apache.spark.sql.graft.TextHashes.ngram_distincts(col("w")))
      .filter(TrainPrep.repetitionGate(col("w"), col("d")))
      .drop("w", "d")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nRep = deRepped.count()
    quality.unpersist()

    // 4c. cross-doc boilerplate gate (q215's signal): stage 4 caught
    // WITHIN-doc repetition; this drops template families — docs whose
    // 3-gram stream is mostly (>50%) grams shared with ≥ 5 OTHER surviving
    // docs. Such families slip both dedups by design: pairwise Jaccard
    // stays under 0.7 when each instance carries a unique tail, but the
    // shared span is exactly what a training run should not see 6×. One
    // (doc, gram) aggregate feeds the df count AND the join-back (its one
    // shuffle is reused); the drop list is checkpointed before release.
    val grams3 = TrainPrep.wordGrams(TrainPrep.rawToks(col("text")), 3)
    val gc = deRepped
      .select(col("doc_id"), explode(grams3).as("g"))
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TextHashes.poly_hash(col("g")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gdf = gc.groupBy("h").agg(count(lit(1)).as("df"))
    val boilDrop = gc.join(gdf, Seq("h"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("tot"),
        sum(when(col("df") >= 5, col("cnt")).otherwise(0L)).as("boil"))
      .filter(col("boil") * 2 > col("tot"))
      .select("doc_id")
      .localCheckpoint(eager = true)
    gc.unpersist()
    val deBoiled = deRepped.join(boilDrop, Seq("doc_id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nBoil = deBoiled.count()
    deRepped.unpersist()

    // 4d. optional LM gate: score against the survivors' own bigram LM
    // (graft.queries.Text.lmScore persists its pair base and checkpoints
    // the small score table itself). Join is broadcast-sized per doc id.
    val (gated, nLm) = lmGateE6 match {
      case None => (deBoiled, nBoil)
      case Some(threshold) =>
        val scores = graft.queries.Text.lmScore(deBoiled)
          .select(col("doc_id"), col("avg_lnp_e6"))
        val g = deBoiled.join(scores, Seq("doc_id"), "left")
          .filter(col("avg_lnp_e6").isNull || col("avg_lnp_e6") >= threshold)
          .drop("avg_lnp_e6")
          .persist(StorageLevel.MEMORY_AND_DISK)
        (g, g.count())
    }

    // 5. content-independent split (q73's buckets), attached BEFORE
    // decontamination so the heldout set is defined when train is probed
    val bucket = TrainPrep.splitBucket(col("doc_id"))
    val withSplit = gated.withColumn("split",
      when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))

    // 5b. optional decontamination: drop train docs that 8-gram-overlap the
    // heldout splits (q85's hashed-n-gram machinery via
    // TrainPrep.hashedNgrams8, direction reversed: protect val/test by
    // removing from train). The n-gram base is persisted — it feeds the
    // heldout set AND the train probe; the small drop list is checkpointed
    // eagerly before the cache is released.
    val (finalSplit, nDecontam) =
      if (!decontam) (withSplit, -1L)
      else {
        val ng = withSplit
          .select(col("doc_id"), col("split"),
            TrainPrep.hashedNgrams8(col("text")).as("ng"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val held = ng.filter(col("split") =!= "train")
          .select(explode(col("ng")).as("h")).distinct()
        val trainEx = ng.filter(col("split") === "train" && size(col("ng")) > 0)
          .select(col("doc_id"), size(col("ng")).cast("long").as("n_ng"),
            explode(col("ng")).as("h"))
        val dropTrain = trainEx
          .join(held.withColumn("hit", lit(1L)), Seq("h"), "left")
          .groupBy("doc_id", "n_ng").agg(count(col("hit")).as("n_hit"))
          .filter(col("n_hit") * 10 >= col("n_ng"))
          .select("doc_id")
          .localCheckpoint(eager = true)
        ng.unpersist()
        val f = withSplit.join(dropTrain, Seq("doc_id"), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
        (f, f.count())
      }

    // 6. PII scrub (q81's operator). Not a filter: the redacted-doc count
    // is ONE aggregation over the persisted stage.
    import graft.functions.Redaction
    val nRedacted = finalSplit
      .agg(sum(when(Redaction.redactPii(col("text")) =!= col("text"), 1L)
        .otherwise(0L)).as("n"))
      .head().getLong(0)
    val curated = finalSplit.withColumn("text", Redaction.redactPii(col("text")))

    val funnel = Seq(
      "input" -> total, "exact_dedup" -> nExact) ++
      (if (paraExactGate) Seq("exact_para_trim" -> nParaExact) else Nil) ++
      Seq("near_dup_clusters" -> nClusters, "largest_cluster" -> largest,
      "near_dedup" -> nNear) ++
      (if (paraGate) Seq("para_dedup" -> nPara) else Nil) ++
      Seq("quality" -> nQuality,
      "repetition" -> nRep, "boilerplate" -> nBoil) ++
      (if (lmGateE6.isDefined) Seq("lm_gate" -> nLm) else Nil) ++
      (if (decontam) Seq("decontam" -> nDecontam) else Nil) ++
      Seq("pii_redacted" -> nRedacted)
    (curated, funnel,
      () => {
        if (decontam) finalSplit.unpersist()
        gated.unpersist(); deBoiled.unpersist(); ()
      })
  }

  /** Publish gate — q256's expectations shape applied to the ARTIFACT: one
    * aggregate pass over the curated frame re-verifies the pipeline's core
    * output invariants (non-empty; digest-unique — i.e. stage 1's contract
    * still holds on what ships, including after redaction; no PII pattern
    * survives the scrub; every split tag valid). Returns (check,
    * violations) pairs; main fails the build on any non-zero, BEFORE the
    * write — a corrupt corpus never lands where a trainer can read it. */
  def publishGate(curated: org.apache.spark.sql.DataFrame): Seq[(String, Long)] = {
    import graft.functions.Redaction
    val r = curated.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(
        md5(lower(trim(col("text"))).cast("binary")))).as("dups"),
      coalesce(sum(when(Redaction.redactPii(col("text")) =!= col("text"), 1L)
        .otherwise(0L)), lit(0L)).as("pii"),
      coalesce(sum(when(!col("split").isin("train", "val", "test"), 1L)
        .otherwise(0L)), lit(0L)).as("bad_split")).head()
    Seq("non_empty" -> (if (r.getLong(0) > 0) 0L else 1L),
      "unique_digest" -> r.getLong(1),
      "pii_scrubbed" -> r.getLong(2),
      "valid_split" -> r.getLong(3))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CorpusMain <sfDir> <outDir> [lmGateE6] [keep=longest] [decontam] [paradedup] [paraexact]")
    val spark = GraftSession.cli()
    val keepLongest = args.drop(2).contains("keep=longest")
    val decontam = args.drop(2).contains("decontam")
    val paraGate = args.drop(2).contains("paradedup")
    val paraExact = args.drop(2).contains("paraexact")
    val lmGate = args.drop(2)
      .find(a => !a.startsWith("keep=") && a != "decontam" &&
        a != "paradedup" && a != "paraexact")
      .map(_.toLong)
    val (curated, funnel, release) =
      curate(spark, Tables(spark, args(0), "documents"), lmGate, keepLongest,
        decontam, paraGate, paraExact)
    val gate = publishGate(curated)
    gate.foreach { case (c, v) => println(s"gate $c: $v") }
    require(gate.forall(_._2 == 0L),
      s"publish gate failed, corpus NOT written: " +
        gate.filter(_._2 != 0).map { case (c, v) => s"$c=$v" }.mkString(","))
    curated.write.mode("overwrite").partitionBy("lang").parquet(args(1))
    // Composition report of the build that actually shipped (q86's operator
    // over the CURATED set, not the input): the next mix/resample decision
    // (q90's quotas) reads this. Computed while the final stage is still
    // cache-backed, so it costs one aggregation, not a pipeline re-run.
    val mix = TrainPrep.domainMix(curated)
    mix.write.mode("overwrite").parquet(args(1) + "_mix")
    val mixRows = mix.limit(5).collect() // tiny; collected before release()
    release()
    funnel.foreach { case (stage, n) => println(s"$stage: $n") }
    mixRows.foreach { r =>
      println(s"mix: ${r.getString(0)} docs=${r.getLong(1)} tokens=${r.getLong(2)} " +
        s"share_bp=${r.getLong(3)} cum_bp=${r.getLong(4)}")
    }
    spark.stop()
  }
}
