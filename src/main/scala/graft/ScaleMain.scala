package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 10× scale smoke (VERDICT r9 #5) — the missing evidence tier
  * between sf0.1 correctness and the 100 TB design claims: actually run
  * the most expensive pipelines on ~10× the data and measure wall time,
  * spill, and plan shape. NOT oracle-gated (the replicated fixture is a
  * builder tool, not driver testdata).
  *
  * ```
  * runMain graft.ScaleMain gen <srcSfDir> <outDir> [factor]   # replicate
  * runMain graft.ScaleMain run <sfDir> <outJsonl> [q1,q2,...] # smoke + stage rows
  * ```
  *
  * `gen` writes `factor` (default 10) id-shifted copies of each table:
  *  - fact/entity keys shift by `copy * 1e9` so every copy's join graph is
  *    intact and disjoint from the others (cardinalities scale linearly,
  *    per-key group sizes stay constant — the realistic scale-up shape);
  *  - `region`/`nation` stay single (dimensions don't grow with volume);
  *  - `documents.text` gets a per-copy token prefix, so each copy is its
  *    own similarity universe: cross-copy shingle overlap is ZERO and the
  *    near-dup graph replicates structurally instead of collapsing into
  *    10-clique exact-dup blobs (which would measure the cap, not scale);
  *  - `events.ts` is left as-is: event density per hour grows 10×, the
  *    realistic shape for a 10× busier product;
  *  - `embeddings` shift ids only (identical vectors across copies change
  *    ANN answers, not ANN cost — this is a performance fixture).
  *
  * `run` executes the heaviest pipelines (the VERDICT r9 list), or any
  * listed SparkEntry queries, with the Bench methodology (noop sink,
  * cache-cleared timed run), recording wall seconds, shuffle spill (memory
  * + disk, from task metrics), PlanLint findings on the EXECUTED plans and
  * one row per physical stage. Compare against the same
  * queries at sf0.1: ~10× data should cost ≲15× time with zero new lint
  * findings — that table lands in SCALE.md.
  */
object ScaleMain {

  private val Offset = 1000000000L

  /** (table, key columns to shift per copy) */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def gen(spark: SparkSession, src: String, out: String, factor: Int,
      fixedVocab: Boolean = false): Unit = {
    // dimensions: one copy, verbatim
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // one job per table: the copy index is a broadcast range crossed into
    // the scan (the r10 form appended copy-by-copy — 100 sequential jobs
    // per table at the 100x tier). Output content is identical: keys
    // shift by copy*1e9, document tokens get the same c<copy> prefix.
    val copies = spark.range(factor).select(col("id").as("__copy"))
    val stop = graft.queries.TrainPrep.Stop
    keyCols.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val shifted = keys.foldLeft(df.crossJoin(broadcast(copies))) { (acc, k) =>
        acc.withColumn(k, col(k) + col("__copy") * lit(Offset))
      }
      val copy =
        if (t == "documents" && fixedVocab) {
          // FIXED-VOCAB mode (VERDICT r15 #3): the prefix mode below grows
          // the vocabulary LINEARLY with the factor — real corpora grow
          // sublinearly (Heaps), so state whose size is vocabulary-bounded
          // (q299/q301 pair counts, q296/q300 feature buckets, q298 score
          // domains) reads artificially inflated on prefix fixtures. Here
          // each copy applies a per-copy ROTATION of the base CONTENT
          // vocabulary (rank -> (rank + copy*step) mod |V|, step coprime
          // to |V| so distinct copies get distinct shifts): the corpus
          // vocabulary is EXACTLY the base vocab at any factor, every
          // copy's token stream is isomorphic to the original (token
          // counts, stopword ratio, within-copy dup structure all
          // preserved — stopwords are not rotated), and cross-copy shingle
          // overlap stays ~zero because a content shingle's ranks land on
          // different target words in every copy.
          val vocab = df
            .select(explode(split(col("text"), "\\s+")).as("tok"))
            .filter(length(col("tok")) > 0)
            .filter(!col("tok").isin(stop: _*))
            .distinct()
            .withColumn("rank", row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy("tok"))
              .cast("long") - 1)
            .localCheckpoint(eager = true) // builder-scale vocab sort
          val vsize = vocab.count()
          val step = Seq(10007L, 10009L, 10037L, 10039L)
            .find(p => vsize % p != 0L).get
          val ex = shifted
            .select(col("doc_id"), col("__copy"),
              posexplode(split(col("text"), "\\s+")).as(Seq("pos", "tok")))
          val rebuilt = ex
            .join(broadcast(vocab), Seq("tok"), "left")
            .withColumn("rank2",
              pmod(col("rank") + col("__copy") * lit(step), lit(vsize)))
            .join(broadcast(vocab.select(col("rank").as("rank2"),
              col("tok").as("tok2"))), Seq("rank2"), "left")
            .withColumn("otok", coalesce(col("tok2"), col("tok")))
            .groupBy("doc_id")
            .agg(concat_ws(" ", transform(
              array_sort(collect_list(struct(col("pos"), col("otok")))),
              p => p.getField("otok"))).as("__text2"))
          shifted.join(rebuilt, Seq("doc_id"), "left")
            .withColumn("text", coalesce(col("__text2"), col("text")))
            .drop("__text2")
        } else if (t == "documents") {
          // per-copy token prefix on CONTENT words only: cross-copy
          // shingle overlap stays ~zero (every 3-shingle containing a
          // content word differs between copies), while stopwords keep
          // their surface form — the r15 fix: prefixing stopwords too
          // zeroed every copy's stopword ratio and the curated quality
          // gates dropped 100% of the scale-tier feed (the pipeline
          // measurement then exercised empty batches, not scale)
          shifted.withColumn("text",
            concat_ws(" ", transform(split(col("text"), "\\s+"),
              tok => when(tok.isin(stop: _*), tok)
                .otherwise(concat(lit("c"), col("__copy").cast("string"), tok)))))
        } else shifted
      copy.drop("__copy")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"replicated $t x$factor" +
        (if (t == "documents" && fixedVocab) " (fixed-vocab rotation)" else ""))
    }
  }

  /** The heaviest pipelines — VERDICT r9's list, plus the round-10
    * standing-state lifecycles (incremental clusters, view retraction):
    * multi-step build/append/retract chains whose scale failure mode —
    * state tables growing superlinearly with the corpus — only shows on
    * a grown fixture. */
  val SmokeQueries: Seq[String] = Seq(
    "q37_minhash_lsh", "q70_dup_clusters", "q85_decontaminate",
    "q91_lm_score", "q101_pagerank", "q128_canonical", "q188_profile",
    "q220_prefix_join", "q233_lsh_eval", "q267_ivfpq_index",
    "q274_view_retract", "q275_incr_clusters",
    // r12: the Bloom screen (its broadcast stays 16384 words at ANY corpus
    // size — the claim the grown fixture checks), the standing-filter
    // lifecycle, and the GD training loop (3 aggregation rounds whose
    // shuffle payload is 4 longs per partition regardless of corpus size)
    "q282_bloom_decontam", "q283_standing_bloom", "q284_train_classifier",
    "q286_grouped_training", "q287_repeated_spans",
    // r13: the exact prefix join's shard loop — run BESIDE q220 at the
    // grown tiers so per-shard peak memory/spill is measurable against
    // the one-shot form on the same fixture
    "q289_sharded_prefix",
    // r14: convergence-controlled training — iteration count is
    // data-dependent, so the grown tiers check both the per-pass
    // aggregate-broadcast cost AND that the loss-plateau loop still
    // terminates early on 100x data
    "q290_converged_training",
    // r15 continuation: the four new curation operators. q296 and q299
    // are linear (bucket table / merge table bounded at any corpus size);
    // q298 is a per-lang partitioned sort; q297 SCALES K with the corpus
    // (semdedupK = clamp(8..4096, n/250) — K=8 only at the oracle SFs),
    // so within-cluster pair mass stays ~n·(n/K) and the grown tiers
    // measure the scaled-K trade the SemDeDup paper prescribes
    "q296_dsir_weights", "q297_semdedup", "q298_ppl_buckets",
    "q299_bpe_merges", "q300_incr_dsir", "q301_bpe_apply",
    // r16: q298's scale form — cutoffs from the distinct-score histogram,
    // map-side assignment; the tiers measure it beating q298's per-lang
    // single-task sort (the r15 VERDICT weak flag) — plus the two new
    // dedup queries (paragraph LSH roll-up; diagonal-run maximal spans,
    // whose pair mass is cap²-bounded per window hash)
    "q302_ppl_cutoffs", "q303_para_dedup", "q304_maximal_spans",
    "q305_para_trim",
    // r17: batched BPE under the gate — 8 merges in 2 passes; per pass one
    // pair-count shuffle + one map-only scan, so the tier cost is ~2/8 of
    // greedy's at the same merge count (SCALE.md "BPE round axis") —
    // and the q304 cap-loss audit, whose capped band only materializes on
    // replicated tiers (the fixtures never exceed 32 occurrences), and the
    // ANN drift audit (20-query ground truth × the grown corpus — the
    // brute-force side is the only term that scales)
    "q306_bpe_batch", "q307_ann_drift", "q308_span_cap_audit",
    "q309_ann_fit_ledger", "q310_para_boundary",
    // r17: exact paragraph dedup — one digest shuffle, the cheapest op here
    "q311_para_exact",
    // r18: the boundary-gated exact chain + standing-state forms — the
    // takedown's affected-keys rebuild and the drift-advised ANN reindex
    // (one Lloyd step + one assignment rebuild, both linear); q312 runs
    // the same digest shuffle as q311 split into three blind appends
    "q312_incr_para_exact", "q313_para_boundary_exact",
    "q314_para_takedown", "q315_ann_reindex")

  /** Run each query of `only` (comma-separated SparkEntry names; default
    * [[SmokeQueries]]) through [[RunLedger.query]] and write the ledger
    * to `outPath`: per query one row — `ok`, `wall_sec`, spill, the max
    * per-task peak execution memory (`peak_task_mem_bytes`: how big one
    * task's unified-memory footprint got, where spill only says pressure
    * happened) and PlanLint findings on the EXECUTED plans
    * (localCheckpoint-ing queries return a LogicalRDD; the captured plans
    * see the real work) — then its stage rows ([[RunLedger.StageRow]]),
    * which name the physical stage a query's spill or shuffle lives in
    * (e.g. `q220_prefix_join` puts the exact prefix join's spill in its
    * verify join). `peak_mem_sum_mb` is the SUM of a stage's task peaks,
    * an upper bound on any one task's footprint; stages of jobs run while
    * a query is built (localCheckpoint) are included. A host-calibration
    * row closes the file. */
  def run(spark: SparkSession, dir: String, outPath: String,
      only: Option[String] = None): Unit = {
    // smoke members keep their SmokeQueries order, any others follow sorted
    val names = SparkEntry.parseOnly(only).fold(SmokeQueries)(sel =>
      SmokeQueries.filter(sel) ++ (sel -- SmokeQueries).toSeq.sorted)
    val ledger = RunLedger.open(outPath, "ScaleMain", dir)
    names.foreach { name =>
      val r = RunLedger.query(spark)(SparkEntry.queries(name)(spark, dir))
      val m = r.totals
      val findings = r.plans.flatMap(operators.PlanLint.audit).map(_.toString).distinct
      ledger.write(RunLedger.Row("query" -> name, "ok" -> r.ok,
        "wall_sec" -> m.wallSec, "spill_mem_bytes" -> m.memSpillBytes,
        "spill_disk_bytes" -> m.diskSpillBytes,
        "peak_task_mem_bytes" -> m.peakTaskMemBytes,
        "n_stages" -> m.stages.size, "lint" -> findings))
      m.stages.foreach(st => ledger.write(st.row(name)))
    }
    ledger.write(RunLedger.Row(
      "calib_mt_sec" -> Bench.calibrate(GraftSession.cpus), "sf_dir" -> dir))
    println(s"wrote $outPath")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleMain gen <srcSfDir> <outDir> [factor] [fixed-vocab] | " +
        "run <sfDir> <outJsonl> [q1,q2,...]")
    val spark = GraftSession.cli()
    args(0) match {
      case "gen" => gen(spark, args(1), args(2),
        if (args.length >= 4) args(3).toInt else 10,
        fixedVocab = args.lift(4).contains("fixed-vocab"))
      case "run" => run(spark, args(1), args(2), args.lift(3))
      case other => sys.error(s"unknown command: $other")
    }
    spark.stop()
  }
}
