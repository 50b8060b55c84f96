package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.PlanLint

/** PlanLint must flag the constructions that die at scale and stay quiet
  * on the plans the library actually ships on its hot paths. */
class PlanLintSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("flags a cartesian product") {
    // a broadcastable side plans as BroadcastNestedLoopJoin, a big one as
    // CartesianProduct — both are the |L|·|R| shape the lint must surface
    val o = Tables(spark, dir, "orders").select("o_orderkey")
    val c = Tables(spark, dir, "customer").select("c_custkey")
    val findings = PlanLint.audit(o.crossJoin(c))
    assert(findings.exists(f =>
      f.rule == "cartesian-product" || f.rule == "nested-loop-join"),
      findings.mkString("; "))
  }

  test("flags a non-equi nested-loop join") {
    val o = Tables(spark, dir, "orders")
    val l = Tables(spark, dir, "lineitem")
    val theta = l.join(o, col("l_extendedprice") > col("o_totalprice"))
    val findings = PlanLint.audit(theta)
    assert(findings.exists(f =>
      f.rule == "nested-loop-join" || f.rule == "cartesian-product"),
      findings.mkString("; "))
  }

  test("flags an unpartitioned window over a full table") {
    val w = org.apache.spark.sql.expressions.Window.orderBy("l_orderkey")
    val running = Tables(spark, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
    val findings = PlanLint.audit(running)
    assert(findings.exists(_.rule == "single-partition-window"), findings.mkString("; "))
  }

  test("hot-path queries stay lint-clean") {
    // the flagship relational/dedup/similarity paths must carry none of
    // the flagged shapes. Deliberately absent: tiny-aggregate windows
    // (q208 on |sources| rows) and the broadcast-query cross-score
    // pattern (q39/q56 nested-loop over a k-row broadcast side) — both
    // are advisory findings a reviewer signs off on, not regressions
    for (q <- Seq("q01_pricing_summary", "q03_shipping_priority", "q35_dedup_exact",
        "q37_minhash_lsh", "q104_funnel", "q121_sessions",
        "q213_profit", "q219_hist_quantiles")) {
      val findings = PlanLint.audit(SparkEntry.queries(q)(spark, dir))
      assert(findings.isEmpty, s"$q: ${findings.mkString("; ")}")
    }
  }

  // Standing regression net: EVERY query's physical plan is audited. A
  // finding is only tolerated when its (query, rule) pair is recorded
  // here with the reason it was accepted — anything new fails.
  // (a) nested-loop joins whose build side is a deliberately broadcast
  // tiny frame — k query vectors, K centroids/codebooks, a 1-row global
  // aggregate, or a bounded eval sample. The |big|·|tiny| scan is the
  // intended plan (VERDICT r6 plan audit); the lint can't see size, a
  // plan audit can.
  // The vector assignment kernels (nearest centroid, PQ encode, L2
  // assignment) and the top-nprobe centroid selection run per row with
  // no join, so their callers q40/q51/q59/q76/q78/q169/q237/q253/q315
  // are off this list.
  private val tinyBroadcastJoin = Seq(
    "q36_jaccard_pairs", "q39_cosine_topk",
    "q49_edit_distance", "q55_ivf_recall",
    "q56_topk_agg", "q79_trained_ivf", "q83_containment", "q99_pq_search",
    "q100_pq_recall", "q106_rolling_dau", "q109_bm25", "q113_silhouette",
    "q119_pmi", "q153_baskets", "q154_cramers_v", "q156_jsd",
    "q171_lsh_recall", "q174_label_agreement",
    "q179_value_drift", "q192_key_skew", "q195_calibration",
    "q218_log_odds", "q221_incremental", "q229_kmv_setops",
    "q240_tablesample", // two 1-row CTEs (sample count × total count)
    "q185_naive_bayes", // prior vs broadcast 1-row total (listener-visible)
    "q247_pq_rerank", // q99's 4-row codebook cartesian feeds the shortlist
    "q250_tpch11", // 1-row global (total, count) threshold broadcast
    "q252_rhp_neardup", // 24-row hyperplane table cross into signatures
    "q256_expectations", // 1-row checks aggregate × 1-row anti-join count
    "q261_retrieval_eval", // q109's 1-row (n_docs, sum_dl) totals cross
    "q267_ivfpq_index", // probePq's query × 4-codeword (pqLut) cross
    "q276_weighted_bernoulli", // 1-row broadcast total-weight cross (PPS denominator)
    "q280_incr_bm25", // q109's 1-row (n_docs, sum_dl) totals cross over state
    "q281_bm25_takedown", // same totals cross over the post-retraction state
    "q282_bloom_decontam", // 1-row packed-Bloom map cross (<=16384 entries) screens map-side
    "q283_standing_bloom", // same 1-row filter-map cross from the standing state
    "q284_train_classifier", // 1-row GD weight vector cross, once per iteration
    "q285_train_eval", // same weight-vector cross: 3 train steps + 1 eval pass
    "q290_converged_training", // same 1-row weight cross, loop-until-converged
    "q293_bloom_audit", // 1-row n_ngrams total cross into the 3-row per-mBits aggregate
    "q297_semdedup", // K-row trained-centroid cross of its packed-BIGINT cosine argmax (assignCos)
    "q307_ann_drift", // 20-row query-set cross (q39's shape)
    "q309_ann_fit_ledger") // 1-row build-anchor cross (fitLedger)
  // (b) unpartitioned windows (and the SinglePartition exchange feeding
  // them) that run over post-aggregate domains — |days|, |sources|,
  // |deciles|, |clusters|, vocabulary heads — or over semantics that are
  // inherently global-order (exact Gini/Lorenz/AUC/ntile). Bounded row
  // counts at any corpus scale; reviewed in VERDICT r6.
  private val smallDomainWindow = Seq(
    "q86_domain_mix", "q92_zipf", "q94_vocab_coverage", "q96_temp_mix",
    "q123_gini", "q129_skyline", "q130_rfm", "q141_share_of_total",
    "q142_moving_avg", "q149_benford", "q151_kaplan_meier", "q165_lorenz",
    "q177_hour_heatmap", "q181_auc", "q189_mutual_info", "q192_key_skew",
    "q195_calibration", "q196_decompose", "q198_er_eval", "q208_apportion",
    "q217_rrf", "q218_log_odds", "q226_pct_of_parent",
    "q230_compaction_plan", "q232_heaps_curve",
    // totals window over the 1024-row hashed-bucket aggregate (q300
    // reads the same counts from the standing AggState scalars)
    "q296_dsir_weights", "q300_incr_dsir",
    // r17 audits: base/drift deltas over the 2-row per-slice fold;
    // win-share window over the <=3-row cap-band aggregate
    "q307_ann_drift", "q308_span_cap_audit")
  private val allow: Map[String, Set[String]] =
    (tinyBroadcastJoin.map(_ -> Set("nested-loop-join")) ++
      smallDomainWindow.map(_ ->
        Set("single-partition-window", "single-partition-exchange")))
      .groupMapReduce(_._1)(_._2)(_ ++ _)
  // ~18 queries execute their pipeline during construction and return a
  // localCheckpoint — auditing only the returned frame would walk a
  // trivial LogicalRDD scan and miss exactly the heaviest plans.
  // RunLedger.executedPlans captures every plan EXECUTED while fn() runs
  // (checkpoint jobs, eager counts) so those are audited too.
  // The tiny-broadcast sign-off is CHECKED, not trusted: every tolerated
  // nested-loop-join must prove its broadcast side holds under this many
  // rows (metrics on executed plans, a bounded probe on lazy ones) — an
  // undeterminable count fails the sweep just like a fat side would.
  private val BnljBound = 5000L

  /** One query's sweep result: the lint offences and the sorted shape
    * lines of every plan it built or executed. */
  private case class Swept(name: String, bad: Seq[String], shapes: Seq[String])

  /** Every SparkEntry query built once at sf0.001: its lint offences and
    * the pre-AQE shape of each plan, kept as strings so no plan (and no
    * persisted lineage) outlives its query. */
  private lazy val surface: Seq[Swept] =
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) yield {
      val bad = scala.collection.mutable.ListBuffer[String]()
      val (findings, shapes) =
        try {
          val (directPlan, capturedPlans) = RunLedger.executedPlans(spark)(
            fn(spark, dir).queryExecution.executedPlan)
          val direct = PlanLint.audit(directPlan)
          if (allow.getOrElse(name, Set.empty).contains("nested-loop-join")) {
            val sides = (directPlan +: capturedPlans)
              .flatMap(PlanLint.broadcastSideRows(_, BnljBound.toInt))
            sides.foreach {
              case Some(n) if n > BnljBound =>
                bad += s"$name: allow-listed BNLJ broadcast side has >= $n rows (bound $BnljBound)"
              case None =>
                bad += s"$name: allow-listed BNLJ broadcast side row count undeterminable"
              case _ => ()
            }
          }
          (direct ++ capturedPlans.flatMap(PlanLint.audit),
            (directPlan +: capturedPlans).map(PlanShapes.render).sorted)
        } catch { case e: Exception =>
          (Seq(PlanLint.Finding("audit-error", e.toString.take(120))), Seq("audit-error"))
        }
      val unexpected = findings.distinct
        .filterNot(f => allow.getOrElse(name, Set.empty).contains(f.rule))
      if (unexpected.nonEmpty) bad += s"$name: ${unexpected.mkString("; ")}"
      // queries may persist/localCheckpoint during construction — drop all
      // blocks so the sweep's memory stays flat (the bench-sweep lesson)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Swept(name, bad.toList, shapes.map(s => s"$name\t$s"))
    }

  test("full SparkEntry surface: findings only where a reviewer signed off") {
    val bad = surface.flatMap(_.bad)
    assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
  }

  test("full SparkEntry surface: pre-AQE plan shapes match plans/shapes.txt") {
    // A refactor that claims "plans unchanged" proves it here. Only the
    // plans AQE starts from are compared: final adaptive plans pick join
    // sides and stage order from which stage finishes first.
    val golden = Path.of("plans/shapes.txt")
    assert(Files.exists(golden), s"$golden missing (run from the repo root)")
    val mismatch = PlanShapes.compare(surface.flatMap(_.shapes),
      Files.readString(golden), Path.of("target/plan-shapes.actual.txt"))
    assert(mismatch.isEmpty, mismatch.getOrElse(""))
  }

  test("q74's distributed prefix sum is exactly the fix for the flagged window form") {
    import org.apache.spark.sql.expressions.Window
    val toksDf = Tables(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
    // naive global running sum: flagged
    val naive = toksDf.withColumn("s",
      sum("n").over(Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(PlanLint.audit(naive).exists(_.rule == "single-partition-window"))
    // the shipped two-phase form: clean
    val fixed = graft.operators.PrefixSum.runningSum(toksDf, "doc_id", "n", "s")
    assert(PlanLint.audit(fixed).isEmpty,
      PlanLint.audit(fixed).mkString("; "))
  }
}

/** The plan-shape golden: each plan as its nested physical node names,
  * read from the plan AQE starts from (`inputPlan`), so join-side and
  * stage-order choices made at run time do not show. */
object PlanShapes {

  /** `Node(child, child)`; subquery plans follow the node in `[...]`. */
  def render(p: SparkPlan): String = p match {
    case a: AdaptiveSparkPlanExec => render(a.inputPlan)
    case _ =>
      val subs = p.subqueries.map(render)
      val kids = p.children.map(render)
      p.nodeName.trim +
        (if (subs.isEmpty) "" else subs.mkString("[", ", ", "]")) +
        (if (kids.isEmpty) "" else kids.mkString("(", ", ", ")"))
  }

  /** None when `lines` equal `golden`; else the queries whose lines differ,
    * with the actual file written to `actualOut` (copy it over the golden
    * to accept a reviewed plan change). */
  def compare(lines: Seq[String], golden: String, actualOut: Path): Option[String] = {
    val actual = lines.mkString("", "\n", "\n")
    if (actual == golden) None
    else {
      Files.createDirectories(actualOut.getParent)
      Files.writeString(actualOut, actual)
      def byQuery(text: String) =
        text.split("\n").filter(_.nonEmpty).toSeq.groupBy(_.takeWhile(_ != '\t'))
      val (a, g) = (byQuery(actual), byQuery(golden))
      val changed = (a.keySet ++ g.keySet).toSeq.sorted
        .filter(q => a.get(q) != g.get(q))
      Some(s"plan shapes changed for ${changed.size} queries: ${changed.mkString(", ")}; " +
        s"actual written to $actualOut")
    }
  }
}
