package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

import graft.operators.{AnnIndex, DedupIndex}

/** The plan budget of the standing indexes' read path. A probe is planned
  * around its request: the request's rows are the broadcast side, and an
  * index table (`bands/`, `vectors/`) is only scanned and streamed — no
  * exchange, shuffle or broadcast, ever takes an index row that has not
  * first met the request in an inner or semi broadcast join. Standing
  * tables are read without a schema-inference job, the vectors scans are
  * partition-pruned, and each probe runs a pinned number of jobs — on a
  * fresh, a tombstoned and an optimized index alike. */
class IndexProbePlanSpec extends SparkSpec with BeforeAndAfterEach {

  private val dir = sf("sf0.001")

  override def afterEach(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def tmp(): String = Files.createTempDirectory("graft_probe_plan").toString

  private final case class Budget(jobs: Seq[String], plans: Seq[SparkPlan])

  /** Jobs (named by their stages' call sites) and executed plans of
    * `body`. */
  private def budget(body: => Unit): Budget = {
    val group = s"index-probe-plan-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group)
    try {
      val ((_, plans), _) = RunLedger.measure(spark)(RunLedger.executedPlans(spark)(body))
      val st = spark.sparkContext.statusTracker
      val jobs = st.getJobIdsForGroup(group).sorted.toSeq.map { j =>
        st.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq)
          .flatMap(s => st.getStageInfo(s).map(_.name)).mkString("+")
      }
      Budget(jobs, plans)
    } finally spark.sparkContext.clearJobGroup()
  }

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec        => Seq(q.plan)
    case r: ReusedExchangeExec    => Seq(r.child)
    case _                        => p.children
  }

  private def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)

  private def indexScan(p: SparkPlan, tables: Set[String]): Boolean = p match {
    case s: FileSourceScanExec =>
      s.relation.location.rootPaths.exists(r => tables.contains(r.getName))
    case _ => false
  }

  /** Does `p` reach an index-table scan along a path on which no inner or
    * semi broadcast join has met the request? Such a join's streamed side
    * is request-sized; its broadcast side is an exchange of its own,
    * checked on its own. */
  private def reachesRaw(p: SparkPlan, tables: Set[String]): Boolean = p match {
    case j: BroadcastHashJoinExec if j.joinType == Inner || j.joinType == LeftSemi => false
    case _ => indexScan(p, tables) || kids(p).exists(reachesRaw(_, tables))
  }

  private val IndexTables = Set("bands", "vectors")

  private def assertDeltaSized(what: String, b: Budget, vectorScans: Int = 0): Unit = {
    val nodes = b.plans.flatMap(all)
    assert(nodes.nonEmpty, s"$what: no executed plan captured")
    val raw = nodes.collect { case e: Exchange if kids(e).exists(reachesRaw(_, IndexTables)) =>
      e.nodeName }
    assert(raw.isEmpty, s"$what: an index table reaches ${raw.distinct.mkString(", ")}")
    val schemaJobs = b.jobs.filter(_.startsWith("parquet at"))
    assert(schemaJobs.isEmpty, s"$what: schema-inference jobs ${schemaJobs.mkString("; ")}")
    val vecScans = nodes.collect { case s: FileSourceScanExec if indexScan(s, Set("vectors")) => s }
    assert(vecScans.size == vectorScans, s"$what: ${vecScans.size} vectors scans")
    vecScans.foreach(s => assert(s.partitionFilters.nonEmpty, s"$what: unpruned vectors scan"))
  }

  private def assertJobs(what: String, b: Budget, n: Int): Unit =
    assert(b.jobs.size == n, s"$what: ${b.jobs.size} jobs, pinned at $n: ${b.jobs.mkString("; ")}")

  // ---- fixtures -------------------------------------------------------------

  private def docs = Tables(spark, dir, "documents")
  private def emb = Tables(spark, dir, "embeddings")

  /** fresh (two batches), tombstoned, optimized */
  private def dedupIndexes(): Seq[(String, String)] = {
    val d = docs
    val fresh = tmp()
    DedupIndex.build(d.filter(col("doc_id") % 10 < 5), fresh)
    DedupIndex.append(d.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 =!= 7), fresh)
    val tomb = tmp()
    DedupIndex.build(d.filter(col("doc_id") % 10 < 5), tomb)
    DedupIndex.append(d.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 =!= 7), tomb)
    DedupIndex.remove(d.filter(col("doc_id") % 10 === 3).select("doc_id"), tomb)
    val opt = tmp()
    DedupIndex.optimize(spark, tomb, opt)
    Seq("fresh" -> fresh, "tombstoned" -> tomb, "optimized" -> opt)
  }

  private def annIndexes(): Seq[(String, String)] = {
    val e = emb
    val cent = AnnIndex.seedCentroids(e, 8)
    val cw = AnnIndex.seedCodebook(e)
    def grown(): String = {
      val idx = tmp()
      AnnIndex.build(e.filter(col("vec_id") % 10 < 5), cent, idx, Some(cw))
      AnnIndex.append(spark, e.filter(col("vec_id") % 10 >= 5), idx)
      idx
    }
    val fresh = grown()
    val tomb = grown()
    AnnIndex.remove(e.filter(col("vec_id") % 10 === 3).select("vec_id"), tomb)
    val opt = tmp()
    AnnIndex.optimize(spark, tomb, opt)
    Seq("fresh" -> fresh, "tombstoned" -> tomb, "optimized" -> opt)
  }

  private def queries: DataFrame = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  // ---- the budget -------------------------------------------------------------

  test("DedupIndex.probe: request-screened bands, no schema job, pinned jobs") {
    val delta = docs.filter(col("doc_id") % 10 === 7)
    for ((kind, idx) <- dedupIndexes()) {
      var n = 0L
      val b = budget { n = DedupIndex.probe(spark, delta, idx).count() }
      assert(n > 0, s"$kind: the probe matched nothing")
      assertDeltaSized(s"dedup $kind", b)
      // the counts measured: the delta's cached minhash base, the
      // broadcasts of the request and of the sigs, the bucket count's and
      // the candidates' exchanges, the answer; one more broadcast for the
      // tombstone ids
      assertJobs(s"dedup $kind", b, if (kind == "tombstoned") 13 else 12)
    }
  }

  test("AnnIndex.probe and probePq: broadcast probe set, pruned scans, pinned jobs") {
    val q = queries
    for ((kind, idx) <- annIndexes()) {
      val exact = budget(AnnIndex.probe(spark, q, idx).collect())
      val tombs = if (kind == "tombstoned") 1 else 0
      assertDeltaSized(s"probe $kind", exact, vectorScans = 1)
      // the centroids collected, the probe set broadcast, the leaf top-k
      // exchange, the answer; one more broadcast for the tombstone ids
      assertJobs(s"probe $kind", exact, 4 + tombs)
      val pq = budget(AnnIndex.probePq(spark, q, idx).collect())
      assertDeltaSized(s"probePq $kind", pq, vectorScans = 2)
      // the counts measured: the exact probe's, plus the codebook LUT, the
      // ADC and shortlist exchanges and the re-rank's broadcasts
      assertJobs(s"probePq $kind", pq, 10 + tombs)
    }
  }

  // ---- the optimize budget ----------------------------------------------------

  /** Every verification job of an optimize runs at one `collect` call
    * site in Reconcile (all rewritten tables fold in one aggregate): its
    * exchange's map stage and its result, plus the tombstone broadcast of
    * the live view. */
  private def assertOneCheck(what: String, b: Budget, tombs: Int): Unit = {
    val checks = b.jobs.filter(_.contains("Reconcile"))
    val sites = checks.flatMap(_.split('+')).distinct
    assert(sites.size == 1 && sites.head.startsWith("collect at Reconcile.scala:"),
      s"$what: verification call sites ${sites.mkString("; ")}")
    assert(checks.size == 2 + tombs, s"$what: ${checks.size} verification jobs")
  }

  test("DedupIndex.optimize and AnnIndex.optimize: one verification site, pinned jobs") {
    for ((kind, idx) <- dedupIndexes().take(2)) {
      val tombs = if (kind == "tombstoned") 1 else 0
      val b = budget(DedupIndex.optimize(spark, idx, tmp()))
      assertOneCheck(s"dedup optimize $kind", b, tombs)
      // the counts measured: sigs and bands each a shuffle and a write
      // (one more tombstone broadcast each), then the verification
      assertJobs(s"dedup optimize $kind", b, 6 + 3 * tombs)
    }
    for ((kind, idx) <- annIndexes().take(2)) {
      val tombs = if (kind == "tombstoned") 1 else 0
      val b = budget(AnnIndex.optimize(spark, idx, tmp()))
      assertOneCheck(s"ann optimize $kind", b, tombs)
      // centroids, codebooks and vectors each a shuffle and a write (one
      // more tombstone broadcast for vectors), then the verification
      assertJobs(s"ann optimize $kind", b, 8 + 2 * tombs)
    }
  }
}
