package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, PlanLint}

/** The plan budget of the standing ANN index's write path. Assignment and
  * PQ encode run per row against the driver-collected centroids and
  * codebook, so `build` and `append` write in one map stage: no exchange
  * (shuffle or broadcast), no SortAggregate, no nested-loop join, zero
  * shuffle bytes, and a fixed number of jobs — one collect per candidate
  * frame, one per table written, none to read a standing table's
  * schema. */
class AnnIndexWritePlanSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def emb = Tables(spark, dir, "embeddings")

  private def tmp(): String = Files.createTempDirectory("graft_ann_plan").toString

  /** Jobs (named by their stages' call sites), executed plan nodes and
    * shuffle bytes of `body`. */
  private def budget(body: => Unit): (Seq[String], Seq[SparkPlan], Long) = {
    val group = s"ann-write-plan-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group)
    try {
      val ((_, plans), totals) =
        RunLedger.measure(spark)(RunLedger.executedPlans(spark)(body))
      val st = spark.sparkContext.statusTracker
      val jobs = st.getJobIdsForGroup(group).sorted.toSeq.map { j =>
        st.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq)
          .flatMap(s => st.getStageInfo(s).map(_.name)).mkString("+")
      }
      (jobs, plans.flatMap(PlanLint.nodes), totals.shuffleBytes)
    } finally spark.sparkContext.clearJobGroup()
  }

  private def assertMapOnly(what: String, nodes: Seq[SparkPlan], shuffle: Long): Unit = {
    assert(nodes.nonEmpty, s"$what: no executed plan captured")
    val banned = nodes.filter {
      case _: Exchange | _: SortAggregateExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    assert(banned.isEmpty, s"$what: ${banned.map(_.nodeName).distinct.mkString(", ")}")
    assert(shuffle == 0L, s"$what: $shuffle shuffle bytes")
  }

  test("IVF-PQ build and append: one map stage per write, no shuffle, pinned job counts") {
    val e = emb
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val cw = AnnIndex.seedCodebook(e)
    val (even, odd) = (e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1))
    val idx = tmp()
    val (buildJobs, buildNodes, buildShuffle) = budget(AnnIndex.build(even, cent, idx, Some(cw)))
    assertMapOnly("build", buildNodes, buildShuffle)
    // centroids and codebooks written, both candidate frames collected,
    // vectors written
    assert(buildJobs.size == 5, s"build jobs: ${buildJobs.mkString("; ")}")
    val (appendJobs, appendNodes, appendShuffle) = budget(AnnIndex.append(spark, odd, idx))
    assertMapOnly("append", appendNodes, appendShuffle)
    // the frozen centroids and codebooks collected (their schemas come
    // from the footers, with no job), vectors written
    assert(appendJobs.size == 3, s"append jobs: ${appendJobs.mkString("; ")}")
  }

  test("IVF append without codebooks: one collect, one write") {
    val e = emb
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val idx = tmp()
    AnnIndex.build(e.filter(col("vec_id") % 2 === 0), cent, idx)
    val odd = e.filter(col("vec_id") % 2 === 1)
    val (jobs, nodes, shuffle) = budget(AnnIndex.append(spark, odd, idx))
    assertMapOnly("append", nodes, shuffle)
    assert(jobs.size == 2, s"append jobs: ${jobs.mkString("; ")}")
  }
}
