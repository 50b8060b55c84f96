package graft

import org.apache.spark.sql.functions._

/** RunLedger is the one metrics and plan capture behind every harness
  * ledger: totals must see real work, and one window's late task events
  * must never land in the next. */
class RunLedgerSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("measure: a parquet groupBy reports input and shuffle; the next window starts clean") {
    val (rows, m) = RunLedger.measure(spark)(
      Tables(spark, dir, "lineitem").groupBy("l_returnflag")
        .agg(sum("l_quantity")).collect())
    assert(rows.nonEmpty)
    assert(m.inputBytes > 0, m)
    assert(m.shuffleReadBytes > 0 && m.shuffleWriteBytes > 0, m)
    assert(m.wallSec > 0.0)
    assert(m.stages.nonEmpty && m.stages.map(_.stageId) == m.stages.map(_.stageId).sorted)
    // a local-only action runs no task: nothing of the groupBy may bleed in
    val (n, local) = RunLedger.measure(spark)(Seq(1, 2, 3).toDF("x").collect().length)
    assert(n == 3)
    assert(local.shuffleBytes == 0L && local.inputBytes == 0L, local)
    assert(local.stages.isEmpty, local.stages)
  }

  test("executedPlans captures executions during query construction") {
    val (df, plans) = RunLedger.executedPlans(spark)(
      Tables(spark, dir, "orders").groupBy("o_orderstatus").count()
        .localCheckpoint(eager = true))
    assert(plans.nonEmpty, "the eager checkpoint's execution was not captured")
    assert(plans.flatMap(operators.PlanLint.nodes).exists(_.nodeName.contains("Aggregate")))
    // the returned frame is only the checkpoint scan — the plan the
    // capture exists for is not in it
    assert(!operators.PlanLint.nodes(df.queryExecution.executedPlan)
      .exists(_.nodeName.contains("Aggregate")))
  }

  test("resetCaches unpersists leftover RDDs and reports how many there were") {
    RunLedger.resetCaches(spark)
    spark.range(10).rdd.persist().count()
    assert(RunLedger.resetCaches(spark) >= 1)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("jsonString round-trips quote, backslash, newline, tab and control chars") {
    val raw = "a\"b\\c\nd\te\r" + 1.toChar + "f"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s"""{"v":${RunLedger.jsonString(raw)}}""").get("v").asText()
    assert(parsed == raw)
  }
}
