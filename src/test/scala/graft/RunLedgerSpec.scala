package graft

import scala.jdk.CollectionConverters._

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

  test("jnum renders locale-independent compact decimals") {
    assert(RunLedger.jnum(239.77181634299984) === "239.7718")
    assert(RunLedger.jnum(1.0) === "1")
    assert(RunLedger.jnum(0.05) === "0.05")
    assert(RunLedger.jnum(1234.5, 3) === "1234.5")
    assert(RunLedger.jnum(Double.NaN) === "0")
    assert(RunLedger.jnum(120.0) === "120") // stripTrailingZeros must not go sci
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  test("a row renders every field kind as one JSON object that parses back") {
    val nasty = "q\"uote \\back\nnew\ttab\r" + 1.toChar + 31.toChar
    val line = RunLedger.Row("s" -> nasty, "d" -> 0.125, "nan" -> Double.NaN,
      "inf" -> Double.PositiveInfinity, "l" -> (1L << 40), "i" -> -3,
      "b" -> true, "nested" -> RunLedger.Row("k\"" -> 7L, "deeper" -> RunLedger.Row()),
      "arr" -> Seq(nasty, ""), "empty" -> Seq.empty[String]).render
    assert(!line.contains("\n"))
    val t = json.readTree(line)
    assert(t.fieldNames().asScala.toSeq == Seq("s", "d", "nan", "inf", "l", "i",
      "b", "nested", "arr", "empty"))
    assert(t.get("s").asText() == nasty)
    assert(t.get("d").asDouble() == 0.125)
    // NaN and infinity render as jnum's 0, so the line still parses
    assert(t.get("nan").asText() == "0" && t.get("inf").asText() == "0")
    assert(t.get("l").asLong() == (1L << 40) && t.get("i").asInt() == -3)
    assert(t.get("b").asBoolean())
    assert(t.get("nested").get("k\"").asLong() == 7L)
    assert(t.get("nested").get("deeper").size() == 0)
    assert(t.get("arr").get(0).asText() == nasty && t.get("arr").get(1).asText() == "")
    assert(t.get("empty").isArray && t.get("empty").size() == 0)
    intercept[IllegalArgumentException](RunLedger.Row("x" -> 1.5f).render)
  }

  test("opening a ledger truncates it, writes the header, then appends one line per row") {
    val path = java.nio.file.Files.createTempDirectory("graft_ledger").resolve("l.jsonl")
    java.nio.file.Files.writeString(path, "stale line one\nstale line two\n")
    val ledger = RunLedger.open(path.toString, "RunLedgerSpec", "/some/sf dir")
    def lines = java.nio.file.Files.readAllLines(path).asScala.toSeq
    assert(lines.size == 1, lines)
    val header = json.readTree(lines.head)
    assert(header.get("main").asText() == "RunLedgerSpec")
    assert(header.get("sf_dir").asText() == "/some/sf dir")
    assert(header.get("cpus").asInt() == GraftSession.cpus)
    val conf = header.get("conf")
    assert(conf.isObject)
    assert(conf.fieldNames().asScala.toSeq == GraftSession.confPairs.map(_._1))
    ledger.write(RunLedger.Row("n" -> 1L))
    ledger.write(RunLedger.Row("n" -> 2L))
    assert(lines.size == 3, lines)
    assert(lines.tail.map(json.readTree(_).get("n").asLong()) == Seq(1L, 2L))
  }
}
