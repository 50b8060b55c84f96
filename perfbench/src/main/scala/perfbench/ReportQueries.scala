package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row

/** `report_queries`: the reference's own job — warehouse queries feeding an
  * audit report. Each op runs one oracle-checked `Relational`/`Stats`
  * query through `SparkEntry.queries` (read: build the frame, collect the
  * rows) and writes its rows as that query's report table (write). Passes
  * over the query set run in a seeded order. The reports are compared
  * against `SparkEntry.oracleSql` in DuckDB after the run (run.py). */
final class ReportQueries(ctx: Ctx) extends Workload {
  import ReportQueries._
  private val spark = ctx.spark
  private var dataDir = ""
  private def reportDir = s"${ctx.work}/report"
  private val names: IndexedSeq[String] = Set

  def prepare(dir: String): Unit = {
    dataDir = s"$dir/data"
    Gen.warehouse(spark, ctx.seed, dataDir, tablesRead)
  }

  def warmup(): Unit = {
    Main.write(s"${ctx.work}/oracle_sql.json", Json.obj(names.flatMap(n =>
      graft.SparkEntry.oracleSql.get(n).map(sql => n -> Json.str(sql))): _*))
    Main.write(s"${ctx.work}/report_check.json",
      Json.obj("data_dir" -> Json.str(dataDir), "report_dir" -> Json.str(reportDir)))
    names.foreach { n => run(n, new Phase(ctx.trace)); between() }
  }

  /** The tables the set's oracle SQL reads: the ones setup generates. */
  private def tablesRead: Set[String] = graft.Tables.names.filter { t =>
    val word = s"(?s).*\\b$t\\b.*"
    names.exists(n => graft.SparkEntry.oracleSql.get(n).exists(_.matches(word)))
  }.toSet

  /** Every pass runs each query of the set once, in one seeded order. */
  private val order = new Random(ctx.seed).shuffle(names)

  def opName(i: Int): String = order(i % names.size)

  override def passLength: Int = names.size

  def op(i: Int, phase: Phase): Map[String, Double] = run(opName(i), phase)

  private def run(name: String, phase: Phase): Map[String, Double] = {
    val (rows, schema, buildMs) = phase.read("query") {
      val t0 = Clock.nowMs
      val df = ctx.trace.span("queries.build")(graft.SparkEntry.queries(name)(spark, dataDir))
      val built = Clock.nowMs - t0
      (ctx.trace.span("collect")(df.collect()), df.schema, built)
    }
    phase.write("report.write") {
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$reportDir/$name")
    }
    Map("queries.build_ms" -> buildMs, "rows" -> rows.length.toDouble)
  }

  /** Query-owned caches and checkpoint blocks are dropped between ops, as
    * the engine's own sweep does, so no op pays for an earlier one's. */
  override def between(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def check(): Seq[String] = Nil // the DuckDB oracle runs in run.py

  def docs(ops: Seq[OpRec], recordsRead: Long): (Double, Double) =
    (recordsRead.toDouble, ops.map(o => o.end - o.start).sum)
  def stateDirs: Seq[String] = Seq(reportDir)
  def traffic: Map[String, Double] = Map("queries" -> names.size.toDouble)
  def fingerprint: String = Gen.fileFingerprint(new java.io.File(dataDir))
}

object ReportQueries {
  /** The report set: four Relational and four Stats queries spread over
    * the 0.35–1.15 s part of the modules' warm latency range at sf0.1 on 4
    * cores (the modules' median is about 0.85 s), so each op's wall is
    * mostly fixed cost. Every one passes the DuckDB oracle on the
    * generated tables of any seed: none rounds a sum whose exact value can
    * sit on a rounding tie (q01_pricing_summary's discounted sums can, and
    * then Spark and DuckDB may round apart). */
  val Set: IndexedSeq[String] = IndexedSeq(
    "q09_topk_orders", "q10_window_rank", "q21_semi_join", "q155_k_anonymity",
    "q108_anomaly", "q120_deciles", "q143_within_group", "q151_kaplan_meier")
}
