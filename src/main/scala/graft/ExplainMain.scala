package graft

/** Dev helper: print formatted plans (and optionally time) for named
  * queries — `runMain graft.ExplainMain q04_order_priority [sfDir]`.
  * Timing is [[RunLedger.query]] (Bench's methodology: caches reset, a
  * noop-format write so computed columns aren't pruned out of the
  * measurement). */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.cli()
    spark.sparkContext.setLogLevel("ERROR")
    args.headOption match {
      case Some(name) =>
        val df = SparkEntry.queries(name)(spark, dir)
        df.explain("formatted")
        val findings = graft.operators.PlanLint.audit(df)
        if (findings.nonEmpty) {
          println(s"plan lint (${findings.size} finding(s) — advisory):")
          findings.foreach(f => println(s"  $f"))
        } else println("plan lint: clean")
        // RunLedger.query builds the frame INSIDE the timing (Bench does
        // the same): queries that materialize eagerly during construction
        // (iterative operators, localCheckpoint barriers) would otherwise
        // report only the cost of re-reading their own checkpoint
        def run() = RunLedger.query(spark)(SparkEntry.queries(name)(spark, dir))
        val cold = run()
        val warm = run()
        println(s"cold=${cold.totals.wallSec}s warm=${warm.totals.wallSec}s" +
          (if (cold.ok && warm.ok) "" else " (failed)"))
        // Per-scan task counts from an EXECUTED plan: parquet parallelism
        // is decided by file/row-group layout (Spark splits at row-group
        // granularity), so a fixture regeneration that collapses a table
        // to one row group shows up here as scan_tasks=1 — visible in one
        // run instead of an A/B probe (the round-8 1.40x investigation).
        locally {
          import org.apache.spark.sql.execution.FileSourceScanExec
          // metrics live only on plan instances that actually RAN (the
          // writer executes its own QueryExecution) — walk the warm run's
          // captured executed plans, which also cover executions during
          // query CONSTRUCTION
          val nodes = warm.plans.flatMap(graft.operators.PlanLint.nodes)
          nodes.collect {
            case f: FileSourceScanExec =>
              val table = f.relation.location.rootPaths.headOption
                .map(_.getName).getOrElse("?")
              // a DPP'd scan in this (never-directly-executed) plan
              // instance has an unfinished dynamic-pruning subquery —
              // forcing its partition listing throws; report what's known
              val tasks = scala.util.Try(f.inputRDD.getNumPartitions)
                .map(_.toString).getOrElse("?(dynamic-pruned)")
              println(s"scan_tasks=$tasks table=$table " +
                s"files=${f.relation.location.inputFiles.length}")
          }
          // Shuffle volume per exchange (and the total): THE scale number —
          // a plan whose shuffles move gigabytes at sf0.1 moves petabytes
          // at 100 TB. Metrics are populated because the plan above just
          // executed; -1 means the metric key is absent in this build.
          val shuffles = nodes.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
              def m(k: String): Long = e.metrics.get(k).map(_.value).getOrElse(-1L)
              (m("shuffleBytesWritten"), m("shuffleRecordsWritten"), m("numPartitions"))
          }
          shuffles.foreach { case (b, r, p) =>
            println(s"shuffle bytes=$b records=$r partitions=$p")
          }
          println(s"shuffle_total bytes=${shuffles.map(_._1).filter(_ >= 0).sum} " +
            s"records=${shuffles.map(_._2).filter(_ >= 0).sum} " +
            s"n_exchanges=${shuffles.size}")
        }
      case None => println("usage: ExplainMain <query> [sfDir]")
    }
    spark.stop()
  }
}
