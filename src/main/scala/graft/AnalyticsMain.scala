package graft

import org.apache.spark.sql.SparkSession

/** The product-analytics report as ONE runnable job — the event-analytics
  * operators composed the way a daily metrics build ships them:
  *
  * ```
  * runMain graft.AnalyticsMain <sfDir> <outDir>
  * ```
  *
  * One directory per report, parquet, each an oracle-verified operator:
  * weekly cohort retention (q105), rolling DAU/WAU (q106), journey
  * transition matrix (q107), ordered funnel (q104) + its 7-day-deadline
  * form (q199) + conversion-lag quartiles (q125), gap sessionization
  * (q121) + top session paths (q166) + merged activity coverage (q201) +
  * funnel-regex path classes (q207), z-score anomalies (q108) + CUSUM
  * changepoints (q132) + additive decomposition (q196), attribution three
  * ways (last-touch q122, linear q183, time-decay q193), the A/B test
  * readout (q124) + its nonparametric sibling (q162), model evaluation
  * (AUC q181 + calibration q195), Kaplan-Meier retention survival (q151),
  * cohort LTV quartiles (q163), and the seasonality pair (q147 + q158).
  *
  * The job adds only composition — every number in the report directory is
  * the output of a query the DuckDB gate hash-verifies. At 100 TB each
  * report is an independent Spark job over the same events table (scans
  * prune to the 2-4 columns each needs); there is no cross-report driver
  * state and no collect beyond the run summary.
  */
object AnalyticsMain {

  /** Report set, in the order a reader consumes them. */
  val reports: Seq[String] = Seq(
    "q105_retention", "q106_rolling_dau", "q104_funnel",
    "q199_funnel_window", "q125_conversion_lag", "q107_transitions",
    "q121_sessions", "q166_session_paths", "q201_interval_union",
    "q207_seq_pattern", "q108_anomaly", "q132_cusum",
    "q196_decompose", "q122_attribution", "q183_multi_touch",
    "q193_decay_attribution", "q124_ab_test", "q162_mann_whitney",
    "q181_auc", "q195_calibration", "q151_kaplan_meier", "q163_cohort_ltv",
    "q147_seasonality", "q158_seasonal_index")

  /** Runs every report; returns (name, rows written). */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] =
    reports.map { name =>
      val out = s"$outDir/$name"
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").parquet(out)
      name -> spark.read.parquet(out).count()
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: AnalyticsMain <sfDir> <outDir>")
    val spark = GraftSession.cli()
    run(spark, args(0), args(1)).foreach { case (name, n) =>
      println(s"$name: $n rows")
    }
    spark.stop()
  }
}
