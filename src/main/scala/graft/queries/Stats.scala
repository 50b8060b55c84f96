package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Statistical aggregates, exact percentiles, regexp extraction, map-literal
  * lookup (T13), grouping sets, and an as-of join — the "general query
  * capability" tail of SURVEY.md §2.7/§7.2.3.
  *
  * The as-of join (q48) is the composition path of the custom-operator
  * decision table (§7.3(a)): tag both event streams, one window pass with
  * `last(..., ignoreNulls)` over an explicit ordering — no custom physical
  * operator needed, one shuffle on the partition key, linear in events.
  */
object Stats {

  /** q108's z-score in basis points, shared VERBATIM between the Spark plan
    * and the DuckDB oracle so both engines execute the identical IEEE op
    * sequence (q93's trick). Inputs cnt/n/s1/s2 are exact BIGINTs;
    * z = (x·n − S1)/sqrt(n·S2 − S1²) is (x−μ)/σ with the division deferred
    * to one double op. Zero-variance series report z = 0. */
  private val AnomalyZbpSql: String =
    """CASE WHEN n * s2 - s1 * s1 <= 0 THEN CAST(0 AS BIGINT)
      |     ELSE CAST(floor(CAST(cnt * n - s1 AS DOUBLE) * 10000.0
      |            / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) END""".stripMargin

  /** q148's lag-1 Pearson r ×1e4, shared VERBATIM with the oracle. All six
    * inputs are exact BIGINT power sums; degenerate (zero-variance) series
    * report 0. */
  private val AutocorrE4Sql: String =
    """CASE WHEN (n * sxx - sx * sx) <= 0 OR (n * syy - sy * sy) <= 0
      |     THEN CAST(0 AS BIGINT)
      |     ELSE CAST(floor(
      |   CAST(n * sxy - sx * sy AS DOUBLE) * 10000.0
      |   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT) END""".stripMargin

  /** q124's pooled two-proportion z statistic ×1e4, shared VERBATIM with
    * the oracle. Inputs c_a/n_a/c_b/n_b are exact BIGINTs; degenerate arms
    * (empty, all-converted, none-converted) report z = 0 rather than a
    * NaN that ANSI CAST would reject. */
  private val AbZE4Sql: String =
    """CASE WHEN n_a = 0 OR n_b = 0 OR (c_a + c_b) = 0 OR (c_a + c_b) = (n_a + n_b)
      |     THEN CAST(0 AS BIGINT)
      |     ELSE CAST(floor(
      |   (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |    - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |   / sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |          * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |   * 10000.0) AS BIGINT) END""".stripMargin

  /** q224's CUPED pieces, shared VERBATIM with the oracle. Inputs are the
    * eleven exact BIGINT power sums; the moments divide once each, so both
    * engines execute the identical IEEE sequence. Zero pre-period variance
    * degrades to theta = 0 (CUPED is a no-op); empty arms report NULL
    * lifts. */
  private val CupedMomentsSql: (String, String, String, String, String) = {
    val n = "CAST(n_a + n_b AS DOUBLE)"
    val mx = s"(CAST(sx AS DOUBLE) / $n)"
    val my = s"(CAST(sy AS DOUBLE) / $n)"
    val varx = s"(CAST(sxx AS DOUBLE) / $n - $mx * $mx)"
    val vary = s"(CAST(syy AS DOUBLE) / $n - $my * $my)"
    val cov = s"(CAST(sxy AS DOUBLE) / $n - $mx * $my)"
    (mx, varx, vary, cov,
      s"(CASE WHEN $varx <= 0.0 THEN 0.0 ELSE $cov / $varx END)")
  }
  private val CupedThetaE6Sql: String =
    s"CAST(floor(${CupedMomentsSql._5} * 1000000.0) AS BIGINT)"
  private val CupedVarRedBpSql: String = {
    val (_, varx, vary, cov, _) = CupedMomentsSql
    s"CASE WHEN $varx <= 0.0 OR $vary <= 0.0 THEN CAST(0 AS BIGINT) " +
      s"ELSE CAST(floor($cov * $cov / ($varx * $vary) * 10000.0) AS BIGINT) END"
  }
  private val CupedLiftRawE4Sql: String =
    """CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
      |     ELSE CAST(floor((CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE)
      |        - CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE)) * 10000.0) AS BIGINT)
      |END""".stripMargin
  private val CupedLiftAdjE4Sql: String = {
    val theta = CupedMomentsSql._5
    s"""CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |     ELSE CAST(floor((CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE)
       |        - CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE)
       |        - $theta * (CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE)
       |            - CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE))) * 10000.0)
       |       AS BIGINT)
       |END""".stripMargin
  }

  /** q235's CI rank positions, shared VERBATIM with the oracle: the
    * binomial order-statistic interval of the median, clamped into [1, n].
    * floor/ceil over one sqrt — identical IEEE sequence both engines. */
  private val CiLoPosSql: String =
    """greatest(CAST(1 AS BIGINT),
      |  CAST(floor((CAST(n AS DOUBLE) - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0)
      |    AS BIGINT))""".stripMargin
  private val CiHiPosSql: String =
    """least(CAST(n AS BIGINT),
      |  CAST(ceil((CAST(n AS DOUBLE) + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0)
      |    AS BIGINT) + 1)""".stripMargin

  /** q151's per-time-point ln((n-d)/n) x 1e6, shared VERBATIM with the
    * oracle. NULL (not -inf) when the at-risk set empties — the survival
    * output handles that arm explicitly. */
  private val KmLnTermSql: String =
    """CASE WHEN n_risk = d THEN NULL
      |     ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
      |            * 1000000.0) AS BIGINT) END""".stripMargin

  /** q151's survival S(t) x 1e4 from the exact cumulative ln-sum. */
  private val KmSurvSql: String =
    """CASE WHEN n_risk = d THEN CAST(0 AS BIGINT)
      |     ELSE CAST(floor(exp(CAST(cum AS DOUBLE) / 1000000.0) * 10000.0) AS BIGINT) END""".stripMargin

  /** q162's tie-corrected Mann-Whitney z x 1e4, shared VERBATIM with the
    * oracle. Inputs are exact BIGINTs: n1/n2 arm sizes, sr2a = arm-A rank
    * sum in HALF-units (avg tie ranks are .5-valued, so everything is kept
    * doubled and exact), st = sum of (t^3 - t) over tie groups. Degenerate
    * arms or an all-tied sample (variance term 0) report z = 0. */
  private val MwZE4Sql: String =
    """CASE WHEN n1 = 0 OR n2 = 0 OR
      |       (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
      |         * (CAST(n1 + n2 + 1 AS DOUBLE)
      |            - CAST(st AS DOUBLE)
      |              / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))) <= 0.0
      |     THEN CAST(0 AS BIGINT)
      |     ELSE CAST(floor(
      |   CAST(sr2a - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
      |   / (2.0 * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
      |       * (CAST(n1 + n2 + 1 AS DOUBLE)
      |          - CAST(st AS DOUBLE)
      |            / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))))
      |   * 10000.0) AS BIGINT) END""".stripMargin

  /** q179's per-bin smoothed KL contribution x 1e9, shared VERBATIM with
    * the oracle: p = even-day share, q = odd-day share, both Laplace
    * +1-smoothed over exact BIGINT bin counts; the whole term is one
    * IEEE-deterministic double, floor-integer-ized so the drift total is
    * an exact sum. */
  private val DriftKlE9Sql: String =
    """CAST(floor(
      |  ((CAST(n_even + 1 AS DOUBLE) / CAST(te AS DOUBLE))
      |   * ln((CAST(n_even + 1 AS DOUBLE) / CAST(te AS DOUBLE))
      |        / (CAST(n_odd + 1 AS DOUBLE) / CAST(to_ AS DOUBLE))))
      |  * 1000000000.0) AS BIGINT)""".stripMargin

  /** q189's per-cell mutual-information contribution x 1e9, shared
    * VERBATIM with the oracle: (n_ls/n)·ln(n_ls·n / (n_l·n_s)) — four
    * exact BIGINT counts in, one deterministic double out. */
  private val MiTermE9Sql: String =
    """CAST(floor(
      |  (CAST(n_ls AS DOUBLE) / CAST(n AS DOUBLE))
      |  * ln((CAST(n_ls AS DOUBLE) * CAST(n AS DOUBLE))
      |       / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE)))
      |  * 1000000000.0) AS BIGINT)""".stripMargin

  /** q181's tie-corrected AUC x 1e4, shared VERBATIM with the oracle.
    * r2pos = doubled rank-sum of positives (average ranks over ties, in
    * half-units so everything upstream is exact BIGINT); the identity
    * AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg) is evaluated as one
    * double division. Degenerate single-class inputs report NULL. */
  private val AucBpSql: String =
    """CASE WHEN npos = 0 OR nneg = 0 THEN CAST(NULL AS BIGINT)
      |     ELSE CAST(floor((CAST(r2pos - npos * (npos + 1) AS DOUBLE)
      |            / (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)))
      |            * 10000.0) AS BIGINT) END""".stripMargin

  /** q187's closed-form two-feature OLS outputs, shared VERBATIM with the
    * oracle. Inputs are the ten exact BIGINT raw power sums (n, s1, s2,
    * sy, s11, s22, s12, s1y, s2y, syy); every centered moment, the normal-
    * equation solve, and R² are ONE deterministic double expression each
    * (identical IEEE op sequence both engines — syy-scale products exceed
    * BIGINT range, so the centering happens in doubles). Degenerate
    * groups (singular normal matrix / zero y-variance) report NULL. */
  private val OlsOutSql: Map[String, String] = {
    def c(a: String, b: String, ab: String) =
      s"(CAST(n AS DOUBLE) * CAST($ab AS DOUBLE) - CAST($a AS DOUBLE) * CAST($b AS DOUBLE))"
    val c11 = c("s1", "s1", "s11"); val c22 = c("s2", "s2", "s22")
    val c12 = c("s1", "s2", "s12"); val c1y = c("s1", "sy", "s1y")
    val c2y = c("s2", "sy", "s2y"); val cyy = c("sy", "sy", "syy")
    val det = s"($c11 * $c22 - $c12 * $c12)"
    val b1 = s"(($c1y * $c22 - $c2y * $c12) / $det)"
    val b2 = s"(($c2y * $c11 - $c1y * $c12) / $det)"
    val icpt = s"((CAST(sy AS DOUBLE) - $b1 * CAST(s1 AS DOUBLE) - $b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE))"
    def guarded(e: String, extra: String = "") =
      s"CASE WHEN $det = 0.0 $extra THEN CAST(NULL AS BIGINT) " +
        s"ELSE CAST(floor($e * 1000000.0) AS BIGINT) END"
    Map(
      "beta1_e6" -> guarded(b1),
      "beta2_e6" -> guarded(b2),
      "intercept_e6" -> guarded(icpt),
      "r2_e6" -> guarded(s"(($b1 * $c1y + $b2 * $c2y) / $cyy)", s"OR $cyy = 0.0"))
  }

  val queries: Map[String, Q] = Map(
    // ---- two-feature OLS by normal equations -----------------------------
    // Multiple regression beyond q65's single-regressor aggregates:
    // order value (floored dollars — floor is the one cross-engine-exact
    // integerization; CAST rounds in DuckDB and truncates in Spark)
    // regressed on total quantity and line count per order, solved in
    // closed form from ten exact BIGINT power sums. ONE aggregation
    // shuffle after the orders⋈lineitem equi-join; the solve itself is
    // per-group scalar math. The 100 TB story: this is how a regression
    // runs distributed — map-side partial power sums, no iteration, no
    // driver-side solver.
    "q187_ols2" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(expr("CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)").as("x1"),
          count(lit(1)).as("x2"))
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          expr("CAST(floor(o_totalprice) AS BIGINT)").as("y"))
      val sums = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"),
          sum(col("y") * col("y")).as("syy"))
      sums.select(col("status") +: col("n") +:
          OlsOutSql.toSeq.sortBy(_._1).map { case (k, e) => expr(e).as(k) }: _*)
        .orderBy("status")
    }),

    // ---- ROC AUC (rank statistic) ----------------------------------------
    // Model-evaluation surface: how well does a score separate purchases
    // from other events? AUC computed exactly via the Mann-Whitney
    // rank-sum identity with average ranks over ties — no curve
    // integration, no per-threshold sweep. Scale design: ranks are
    // assigned at the DISTINCT-score group level (one aggregation
    // shuffle), so the single-partition window runs over |distinct
    // scores| rows, not |events|; two scorers share the pass shape (a
    // real signal and a hash null-model whose AUC pins ~0.5).
    "q181_auc" -> ((s: SparkSession, dir: String) => {
      def auc(scoreExpr: String, name: String): DataFrame = {
        val ev = Tables(s, dir, "events").select(
          expr(scoreExpr).as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        val g = ev.groupBy("v").agg(sum("pos").as("np"), count(lit(1)).as("nt"))
        val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        g.withColumn("cumprev", coalesce(sum("nt").over(w), lit(0L)))
          .withColumn("r2", lit(2L) * col("cumprev") + col("nt") + lit(1L))
          .agg(sum(col("np") * col("r2")).as("r2pos"), sum("np").as("npos"),
            sum(col("nt") - col("np")).as("nneg"))
          .select(lit(name).as("model"), col("npos"), col("nneg"),
            expr(AucBpSql).as("auc_bp"))
      }
      auc("CAST(round(value * 100.0) AS BIGINT)", "value_score")
        .unionByName(auc("user_id % 100", "null_score"))
        .orderBy("model")
    }),

    // ---- score calibration curve (reliability diagram) -------------------
    // The companion readout to q181's AUC: bucket the score into deciles
    // (ntile under a total order — q120's cross-engine contract) and
    // report each bucket's positive rate and lift vs the base rate, all
    // in exact integer basis points. A well-calibrated score shows
    // monotone rates; AUC alone can hide miscalibration.
    "q195_calibration" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events").select(
        expr("CAST(round(value * 100.0) AS BIGINT)").as("v"),
        col("event_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      val binned = ev.withColumn("bin",
        ntile(10).over(Window.orderBy("v", "event_id")).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
      binned
        .crossJoin(broadcast(binned.agg(sum("n").as("tot_n"), sum("n_pos").as("tot_pos"))))
        .select(col("bin"), col("n"), col("n_pos"),
          expr("(n_pos * 10000) div n").as("rate_bp"),
          expr("CASE WHEN tot_pos = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE (n_pos * tot_n * 10000) div (n * tot_pos) END").as("lift_bp"))
        .orderBy("bin")
    }),

    // ---- additive time-series decomposition ------------------------------
    // Daily volume = trend + weekly seasonality + residual: trend is the
    // 7-day centered moving average integer-ized against true rows in
    // frame (q142's edge contract), the seasonal index is the per-ISO-dow
    // mean of the detrended series (floor of ONE double division —
    // negative-safe, q172's lesson), and the residual closes the identity
    // exactly: c·1e4 = trend_e4 + seas_e4 + resid_e4 by construction.
    "q196_decompose" -> ((s: SparkSession, dir: String) => {
      val daily = Tables(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          (weekday(col("ts")) + 1).cast("long").as("iso_dow"))
        .agg(count(lit(1)).as("c"))
      val trended = daily
        .withColumn("trend_e4",
          expr("(sum(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)" +
            " * 10000) div count(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"))
        .withColumn("resid0_e4", col("c") * 10000L - col("trend_e4"))
      val seas = trended.groupBy("iso_dow")
        .agg(floor(sum("resid0_e4").cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("seas_e4"))
      trended.join(broadcast(seas), Seq("iso_dow"))
        .select(col("day"), col("c"), col("trend_e4"), col("seas_e4"),
          (col("c") * 10000L - col("trend_e4") - col("seas_e4")).as("resid_e4"))
        .orderBy("day")
    }),

    // ---- time-decay attribution ------------------------------------------
    // q183's linear split with recency weighting: a touch age_days before
    // the purchase carries weight 2^(6−age) — dyadic integer weights, so
    // per-purchase normalization ((w·1e6) div Σw) is exact on both
    // engines, no float decay chain. Same single user-keyed equi-join and
    // purchase-partitioned windows; both models reported side by side per
    // touch day (the comparison a marketing team actually reads).
    "q193_decay_attribution" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("puid"),
          unix_timestamp(col("ts")).as("pt"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("vuid"), unix_timestamp(col("ts")).as("vt"),
          date_format(col("ts"), "yyyy-MM-dd").as("touch_day"))
      val w = Window.partitionBy("pid")
      p.join(v, col("puid") === col("vuid") &&
          col("vt") >= col("pt") - 604800L && col("vt") < col("pt"))
        .withColumn("wgt",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(6 - (pt - vt) DIV 86400 AS INT))"))
        .withColumn("n_touch", count(lit(1)).over(w))
        .withColumn("w_tot", sum("wgt").over(w))
        .withColumn("lin_e6", expr("CAST(1000000 DIV n_touch AS BIGINT)"))
        .withColumn("dec_e6", expr("CAST((wgt * 1000000) DIV w_tot AS BIGINT)"))
        .groupBy("touch_day")
        .agg(count(lit(1)).as("n_touches"),
          sum("lin_e6").as("credit_lin_e6"), sum("dec_e6").as("credit_dec_e6"))
        .orderBy("touch_day")
    }),

    // ---- mutual information between categorical columns ------------------
    // MI(lang; source): the information-theoretic association measure
    // beside q154's chi-square/Cramér's V. One aggregation to (lang,
    // source) cell counts, marginals via windows over the |cells| grid
    // (not the corpus), per-cell contribution (p_ls)·ln(p_ls·n / p_l·p_s)
    // as ONE shared-verbatim double over exact BIGINT counts, floor-e9 —
    // so Σ mi_term_e9 is an exact reduction. Zero cells never appear and
    // contribute exactly 0.
    "q189_mutual_info" -> ((s: SparkSession, dir: String) => {
      val cells = Tables(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n_ls"))
      cells
        .withColumn("n_l", sum("n_ls").over(Window.partitionBy("lang")))
        .withColumn("n_s", sum("n_ls").over(Window.partitionBy("source")))
        .withColumn("n", sum("n_ls").over(Window.partitionBy()))
        .withColumn("mi_term_e9", expr(MiTermE9Sql))
        .select("lang", "source", "n_ls", "mi_term_e9")
        .orderBy("lang", "source")
    }),

    // ---- multi-touch linear attribution ----------------------------------
    // q122 gives last-touch; real marketing reporting splits the credit —
    // each purchase distributes 1e6 micro-credits equally over the user's
    // views in the trailing 7 days (integer `div`, exact both engines),
    // reported by touch day. Scale design: ONE user-keyed equi-join with
    // the time bound in the join condition (no theta join), then a window
    // partitioned by purchase id (count only, no sort) — state per
    // purchase is its in-window touch set, bounded by the 7-day horizon.
    "q183_multi_touch" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("puid"),
          unix_timestamp(col("ts")).as("pt"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("vuid"), unix_timestamp(col("ts")).as("vt"),
          date_format(col("ts"), "yyyy-MM-dd").as("touch_day"))
      val j = p.join(v, col("puid") === col("vuid") &&
        col("vt") >= col("pt") - 604800L && col("vt") < col("pt"))
      j.withColumn("n_touch", count(lit(1)).over(Window.partitionBy("pid")))
        .withColumn("credit_e6", expr("CAST(1000000 DIV n_touch AS BIGINT)"))
        .groupBy("touch_day")
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("pid")).as("n_purchases"),
          sum("credit_e6").as("credit_e6"))
        .orderBy("touch_day")
    }),

    // ---- sample stddev / variance / correlation --------------------------
    "q43_stats" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          round(stddev_samp(col("o_totalprice")), 4).as("sd_price"),
          round(var_samp(col("o_totalprice")), 4).as("var_price"),
          round(corr(col("o_totalprice"), col("o_custkey")), 4).as("corr_price_cust"))
        .orderBy("o_orderstatus")
    }),

    // ---- exact interpolated percentiles ----------------------------------
    // Over l_quantity (integer-valued doubles): interpolation at quarter
    // positions is exactly representable, so Spark's a+(b-a)*f and DuckDB's
    // quantile_cont agree bit-for-bit. Continuous doubles can differ in the
    // last ulp between the two interpolation formulas and flip a rounding
    // boundary (seen at sf0.001 on l_extendedprice).
    // Scalar columns (not ARRAY<DOUBLE>): the driver's pandas row sort can't
    // hash array cells (VERDICT r1 "What's wrong" #1).
    "q44_percentiles" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg( // exact interpolated percentile = DuckDB quantile_cont
          round(expr("percentile(l_quantity, 0.25D)"), 2).as("p25"),
          round(expr("percentile(l_quantity, 0.5D)"), 2).as("p50"),
          round(expr("percentile(l_quantity, 0.75D)"), 2).as("p75"))
        .orderBy("l_returnflag")
    }),

    // ---- regexp extraction + rlike filter --------------------------------
    "q45_regexp" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .withColumn("first_word", regexp_extract(col("text"), "([a-z]+)", 1))
        .filter(col("text").rlike("^[a-z]"))
        .groupBy("first_word")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("first_word")
    }),

    // ---- map-literal lookup (T13 status -> label) ------------------------
    "q46_map_lookup" -> ((s: SparkSession, dir: String) => {
      val statusMap = map(
        lit("O"), lit("open"), lit("F"), lit("filled"), lit("P"), lit("pending"))
      Tables(s, dir, "orders")
        .withColumn("status_label",
          coalesce(element_at(statusMap, col("o_orderstatus")), lit("unknown")))
        .groupBy("status_label")
        .agg(count(lit(1)).as("n"))
        .orderBy("status_label")
    }),

    // ---- grouping sets ---------------------------------------------------
    "q47_grouping_sets" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),

    // ---- date arithmetic: diff/add/last_day/quarter/iso weekday ----------
    "q53_date_arith" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .select(
          col("o_orderkey"),
          datediff(lit("2000-01-01").cast("date"), col("o_orderdate")).cast("long").as("days_to_y2k"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus_30"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd").as("quarter_start"),
          (weekday(col("o_orderdate")) + 1).as("iso_dow"))
        .orderBy("o_orderkey")
    }),

    // ---- window frames: RANGE frame + ntile/percent_rank/cume_dist -------
    "q52_window_frames" -> ((s: SparkSession, dir: String) => {
      val byPrice = Window.partitionBy("o_custkey").orderBy("o_totalprice")
      val ranked = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
      Tables(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_custkey"),
          // value-based frame: orders within $10k below the current price
          count(lit(1)).over(byPrice.rangeBetween(-10000L, Window.currentRow)).as("n_near"),
          ntile(4).over(ranked).as("quartile"),
          round(percent_rank().over(ranked), 4).as("pr"),
          round(cume_dist().over(ranked), 4).as("cd"))
        .orderBy("o_orderkey")
    }),

    // ---- correlated-scalar-subquery semantics via window -----------------
    // "orders above their customer's average" — Catalyst's decorrelated
    // form is exactly this window; the oracle keeps the correlated subquery.
    "q54_above_cust_avg" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("o_custkey")
      Tables(s, dir, "orders")
        .withColumn("cavg", avg("o_totalprice").over(w))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("o_totalprice") > col("cavg"), 1L).otherwise(0L)).as("n_above"))
        .orderBy("o_custkey")
    }),

    // ---- time-series gap fill: hourly resample + forward fill ------------
    // The missing-interval repair every metrics pipeline needs: each user's
    // event stream resampled onto a dense hourly grid (sequence() over the
    // user's own span — no cross-user grid blowup), empty hours get
    // n_events = 0, and the last seen event_type forward-fills across gaps
    // (last(ignoreNulls) over the user's hour order — one window, one
    // shuffle keyed by user). Per-hour representative event is max_by over
    // (ts, event_id) — (user, µs) is unique in this data (the q69 check),
    // so ns-vs-µs precision can't flip it. Bounded to users < 20.
    "q103_gap_fill" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events").filter(col("user_id") < 20)
      val hourly = ev
        .withColumn("hr", date_trunc("hour", col("ts")))
        .groupBy("user_id", "hr")
        .agg(count(lit(1)).as("n_events"),
          max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_type"))
      val grid = ev.groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hr"))
      val w = Window.partitionBy("user_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("last_type"), ignoreNulls = true).over(w).as("last_type_filled"))
        .orderBy("user_id", "hour")
    }),

    // ---- ordered funnel: signup -> view -> purchase ----------------------
    // Event-sequence analytics: the furthest stage each user reached with
    // strictly increasing timestamps (first signup, first view AFTER it,
    // first purchase after THAT). Three aggregations, each joined to the
    // previous stage's per-user min — no window over the event stream, no
    // self-join explosion; every join is keyed by user_id.
    "q104_funnel" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      def firstAfter(tpe: String, prev: org.apache.spark.sql.DataFrame,
                     prevCol: String, out: String) =
        ev.filter(col("event_type") === tpe)
          .join(prev, Seq("user_id"))
          .filter(col("ts") > col(prevCol))
          .groupBy("user_id").agg(min(col("ts")).as(out))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
      val vw = firstAfter("view", su, "s_ts", "v_ts")
      val pu = firstAfter("purchase", vw, "v_ts", "p_ts")
      su.join(vw, Seq("user_id"), "left").join(pu, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1L) + col("v_ts").isNotNull.cast("long")
            + col("p_ts").isNotNull.cast("long")).as("stage"),
          date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_at"),
          date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss").as("view_at"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_at"))
        .orderBy("user_id")
    }),

    // ---- time-constrained funnel ------------------------------------------
    // q104 with step deadlines: each stage counts only if it happens
    // within 7 days of the PREVIOUS stage (the "activation window" form
    // product teams actually ship — an unbounded funnel overstates
    // conversion). Same scale shape as q104: per-stage keyed aggregations
    // chained by per-user minima, no event-stream window, no self-join
    // blowup; deadlines ride the join condition in exact epoch-second
    // integers. Output: per-stage user counts with step and cumulative
    // conversion in basis points.
    "q199_funnel_window" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("t"))
      def firstWithin(tpe: String, prev: DataFrame, prevCol: String, out: String) =
        ev.filter(col("event_type") === tpe)
          .join(prev, Seq("user_id"))
          .filter(col("t") > col(prevCol) && col("t") <= col(prevCol) + 604800L)
          .groupBy("user_id").agg(min(col("t")).as(out))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("t")).as("s_t"))
      val vw = firstWithin("view", su, "s_t", "v_t")
      val pu = firstWithin("purchase", vw, "v_t", "p_t")
      val staged = su.join(vw, Seq("user_id"), "left").join(pu, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_signup"),
          sum(col("v_t").isNotNull.cast("long")).as("n_view"),
          sum(col("p_t").isNotNull.cast("long")).as("n_purchase"))
      staged.withColumn("r",
        explode(array(
          struct(lit(1L).as("stage"), lit("signup").as("step"),
            col("n_signup").as("n_users"), lit(10000L).as("step_bp"),
            lit(10000L).as("cum_bp")),
          struct(lit(2L).as("stage"), lit("view_7d").as("step"),
            col("n_view").as("n_users"),
            expr("(n_view * 10000) div n_signup").as("step_bp"),
            expr("(n_view * 10000) div n_signup").as("cum_bp")),
          struct(lit(3L).as("stage"), lit("purchase_7d").as("step"),
            col("n_purchase").as("n_users"),
            expr("CASE WHEN n_view = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE (n_purchase * 10000) div n_view END").as("step_bp"),
            expr("(n_purchase * 10000) div n_signup").as("cum_bp")))))
        .select("r.*")
        .orderBy("stage")
    }),

    // ---- weekly cohort retention -----------------------------------------
    // The activation/retention matrix every product-analytics stack ships:
    // cohort = Monday-truncated week of each user's first event; a user is
    // retained at offset k if they have any event in cohort_week + k weeks.
    // Two aggregations (per-user min, distinct (user, week)) + one equi-join
    // on user_id — the matrix is |weeks|² rows, so the heavy side never
    // re-shuffles more than once. Both engines truncate weeks to Monday, and
    // Monday-to-Monday day deltas are exact multiples of 7, so the integer
    // division is exact.
    "q105_retention" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val firstWeek = ev.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      val active = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      active.join(firstWeek, Seq("user_id"))
        .select(col("cw"), expr("CAST(datediff(wk, cw) DIV 7 AS BIGINT)").as("offset_weeks"))
        .groupBy("cw", "offset_weeks")
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          col("offset_weeks"), col("n_users"))
        .orderBy("cohort_week", "offset_weeks")
    }),

    // ---- rolling distinct actives (DAU / trailing-7-day WAU) -------------
    // Rolling COUNT(DISTINCT) has no window form that scales: the standard
    // rewrite is contribution expansion — each distinct (user, day) pair
    // contributes to days d..d+6, so trailing-7 distinct actives on day d =
    // count of distinct (user, contribution-day) pairs landing on d. The
    // expansion is bounded at 7× the (already day-deduplicated) pair set,
    // shuffles once on day, and never builds a per-day user set in memory.
    // Days past the data's max day are clipped (the tail would otherwise
    // report windows no real day anchors).
    "q106_rolling_dau" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val ud = ev.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val bounds = ev.agg(max(to_date(col("ts"))).as("dmax"))
      val wau = ud
        .select(col("user_id"), explode(expr("sequence(d, date_add(d, 6))")).as("day"))
        .distinct()
        .join(broadcast(bounds), col("day") <= col("dmax"))
        .groupBy("day").agg(count(lit(1)).as("wau"))
      val dau = ud.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
      wau.join(dau, Seq("day"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
        .orderBy("day")
    }),

    // ---- user-journey transition matrix (event-stream Markov chain) ------
    // P(next event type | current) over each user's (ts, event_id)-ordered
    // stream: one lead() window keyed by user (single shuffle), then a tiny
    // |types|² aggregation. Probabilities in integer basis points (exact
    // BIGINT division — ratios of integers CAN tie at a rounding digit, the
    // r4 q86 lesson).
    "q107_transitions" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("n_prev", sum("n").over(Window.partitionBy("prev_type")))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("CAST((n * 10000) DIV n_prev AS BIGINT)").as("p_bp"))
        .orderBy("prev_type", "next_type")
    }),

    // ---- z-score anomaly detection over daily event counts ---------------
    // Per event type: daily count series, population mean/std from exact
    // BIGINT power sums (n, S1, S2), z = (x·n − S1)/sqrt(n·S2 − S1²) —
    // algebraically identical to (x−μ)/σ but every input to the ONE double
    // expression is an exact integer, and the expression text is shared
    // verbatim with the oracle (identical IEEE op sequence, q93's trick).
    // Flag |z| > 2. The stats join is per-type (broadcast-sized).
    "q108_anomaly" -> ((s: SparkSession, dir: String) => {
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cnt").as("s1"),
          sum(col("cnt") * col("cnt")).as("s2"))
      daily.join(broadcast(stats), Seq("event_type"))
        .withColumn("z_bp", expr(AnomalyZbpSql))
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("cnt"), col("z_bp"),
          (abs(col("z_bp")) > 20000).cast("long").as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // ---- week-over-week growth -------------------------------------------
    // The headline growth metric: weekly event volume per type with the
    // change vs the previous week in basis points. Growth can be negative,
    // so the ratio is floor of ONE double division (integer DIV truncates
    // toward zero and DuckDB's // floors — they disagree on negatives, the
    // r4 lesson); first weeks report null-free 0 with a flag.
    "q150_wow_growth" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("event_type").orderBy("week")
      Tables(s, dir, "events")
        .groupBy(col("event_type"),
          date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prev", lag("n", 1).over(w))
        .select(col("event_type"), col("week"), col("n"),
          coalesce(col("prev"), lit(0L)).as("prev_n"),
          when(col("prev").isNull, lit(0L))
            .otherwise(expr(
              "CAST(floor(CAST(n - prev AS DOUBLE) * 10000.0 / CAST(prev AS DOUBLE)) AS BIGINT)"))
            .as("wow_bp"),
          col("prev").isNull.cast("long").as("first_week"))
        .orderBy("event_type", "week")
    }),

    // ---- Kaplan-Meier survival curve --------------------------------------
    // User-retention survival: "lifetime" = days between a user's first and
    // last event, d_t = users whose lifetime ends at t, n_t = users still
    // at risk at t. S(t) = prod((n-d)/n) is computed as exp of a cumulative
    // ln-sum: each ln term is one shared-verbatim double integer-ized
    // floor-e6 (the q91 trick), the running sum is exact BIGINT, and only
    // the final exp is a double again. The last time point has n = d
    // (everyone's lifetime ends eventually) — ln(0) is dodged with an
    // explicit S = 0 arm. Scale: windows run over |distinct lifetimes|
    // rows, bounded by the observation span, after a single user-keyed
    // aggregation of the event stream.
    "q151_kaplan_meier" -> ((s: SparkSession, dir: String) => {
      val life = Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("t"))
      val byT = life.groupBy("t").agg(count(lit(1)).as("d"))
      val prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
      byT
        .withColumn("n_risk",
          sum("d").over(Window.partitionBy())
            - coalesce(sum("d").over(prior), lit(0L)))
        .withColumn("lnterm", expr(KmLnTermSql))
        .withColumn("cum", sum("lnterm").over(Window.orderBy("t")))
        .select(col("t"), col("d"), col("n_risk"), expr(KmSurvSql).as("s_e4"))
        .orderBy("t")
    }),

    // ---- dyadic-weight EWMA forecast --------------------------------------
    // Exponentially-weighted moving average of each type's daily volume
    // with alpha = 1/2 over a trailing 8-row window: weights 2^(7-k) are
    // integers, so numerator, denominator and the final basis-point value
    // are EXACT integer arithmetic — no float recursion, no cross-engine
    // summation-order hazard. Missing lags (series head) drop out of both
    // sums. One user-keyed window pass over |types| x |days| rows.
    "q152_ewma" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val base = Tables(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val withLags = (0 to 7).foldLeft(base) { (df, k) =>
        df.withColumn(s"x$k", lag(col("x"), k).over(w))
      }
      val num = (0 to 7).map(k =>
        coalesce(col(s"x$k") * lit(1L << (7 - k)), lit(0L))).reduce(_ + _)
      val den = (0 to 7).map(k =>
        when(col(s"x$k").isNotNull, lit(1L << (7 - k))).otherwise(lit(0L))).reduce(_ + _)
      withLags
        .withColumn("num", num).withColumn("den", den)
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x"), expr("CAST((num * 100) DIV den AS BIGINT)").as("ewma_e2"))
        .orderBy("event_type", "day")
    }),

    // ---- market-basket association rules ----------------------------------
    // Support / confidence / lift over (user, day) baskets of event types.
    // The pair expansion happens IN-ARRAY after one groupBy (the q37
    // in-bucket-pairs design): baskets hold at most |event types| items, so
    // per-row expansion is bounded at C(|types|,2) — no self-join of the
    // item stream, one shuffle to form baskets, one to count pairs. All
    // three metrics are exact integer basis points (lift scaled e4).
    "q153_baskets" -> ((s: SparkSession, dir: String) => {
      val items = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
        .distinct()
      val baskets = items.groupBy("user_id", "day")
        .agg(sort_array(collect_set("event_type")).as("its"))
      val totals = baskets.agg(count(lit(1)).as("n_baskets"))
      val itemN = items.groupBy(col("event_type").as("a"))
        .agg(count(lit(1)).as("n_a"))
      val pairs = baskets
        .select(explode(expr(
          "flatten(transform(its, (x, i) -> " +
            "transform(slice(its, i + 2, size(its)), y -> struct(x AS a, y AS b))))"))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(itemN), Seq("a"))
        .join(broadcast(itemN.select(col("a").as("b"), col("n_a").as("n_b"))), Seq("b"))
        .crossJoin(broadcast(totals))
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          expr("CAST((n_ab * 10000) DIV n_baskets AS BIGINT)").as("support_bp"),
          expr("CAST((n_ab * 10000) DIV n_a AS BIGINT)").as("conf_bp"),
          expr("CAST((n_ab * n_baskets * 10000) DIV (n_a * n_b) AS BIGINT)").as("lift_e4"))
        .orderBy("a", "b")
    }),

    // ---- Mann-Whitney U test (rank-based A/B comparison) -------------------
    // The nonparametric sibling of q124: does `value` distribute differently
    // between the two md5 arms? Ranks are computed at the (type, value)
    // GROUP level — one aggregation, then windows over |distinct values|
    // rows — not per event row, so tie handling (average ranks, kept in
    // exact half-units) and the t^3-t tie correction are exact BIGINT
    // arithmetic; only the final z is a shared-verbatim double.
    "q162_mann_whitney" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("value"),
          (expr("CAST(conv(substring(md5(CAST(CAST(user_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)") % 2)
            .as("arm"))
      val g = ev.groupBy("event_type", "value")
        .agg(count(lit(1)).as("t"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("ta"))
      val prior = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("cum", coalesce(sum("t").over(prior), lit(0L)))
        .withColumn("rank2", lit(2L) * (col("cum") + 1L) + (col("t") - 1L))
        .groupBy("event_type")
        .agg(sum("ta").as("n1"), sum(col("t") - col("ta")).as("n2"),
          sum(col("ta") * col("rank2")).as("sr2a"),
          sum(col("t") * col("t") * col("t") - col("t")).as("st"))
        .withColumn("u2a", col("sr2a") - col("n1") * (col("n1") + 1L))
        .withColumn("z_e4", expr(MwZE4Sql))
        .select(col("event_type"), col("n1"), col("n2"), col("u2a"), col("z_e4"),
          (abs(col("z_e4")) >= 19600L).cast("long").as("significant"))
        .orderBy("event_type")
    }),

    // ---- cohort lifetime value quartiles -----------------------------------
    // LTV distribution per first-seen week: spend pinned to exact integer
    // cents per purchase BEFORE summing (a double sum is order-dependent),
    // quartiles on integers are exact dyadic interpolations (q125's
    // argument). Two user-keyed aggregations and a broadcast-sized cohort
    // summary.
    "q163_cohort_ltv" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val first = ev.groupBy("user_id").agg(min(col("ts")).as("f_ts"))
      val spend = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(expr("CAST(round(value * 100.0) AS BIGINT)")).as("ltv_c"))
      first.join(spend, Seq("user_id"), "left")
        .select(
          date_format(date_trunc("week", col("f_ts")), "yyyy-MM-dd").as("cohort_week"),
          coalesce(col("ltv_c"), lit(0L)).as("ltv_c"))
        .groupBy("cohort_week")
        .agg(count(lit(1)).as("n_users"),
          sum((col("ltv_c") > 0).cast("long")).as("n_paying"),
          sum("ltv_c").as("total_c"),
          round(expr("percentile(ltv_c, 0.25D)"), 2).as("ltv_p25"),
          round(expr("percentile(ltv_c, 0.5D)"), 2).as("ltv_p50"),
          round(expr("percentile(ltv_c, 0.75D)"), 2).as("ltv_p75"))
        .orderBy("cohort_week")
    }),

    // ---- winsorized robust mean ---------------------------------------------
    // Outlier-clipped mean per event type with the p5/p95 bounds taken as
    // EXACT order statistics: k = ceil(p*n) is pure integer arithmetic
    // ((n+19) DIV 20 and (19n+19) DIV 20), the k-th smallest cent value is
    // engine-independent even under duplicate values (the multiset position
    // defines the VALUE uniquely), so no cross-engine quantile-semantics
    // hazard at non-dyadic p. Clipped cents sum exactly; the mean is one
    // floor'd double division (values can be negative — DIV won't do).
    "q164_winsorize" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), expr("CAST(round(value * 100.0) AS BIGINT)").as("v_c"))
      val ks = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          expr("(n + 19) DIV 20").as("k05"),
          expr("(19 * n + 19) DIV 20").as("k95"))
      val rn = Window.partitionBy("event_type").orderBy("v_c")
      val bounds = ev.withColumn("rn", row_number().over(rn))
        .join(broadcast(ks), Seq("event_type"))
        .filter(col("rn") === col("k05") || col("rn") === col("k95"))
        .groupBy("event_type")
        .agg(min(when(col("rn") === col("k05"), col("v_c"))).as("p05_c"),
          min(when(col("rn") === col("k95"), col("v_c"))).as("p95_c"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("w", greatest(col("p05_c"), least(col("p95_c"), col("v_c"))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("p05_c").as("p05_c"),
          min("p95_c").as("p95_c"), sum("w").as("wsum"))
        .select(col("event_type"), col("n"), col("p05_c"), col("p95_c"),
          expr("CAST(floor(CAST(wsum AS DOUBLE) * 100.0 / CAST(n AS DOUBLE)) AS BIGINT)")
            .as("wmean_ce2"))
        .orderBy("event_type")
    }),

    // ---- day-of-week seasonal index ----------------------------------------
    // The per-day detail behind q147's single chi-square: each (type, iso
    // day-of-week) cell's share of the type's volume and its seasonal index
    // vs the flat-week expectation (10000 = no effect). Pure integer basis
    // points off one aggregation.
    "q158_seasonal_index" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .groupBy(col("event_type"), (weekday(col("ts")) + 1).cast("long").as("iso_dow"))
        .agg(count(lit(1)).as("o"))
        .withColumn("n", sum("o").over(Window.partitionBy("event_type")))
        .select(col("event_type"), col("iso_dow"), col("o"),
          expr("CAST((o * 10000) DIV n AS BIGINT)").as("share_bp"),
          expr("CAST((o * 7 * 10000) DIV n AS BIGINT)").as("index_e4"))
        .orderBy("event_type", "iso_dow")
    }),

    // ---- Lorenz curve of customer spend --------------------------------------
    // The curve behind q123's Gini scalar: revenue concentration by spend
    // decile. Cents pinned per order before the exact BIGINT sums; deciles
    // from ntile(10) under a (spend, custkey) TOTAL order (both engines
    // split ntile remainders to the earlier buckets — q130's precedent);
    // the decile summary is 10 rows, so the final windows are trivial.
    "q165_lorenz" -> ((s: SparkSession, dir: String) => {
      val spend = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)")).as("c"))
      spend
        .withColumn("decile", ntile(10).over(Window.orderBy("c", "o_custkey")).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum("c").as("spend_c"))
        .withColumn("total", sum("spend_c").over(Window.partitionBy()))
        .withColumn("cum", sum("spend_c").over(Window.orderBy("decile")))
        .select(col("decile"), col("n_cust"), col("spend_c"),
          expr("CAST((spend_c * 10000) DIV total AS BIGINT)").as("share_bp"),
          expr("CAST((cum * 10000) DIV total AS BIGINT)").as("cum_share_bp"))
        .orderBy("decile")
    }),

    // ---- session path mining --------------------------------------------------
    // What do sessions DO first? q121's 30-min-gap sessionization, then the
    // first three event types of each session as a '>'-joined path,
    // counted. Path assembly is deterministic: (user, µs-ts) is unique at
    // every SF (the q103 check), rn disambiguates collect order via
    // array_sort on (rn, type) structs. Bounded output (|types|^<=3 paths).
    "q166_session_paths" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flagged = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("prev_sec", lag("sec", 1).over(w))
        .withColumn("new_s",
          (col("prev_sec").isNull || (col("sec") - col("prev_sec")) > 1800L).cast("long"))
        .withColumn("sess", sum("new_s").over(cum))
      val sw = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
      flagged
        .withColumn("rn", row_number().over(sw))
        .filter(col("rn") <= 3)
        .groupBy("user_id", "sess")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), asc("path"))
    }),

    // ---- business-day lead times --------------------------------------------
    // Calendar arithmetic that respects the working week: business days
    // between order date and the order's LAST ship date, summarized per
    // priority. The weekday count uses a closed-form prefix function
    // b(d) = 5*(n DIV 7) + least(n % 7, 5) with n = days since a known
    // Monday (1970-01-05) — pure integer arithmetic, no per-day explode,
    // identical in both engines. The average is floor of ONE double
    // division (lead times could in principle be negative).
    "q172_business_days" -> ((s: SparkSession, dir: String) => {
      def busPrefix(n: String) = s"(5 * ($n DIV 7) + least($n % 7, 5))"
      val ship = Tables(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(max(expr("CAST(l_shipdate AS DATE)")).as("ship_d"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("CAST(o_orderdate AS DATE)").as("order_d"))
        .join(ship, col("o_orderkey") === col("l_orderkey"))
        .withColumn("n0", expr("CAST(datediff(order_d, DATE '1970-01-05') AS BIGINT)"))
        .withColumn("n1", expr("CAST(datediff(ship_d, DATE '1970-01-05') AS BIGINT)"))
        .withColumn("bus", expr(s"${busPrefix("n1")} - ${busPrefix("n0")}"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("bus").as("total_bus_days"),
          max("bus").as("max_bus_days"))
        .select(col("o_orderpriority"), col("n_orders"), col("total_bus_days"),
          expr("CAST(floor(CAST(total_bus_days AS DOUBLE) * 100.0 / CAST(n_orders AS DOUBLE)) AS BIGINT)")
            .as("avg_bus_e2"),
          col("max_bus_days"))
        .orderBy("o_orderpriority")
    }),

    // ---- hour-of-week activity heatmap ---------------------------------------
    // The 7x24 traffic matrix (q158's finer grain): per (iso-dow, hour)
    // cell, volume, share of the day's traffic, and share of the whole
    // week — all exact integer basis points off one aggregation; the
    // windows run over at most 168 rows.
    "q177_hour_heatmap" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .groupBy((weekday(col("ts")) + 1).cast("long").as("iso_dow"),
          hour(col("ts")).cast("long").as("hh"))
        .agg(count(lit(1)).as("o"))
        .withColumn("day_n", sum("o").over(Window.partitionBy("iso_dow")))
        .withColumn("week_n", sum("o").over(Window.partitionBy()))
        .select(col("iso_dow"), col("hh"), col("o"),
          expr("CAST((o * 10000) DIV day_n AS BIGINT)").as("day_share_bp"),
          expr("CAST((o * 10000) DIV week_n AS BIGINT)").as("week_share_bp"))
        .orderBy("iso_dow", "hh")
    }),

    // ---- distribution drift between day cohorts --------------------------
    // Data-drift monitoring: does `value` distribute differently on even
    // vs odd epoch days? Values binned into 20 fixed integer-width
    // buckets (global min/max broadcast), Laplace-smoothed KL(even||odd)
    // per bin — counts are exact BIGINTs, each contribution one
    // shared-verbatim double floor-e9, so the total drift is an exact sum
    // over the per-bin rows this query emits.
    "q179_value_drift" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(expr("CAST(round(value * 100.0) AS BIGINT)").as("v"),
          (expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)") % 2 === 0)
            .cast("long").as("even"))
      val mm = ev.agg(min("v").as("lo"), max("v").as("hi"))
      val binned = ev.crossJoin(broadcast(mm))
        .withColumn("bin",
          expr("least(CAST(19 AS BIGINT), (v - lo) DIV (((hi - lo) DIV 20) + 1))"))
        .groupBy("bin")
        .agg(sum(col("even")).as("n_even"), sum(lit(1L) - col("even")).as("n_odd"))
      val tot = binned.agg(sum(col("n_even") + 1).as("te"), sum(col("n_odd") + 1).as("to_"))
      binned.crossJoin(broadcast(tot))
        .withColumn("kl_e9", expr(DriftKlE9Sql))
        .select("bin", "n_even", "n_odd", "kl_e9")
        .orderBy("bin")
    }),

    // ---- day-of-week seasonality with a chi-square uniformity test -------
    // Does an event type have a weekly rhythm? Observed day-of-week counts
    // vs the uniform expectation, χ² = Σ(o−n/7)²/(n/7) ≡ Σ(7o−n)²/(7n):
    // the numerator is an exact BIGINT sum, the single division is one
    // double op, floor-e4. χ² > 12.59 (df=6, α=.05) flags seasonality.
    "q147_seasonality" -> ((s: SparkSession, dir: String) => {
      val dow = Tables(s, dir, "events")
        .groupBy(col("event_type"), (weekday(col("ts")) + 1).cast("long").as("iso_dow"))
        .agg(count(lit(1)).as("o"))
      val tot = dow.groupBy("event_type").agg(sum("o").as("n"))
      dow.join(broadcast(tot), Seq("event_type"))
        .groupBy("event_type", "n")
        .agg(sum((col("o") * 7 - col("n")) * (col("o") * 7 - col("n"))).as("s"))
        .select(col("event_type"), col("n"),
          expr("CAST(floor(CAST(s AS DOUBLE) * 10000.0 / CAST(7 * n AS DOUBLE)) AS BIGINT)")
            .as("chi2_e4"))
        .withColumn("seasonal", (col("chi2_e4") > 125900L).cast("long"))
        .orderBy("event_type")
    }),

    // ---- lag-1 autocorrelation of the daily series -----------------------
    // Is today's volume predictive of tomorrow's? Pearson r over the
    // (x_t, x_{t+1}) pairs of each type's daily counts — all six power
    // sums are exact BIGINTs from one lag-window pass, and r lands in one
    // shared-verbatim double expression (q93's trick), floor-e4
    // (possibly negative: floor of a double division, never DIV).
    "q148_autocorr" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val pairs = Tables(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("y", lead("x", 1).over(w))
        .filter(col("y").isNotNull)
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("r1_e4", expr(AutocorrE4Sql))
        .select("event_type", "n", "r1_e4")
        .orderBy("event_type")
    }),

    // ---- Benford first-digit analysis ------------------------------------
    // Fraud/synthetic-data screening: the leading digit of order totals vs
    // Benford's log distribution. The digit comes from exact integer cents
    // (string-length + power-of-ten division — double log10 misrounds at
    // decade boundaries); expected share ln(1+1/d)/ln(10) is one shared-
    // verbatim double per digit row, and the deviation is reported in bp.
    "q149_benford" -> ((s: SparkSession, dir: String) => {
      val cents = Tables(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("c"))
        .filter(col("c") > 0)
      val digits = cents
        .withColumn("d", expr(
          "c DIV CAST(pow(10, length(CAST(c AS STRING)) - 1) AS BIGINT)"))
        .groupBy("d").agg(count(lit(1)).as("o"))
      digits
        .withColumn("n", sum("o").over(Window.partitionBy()))
        .select(col("d"), col("o"),
          expr("CAST((o * 10000) DIV n AS BIGINT)").as("share_bp"),
          expr("CAST(floor(ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * 10000.0) AS BIGINT)")
            .as("benford_bp"))
        .withColumn("dev_bp", abs(col("share_bp") - col("benford_bp")))
        .orderBy("d")
    }),

    // ---- ordered-set aggregates: WITHIN GROUP SQL surface ----------------
    // PERCENTILE_CONT / PERCENTILE_DISC with the ANSI WITHIN GROUP (ORDER
    // BY ...) syntax through spark.sql — the ordered-set aggregate form of
    // q44's functional percentiles. Quartile positions on integer-valued
    // quantities are exact dyadics (the q44 argument); DISC picks an
    // actual data value, exact in both engines.
    "q143_within_group" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("q143_lineitem")
      s.sql("""
        |SELECT l_returnflag,
        |  round(PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_quantity), 2)
        |    AS q1_cont,
        |  round(PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_quantity), 2)
        |    AS q3_cont,
        |  round(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY l_quantity), 2)
        |    AS med_disc
        |FROM q143_lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
    }),

    // ---- pairwise correlation matrix -------------------------------------
    // All C(4,2) Pearson correlations of the lineitem measures in one
    // aggregation pass (each corr is a set of power sums — map-side
    // combined, one shuffle total); the q43 rounding precedent applies.
    "q144_corr_matrix" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield round(corr(col(cols(i)), col(cols(j))), 4)
        .as(s"corr_${cols(i).stripPrefix("l_")}_${cols(j).stripPrefix("l_")}")
      li.agg(pairs.head, pairs.tail: _*)
    }),

    // ---- try_cast: malformed-input-tolerant typing (q64's sibling) -------
    // Extract the numeric field from the events JSON props and try_cast
    // it: malformed values become NULL instead of failing the job under
    // ANSI mode. Every 10th event's value is deterministically corrupted
    // with a trailing letter so the NULL path is genuinely exercised;
    // exact BIGINT sum of what parsed.
    "q145_try_cast" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .withColumn("raw",
          concat(expr("get_json_object(props, '$.k')"),
            when(col("event_id") % 10 === 0, lit("x")).otherwise(lit(""))))
        .withColumn("amt", expr("try_cast(raw AS BIGINT)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("amt")).as("n_parsed"),
          coalesce(sum("amt"), lit(0L)).as("sum_amt"))
        .orderBy("event_type")
    }),

    // ---- robust statistics: median / MAD / outlier count -----------------
    // The outlier-resistant alternative to mean/stddev (q43): per group,
    // median, median-absolute-deviation, and the count beyond 3×MAD.
    // l_quantity is integer-valued, so every interpolated percentile lands
    // on exact dyadic rationals (integers, halves, quarters) — bit-equal
    // across engines (the q44 note) and tie-free under round(,2). The
    // deviation set feeds two consumers (the MAD aggregate and the outlier
    // count), so it is persisted; the 6-row medians/MADs broadcast.
    "q118_mad" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
      val med = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5D)").as("med"))
      val dev = li.join(broadcast(med), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("med"),
          abs(col("l_quantity") - col("med")).as("adev"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mads = dev.groupBy("l_returnflag")
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      val out = dev.join(broadcast(mads), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(max(col("med")), 2).as("median"),
          round(max(col("mad")), 2).as("mad"),
          sum((col("adev") > col("mad") * lit(3.0)).cast("long")).as("n_outliers"))
        .orderBy("l_returnflag")
        .localCheckpoint(eager = true)
      dev.unpersist()
      out
    }),

    // ---- equi-depth histogram (ntile deciles per group) ------------------
    // Rank-based decile buckets of order value within each priority class:
    // exact integer bucket assignment (ntile over the (price, orderkey)
    // total order — both engines give remainder rows to the leading
    // buckets), per-bucket count/min/max/sum. The window is keyed by
    // priority, so the sort is per-group, not global.
    "q120_deciles" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
      Tables(s, dir, "orders")
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("o_orderpriority", "decile")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderpriority", "decile")
    }),

    // ---- linear interpolation across time-series gaps --------------------
    // q103 forward-fills categorical state; numeric sensors want LINEAR
    // interpolation: for each empty grid hour, v = v_prev + (v_next −
    // v_prev)·k/g from the nearest observed hours either side. Both
    // neighbor lookups ride ONE user-keyed sort (two frames of the same
    // window); hour numbers are exact epoch-hour integers, and the
    // observed hourly values convert to exact e4 BIGINTs (the rounded sum
    // is within an ulp of a 4-dp decimal), so the interpolation is pure
    // integer rational math — a double (a+b)/2 midpoint lands a literal 5
    // in the tie digit and Spark/DuckDB round() disagree (the r4 lesson).
    // The grid is bounded by each user's first/last OBSERVED hour, so
    // every gap hour has both neighbors and v_e4 is total (nullable
    // doubles also break the driver's row sorter).
    "q133_interp" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events").filter(col("user_id") < 5)
      val hourly = ev
        .withColumn("hr", date_trunc("hour", col("ts")))
        .groupBy("user_id", "hr")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("hv"))
      val grid = ev.groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hr"))
      val base = grid.join(hourly, Seq("user_id", "hr"), "left")
        .withColumn("hrn", expr("unix_timestamp(hr) div 3600"))
        .withColumn("hv_e4", expr("CAST(round(hv * 10000.0) AS BIGINT)"))
        .withColumn("obs",
          when(col("hv").isNotNull, struct(col("hrn"), col("hv_e4"))))
      val w = Window.partitionBy("user_id").orderBy("hrn")
      val prevW = w.rowsBetween(Window.unboundedPreceding, -1)
      val nextW = w.rowsBetween(1, Window.unboundedFollowing)
      base
        .withColumn("p", last(col("obs"), ignoreNulls = true).over(prevW))
        .withColumn("nx", first(col("obs"), ignoreNulls = true).over(nextW))
        .withColumn("v_e4",
          when(col("hv").isNotNull, col("hv_e4"))
            .otherwise(expr(
              """(p.hv_e4 * (nx.hrn - hrn) + nx.hv_e4 * (hrn - p.hrn))
                |  DIV (nx.hrn - p.hrn)""".stripMargin)))
        .select(col("user_id"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("v_e4"))
        .orderBy("user_id", "hour")
    }),

    // ---- rollup with grouping_id level labels ----------------------------
    // grouping_id() disambiguates "NULL because rolled up" from "NULL in
    // the data" — the missing piece of the q13/q14 rollup surface. Both
    // engines emit the same bitmask (first grouping column = MSB).
    "q134_grouping_id" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
          grouping_id().cast("long").as("gid"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
          col("n"), col("total"))
        .orderBy(col("gid"), asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    }),

    // ---- CUSUM changepoint detection -------------------------------------
    // Where did the level of a daily series shift? The n-scaled CUSUM path
    // C_t = Σ_{i≤t} (n·cnt_i − S1) stays in exact BIGINTs (no mean
    // division), and the changepoint estimate is the day maximizing |C_t|
    // — ties to the earliest day via map-side max_by over the
    // (|C|, −day-number) struct order. One type-keyed window over |days|
    // rows, one tiny aggregation; complements q108's pointwise z-scores
    // with a structural-shift detector.
    "q132_cusum" -> ((s: SparkSession, dir: String) => {
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cnt").as("s1"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(broadcast(stats), Seq("event_type"))
        .withColumn("c", sum(col("cnt") * col("n") - col("s1")).over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          max_by(struct(col("day"), col("c")),
            struct(abs(col("c")), expr("-unix_date(day)"))).as("b"))
        .select(col("event_type"), col("n_days"),
          date_format(col("b.day"), "yyyy-MM-dd").as("cp_day"),
          col("b.c").as("c_at_cp"), abs(col("b.c")).as("max_abs_c"))
        .orderBy("event_type")
    }),

    // ---- RFM customer segmentation ---------------------------------------
    // Recency/Frequency/Monetary quintiles — the standard rank-based
    // customer scoring. Each dimension is an exact ntile(5) under a total
    // order (recency and frequency are integers; monetary ranks on the
    // round(,2) sum with custkey tie-break so a last-ulp cross-engine sum
    // difference can't reorder near-equal customers). Segment code =
    // R·100 + F·10 + M.
    "q130_rfm" -> ((s: SparkSession, dir: String) => {
      val base = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(max("o_orderdate").as("last_order"),
          count(lit(1)).as("frequency"),
          round(sum("o_totalprice"), 2).as("monetary"))
      def quint(c: String) =
        ntile(5).over(Window.orderBy(col(c), col("o_custkey"))).cast("long")
      base
        .withColumn("r_score", quint("last_order"))
        .withColumn("f_score", quint("frequency"))
        .withColumn("m_score", quint("monetary"))
        .select(col("o_custkey"),
          date_format(col("last_order"), "yyyy-MM-dd").as("last_order"),
          col("frequency"), col("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("segment"))
        .orderBy("o_custkey")
    }),

    // ---- conversion-lag percentiles per signup cohort --------------------
    // q104 tells you WHO converted; this tells you HOW FAST: per weekly
    // signup cohort, quartiles of the signup→purchase lag (through the
    // strictly-ordered funnel chain). Lags are floor-to-second integers,
    // so interpolated quartiles land on exact dyadic rationals (q44/q118's
    // argument) — bit-equal across engines, tie-free under round(,2).
    "q125_conversion_lag" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      def firstAfter(tpe: String, prev: org.apache.spark.sql.DataFrame,
                     prevCol: String, out: String) =
        ev.filter(col("event_type") === tpe)
          .join(prev, Seq("user_id"))
          .filter(col("ts") > col(prevCol))
          .groupBy("user_id").agg(min(col("ts")).as(out))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
      val vw = firstAfter("view", su, "s_ts", "v_ts")
      val pu = firstAfter("purchase", vw, "v_ts", "p_ts")
      su.join(pu, Seq("user_id"), "left")
        .select(date_format(date_trunc("week", col("s_ts")), "yyyy-MM-dd").as("cohort_week"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("s_ts"))).as("lag_sec"))
        .groupBy("cohort_week")
        .agg(count(lit(1)).as("n_signups"),
          count(col("lag_sec")).as("n_converted"),
          round(expr("percentile(lag_sec, 0.25D)"), 2).as("lag_p25"),
          round(expr("percentile(lag_sec, 0.5D)"), 2).as("lag_p50"),
          round(expr("percentile(lag_sec, 0.75D)"), 2).as("lag_p75"))
        .orderBy("cohort_week")
    }),

    // ---- gap-based sessionization (cumulative-flag form) -----------------
    // The window formulation of sessionization (q26 covers the
    // session_window aggregate form): a session breaks when the gap to the
    // previous event exceeds 30 min; session id = running sum of the break
    // flags. Both windows ride ONE user-keyed sort; time math uses
    // floor-to-second longs so both engines compare identical integers.
    "q121_sessions" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flagged = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("prev_sec", lag("sec", 1).over(w))
        .withColumn("new_s",
          (col("prev_sec").isNull || (col("sec") - col("prev_sec")) > 1800L).cast("long"))
        .withColumn("sess", sum("new_s").over(cum))
      flagged.groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_ev"), (max("sec") - min("sec")).as("dur_sec"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_ev").as("n_events"),
          max("n_ev").as("max_session_events"), max("dur_sec").as("max_duration_sec"))
        .orderBy("user_id")
    }),

    // ---- last-touch attribution through the native as-of operator --------
    // Each purchase attributed to the user's most recent STRICTLY prior
    // view (AsOfJoinExec — the custom co-partitioned merge, q58/q69's
    // operator, in a business query) when it happened within 7 days.
    // Per-day attribution rate in integer basis points.
    "q122_attribution" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      org.apache.spark.sql.graft.AsOfJoin.asofPrior(
          purchases, views, "user_id" -> "user_id", "ts" -> "ts")
        .withColumn("attributed",
          (col("r_ts").isNotNull &&
            (unix_timestamp(col("ts")) - unix_timestamp(col("r_ts"))) <= 604800L)
            .cast("long"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_purchases"), sum("attributed").as("n_attributed"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_purchases"), col("n_attributed"),
          expr("CAST((n_attributed * 10000) DIV n_purchases AS BIGINT)").as("attr_bp"))
        .orderBy("day")
    }),

    // ---- two-proportion z-test (A/B experiment analysis) -----------------
    // Users hash-split into two deterministic arms (md5 % 2 — the q73
    // split discipline), conversion = any purchase; the pooled two-
    // proportion z statistic from exact BIGINT counts via ONE shared-
    // verbatim double expression (q93's trick), ×1e4 floor-integerized;
    // |z| ≥ 1.96 flags significance. Everything reduces to a single row,
    // so the whole test is one aggregation pass over per-user flags.
    "q124_ab_test" -> ((s: SparkSession, dir: String) => {
      val perUser = Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(max((col("event_type") === "purchase").cast("long")).as("purchased"))
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(CAST(CAST(user_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 2"))
      perUser.agg(
          sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("bucket") === 0, col("purchased")).otherwise(0L)).as("c_a"),
          sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("bucket") === 1, col("purchased")).otherwise(0L)).as("c_b"))
        .withColumn("z_e4", expr(AbZE4Sql))
        .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"), col("z_e4"),
          (abs(col("z_e4")) >= 19600L).cast("long").as("significant"))
    }),

    // ---- raw ANSI SQL front-end: EXISTS / NOT EXISTS / scalar subquery ---
    // The same engine surface through spark.sql text instead of the
    // DataFrame API: Catalyst decorrelates EXISTS into a left-semi join,
    // NOT EXISTS into a left-anti join, and the correlated scalar subquery
    // into an aggregate + left outer join — three subquery shapes, zero
    // hand-written joins. max_price is a max over STORED doubles
    // (selection, not arithmetic), so no rounding is needed for parity.
    "q98_sql_subqueries" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer").createOrReplaceTempView("q98_customer")
      Tables(s, dir, "orders").createOrReplaceTempView("q98_orders")
      s.sql("""
        |SELECT c.c_custkey, c.c_name,
        |  (SELECT max(o3.o_totalprice) FROM q98_orders o3
        |    WHERE o3.o_custkey = c.c_custkey) AS max_price
        |FROM q98_customer c
        |WHERE EXISTS (SELECT 1 FROM q98_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 200000)
        |  AND NOT EXISTS (SELECT 1 FROM q98_orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c.c_custkey""".stripMargin)
    }),

    // ---- argmax/argmin: native max_by/min_by with composite ordering -----
    // Tie determinism (the round-1 blocker): a bare max_by(x, price) picks
    // an arbitrary row among equal prices; ordering by the STRUCT
    // (price, orderkey) makes the argmax a total order — lexicographic
    // struct comparison is exactly ORDER BY price DESC, orderkey DESC
    // (resp. ASC, ASC for min_by). One hash aggregate, no window sort.
    "q57_argmax" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("n_orders"),
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("best_order"),
          max("o_totalprice").as("best_price"),
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("worst_order"),
          min("o_totalprice").as("worst_price"))
        .orderBy("o_custkey")
    }),

    // ---- range (interval) join, bucket-accelerated -----------------------
    // "views in the hour before each purchase" — the range-join shape the
    // brief names next to as-of. NOT a theta join: both sides get an
    // hour-bucket key, the right side is expanded to (bucket, bucket+1) so
    // every candidate pair shares an equi-key, then the exact range
    // predicate filters. At 100 TB this is the difference between a
    // hash-partitionable equi-join (one shuffle on (user, bucket)) and a
    // nested-loop theta join; the bucket fan-out is a constant 2×.
    // Range math in whole epoch SECONDS on both sides: events.ts is
    // nanosecond parquet (DuckDB keeps ns, Spark µs-truncates), so a raw
    // timestamp inequality could flip at sub-µs boundaries between engines.
    "q62_range_join" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .selectExpr("event_id AS p_id", "user_id AS u", "unix_timestamp(ts) AS p_s")
        .withColumn("bkt", expr("p_s div 3600"))
      val v = ev.filter(col("event_type") === "view")
        .selectExpr("user_id AS vu", "unix_timestamp(ts) AS v_s")
        .withColumn("vbkt0", expr("v_s div 3600"))
        // a view in bucket b can precede purchases in buckets b and b+1
        // only — each candidate pair shares exactly ONE expanded key, so
        // the fan-out can't double-count
        .withColumn("bkt", explode(array(col("vbkt0"), col("vbkt0") + 1)))
      p.join(v, col("u") === col("vu") && p("bkt") === v("bkt") &&
          col("v_s") >= col("p_s") - 3600 && col("v_s") < col("p_s"), "left")
        .groupBy("p_id")
        .agg(count(col("v_s")).as("n_prior_views"))
        .orderBy("p_id")
    }),

    // ---- stream-stream join batch analog (q62 minus the left join) -------
    // purchasesWithRecentViews (EventsPipeline) emits (purchase, view)
    // PAIRS under the same interval semantics; this deterministic batch
    // form gives the streaming join a DuckDB oracle, and StreamingSpec
    // asserts the foreachBatch output equals exactly this query's rows.
    // Same bucket trick as q62; inner join, so the pair set is the output.
    "q71_interval_pairs" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .selectExpr("event_id AS p_id", "user_id AS u", "unix_timestamp(ts) AS p_s")
        .withColumn("bkt", expr("p_s div 3600"))
      val v = ev.filter(col("event_type") === "view")
        .selectExpr("event_id AS v_id", "user_id AS vu", "unix_timestamp(ts) AS v_s")
        .withColumn("vbkt0", expr("v_s div 3600"))
        .withColumn("bkt", explode(array(col("vbkt0"), col("vbkt0") + 1)))
      p.join(v, col("u") === col("vu") && p("bkt") === v("bkt") &&
          col("v_s") >= col("p_s") - 3600 && col("v_s") < col("p_s"))
        .select(col("p_id"), col("v_id"))
        .orderBy("p_id", "v_id")
    }),

    // ---- linear-regression aggregates ------------------------------------
    "q65_regression" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy("l_returnflag")
    }),

    // ---- bitwise aggregates (exact integers, order-insensitive) ----------
    "q66_bit_aggs" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          bit_and(col("event_id") % 256).as("band"),
          bit_or(col("event_id") % 256).as("bor"),
          bit_xor(col("event_id") % 256).as("bxor"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---- ANSI-safe arithmetic: try_divide null-on-zero -------------------
    // event_id % 5 == 0 rows divide by zero; try_divide yields NULL instead
    // of failing the job — the ANSI-mode-safe form a pipeline wants.
    "q64_try_divide" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .select(col("event_id"),
          round(expr("try_divide(value, event_id % 5)"), 4).as("per_unit"))
        .orderBy("event_id")
    }),

    // ---- unpivot (wide -> long) ------------------------------------------
    "q63_unpivot" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(round(sum("o_totalprice"), 2).as("total"),
          round(avg("o_totalprice"), 2).as("avg"),
          round(max("o_totalprice"), 2).as("max"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("total"), col("avg"), col("max")), "metric", "value")
        .orderBy("o_orderstatus", "metric")
    }),

    // ---- native as-of join (custom LogicalPlan/Strategy/Exec) ------------
    // Same result contract as q48, computed by AsOfJoinExec (two-pointer
    // sorted merge over co-partitioned sides; O(1) merge state) instead of
    // the union + window-frame formulation. The strategy is injected via
    // GraftExtensions; EnsureRequirements plans the exchanges/sorts.
    "q58_native_asof" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id")
      org.apache.spark.sql.graft.AsOfJoin.asofPrior(
          purchases, views, "user_id" -> "user_id", "event_id" -> "event_id")
        .select(col("event_id"), col("user_id"), col("r_event_id").as("prior_view"))
        .orderBy("event_id")
    }),

    // ---- broadcast-right native as-of join -------------------------------
    // Same result contract as q58, computed by AsOfJoinBroadcastExec: the
    // right side is broadcast and indexed per task (key -> ord-sorted
    // rows), the left is NEITHER shuffled NOR sorted — the plan for a big
    // fact as-of a small dimension history. AsOfJoinSpec asserts the
    // zero-left-exchange plan shape.
    "q75_bcast_asof" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id")
      org.apache.spark.sql.graft.AsOfJoin.asofPriorBroadcast(
          purchases, views, "user_id" -> "user_id", "event_id" -> "event_id")
        .select(col("event_id"), col("user_id"), col("r_event_id").as("prior_view"))
        .orderBy("event_id")
    }),

    // ---- native as-of join on raw event time (TimestampType ord) ---------
    // The generalized exec compares ord via Catalyst's interpreted ordering,
    // so the natural key — the raw µs timestamp — needs no pre-cast. Oracle
    // orders by epoch_ns // 1000 (≡ Spark's µs truncation of the ns
    // parquet); (user_id, µs) verified unique at sf0.001/0.01/0.1, so the
    // "strictly prior" comparison is tie-free in both engines.
    // ---- as-of join with a lookback tolerance ----------------------------
    // pandas merge_asof(tolerance=1h) through the native physical
    // operator: the most recent prior view ONLY if it happened within the
    // hour before the purchase — the window is part of the match inside
    // AsOfJoinExec (one co-partitioned merge), not a post-filter over an
    // unbounded attach.
    "q197_asof_tolerance" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      org.apache.spark.sql.graft.AsOfJoin.asofPriorWithin(
          purchases, views, "user_id" -> "user_id", "ts" -> "ts",
          tolerance = 3600L * 1000000L) // 1 hour in ord units (µs)
        .select(col("event_id"), col("user_id"),
          coalesce(col("r_event_id"), lit(-1L)).as("prior_view_1h"))
        .orderBy("event_id")
    }),

    "q69_asof_ts" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      org.apache.spark.sql.graft.AsOfJoin.asofPrior(
          purchases, views, "user_id" -> "user_id", "ts" -> "ts")
        .select(col("event_id"), col("user_id"), col("r_event_id").as("prior_view"))
        .orderBy("event_id")
    }),

    // ---- higher moments from exact integer power sums --------------------
    // Skewness / excess kurtosis of the per-language token-length
    // distribution. Built-in skewness()/kurtosis() differ between engines
    // on bias correction AND on float summation order, so the moments are
    // derived from raw power sums S1..S4 of the integer token counts —
    // exact BIGINT arithmetic, commutative, partition-order-independent —
    // and the final skew/kurtosis values are ONE shared double expression
    // (`momentExprs`, interpolated verbatim into both engines) over those
    // exact integers: identical IEEE ops in identical order, finished with
    // tie-free floor(). S4 bounds: max tokens/doc here ≈ 2⁷ → n⁴ ≈ 2²⁸,
    // overflow needs ~2³⁵ docs per group; longer-doc corpora would move S3/
    // S4 to DECIMAL(38,0).
    "q93_moments" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("lang"), docToks.as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"),
          sum(col("n") * col("n") * col("n")).as("s3"),
          sum(col("n") * col("n") * col("n") * col("n")).as("s4"))
        .select(col("lang") +: col("n_docs") +: col("s1").as("n_tokens") +:
          momentExprs.map { case (name, sql) => expr(sql).as(name) }: _*)
        .orderBy("lang")
    }),

    // ---- as-of join: most recent prior 'view' for each 'purchase' --------
    "q48_asof_join" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type").isin("purchase", "view"))
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("prior_view",
          last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "prior_view")
        .orderBy("event_id")
    }),

    // ---- interval union (total activity coverage) ------------------------
    // Each event opens a 5-minute activity interval; per-user total
    // COVERED seconds must merge overlaps (naive n·300 double-counts).
    // Classic sweep without a self-join: order per user, running max of
    // interval ends over STRICTLY PRECEDING rows — a new merged interval
    // starts where the current start clears it; merged-group id is the
    // running sum of those breaks (q121's flag trick). Everything rides
    // ONE user-keyed sort; time math is floor-to-second integers.
    "q201_interval_union" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val prior = w.rowsBetween(Window.unboundedPreceding, -1)
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val iv = Tables(s, dir, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("sec"), col("event_id"))
        .withColumn("fin", col("sec") + 300L)
        .withColumn("pm", max("fin").over(prior))
        .withColumn("new_i",
          (col("pm").isNull || col("sec") > col("pm")).cast("long"))
        .withColumn("grp", sum("new_i").over(cum))
      iv.groupBy("user_id", "grp")
        .agg((max("fin") - min("sec")).as("cov"), count(lit(1)).as("n_ev"))
        .groupBy("user_id")
        .agg(sum("cov").as("active_sec"), count(lit(1)).as("n_intervals"),
          sum("n_ev").as("n_events"))
        .select(col("user_id"), col("active_sec").cast("long").as("active_sec"),
          col("n_intervals"), col("n_events").cast("long").as("n_events"))
        .orderBy("user_id")
    }),

    // ---- session path pattern matching -----------------------------------
    // MATCH_RECOGNIZE-lite: each session (q121's gap rule) becomes a string
    // of event-type initials in time order, and funnels become regexes over
    // it ('v.*c.*p' = view, later click, later purchase). Per user: total
    // sessions, funnel-matching sessions, single-event bounces. The path
    // string is bounded by session length; ordering uses (floor-second,
    // event_id) in BOTH engines — DuckDB ordering by raw nanos while Spark
    // orders truncated micros would diverge on same-second ties.
    "q207_seq_pattern" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val flagged = Tables(s, dir, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
          col("event_id"), substring(col("event_type"), 1, 1).as("i"))
        .withColumn("prev_sec", lag("sec", 1).over(w))
        .withColumn("new_s",
          (col("prev_sec").isNull || (col("sec") - col("prev_sec")) > 1800L).cast("long"))
        .withColumn("sess", sum("new_s").over(cum))
      val paths = flagged.groupBy("user_id", "sess")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("sec"), col("event_id"), col("i")))),
          x => x.getField("i")), "").as("path"))
      paths.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("path").rlike("v.*c.*p").cast("long")).as("n_funnel"),
          sum((length(col("path")) === 1).cast("long")).as("n_bounce"))
        .select(col("user_id"), col("n_sessions"),
          col("n_funnel").cast("long").as("n_funnel"),
          col("n_bounce").cast("long").as("n_bounce"))
        .orderBy("user_id")
    }),

    // ---- weighted median -------------------------------------------------
    // Character-mass median document length per language: the length at
    // which half the language's characters live in shorter docs. Standard
    // cumulative-weight form: one per-language sort, running weight vs the
    // partition total, first crossing wins. Weights and values are exact
    // BIGINTs; ties broken by doc_id so the crossing row is deterministic.
    "q209_weighted_median" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("cumw", sum("n_chars").over(cum))
        .withColumn("totw", sum("n_chars").over(Window.partitionBy("lang")))
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy("lang")
        .agg(min("n_chars").as("wmedian_chars"),
          min("totw").as("total_chars"))
        .select(col("lang"), col("wmedian_chars").cast("long").as("wmedian_chars"),
          col("total_chars").cast("long").as("total_chars"))
        .orderBy("lang")
    }),

    // ---- distinct-count grouping sets ------------------------------------
    // Unique users at four granularities — (type, week), (type), (week),
    // () — in one GROUPING SETS pass. Spark plans this as Expand (one
    // replica per grouping set) + a distinct aggregate: the standard way
    // to ship an N-granularity unique-users report with one scan at
    // 100 TB. NULL grouping cells are labelled 'ALL' in both engines.
    "q210_distinct_sets" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events").createOrReplaceTempView("q210_events")
      s.sql("""
        |WITH e AS (SELECT event_type,
        |             date_format(date_trunc('week', ts), 'yyyy-MM-dd') AS week,
        |             user_id
        |           FROM q210_events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(week, 'ALL') AS week,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
        |FROM e
        |GROUP BY GROUPING SETS ((event_type, week), (event_type), (week), ())
        |ORDER BY event_type, week""".stripMargin)
    }),

    // ---- native histogram-sketch quantiles -------------------------------
    // Per-flag price quantiles the way they ship at 100 TB: the custom
    // `hist_regs` TypedImperativeAggregate folds each partition into a
    // ~2 KB sub-logarithmic bucket array (values 0-7 exact, then 4
    // sub-buckets per octave, ≤25% bucket width), partials merge by
    // elementwise add, ONE row per group crosses the shuffle, and eval
    // walks the buckets to the ceil(p·n) crossings. The estimates are
    // bucket lower bounds — pure integers — so the DuckDB oracle
    // reproduces them exactly with the same bucket expression + a
    // cumulative window (the plan the SQL form would shuffle in full).
    "q219_hist_quantiles" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.graft.Sketches.hist_regs
      Tables(s, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)").as("v"))
        .groupBy("l_returnflag")
        .agg(hist_regs(col("v")).as("h"))
        .select(col("l_returnflag"), col("h.n").as("n"),
          col("h.p50_est").as("p50_est"), col("h.p90_est").as("p90_est"),
          col("h.p99_est").as("p99_est"))
        .orderBy("l_returnflag")
    }),

    // ---- standing quantile state (AggState's third member) ---------------
    // q219's histogram as an INCREMENTAL state table: three deterministic
    // slices of lineitem land as build + two blind appends of per-bucket
    // count rows (bucket counts are additive — the scalar-state discipline
    // applied to a quantile sketch), and the merged read walks the folded
    // cumulative histogram. The oracle is q219's from-scratch SQL
    // verbatim, so incremental ≡ rebuild is the correctness gate itself.
    "q269_agg_state_quantiles" -> ((s: SparkSession, dir: String) => withStateDir("graft-agg-hist-") { stateDir =>
      import graft.operators.AggState
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)").as("cents"))
      def slice(r: Int) = li.filter(col("l_orderkey") % 3 === r)
      AggState.buildHist(slice(0), Seq("l_returnflag"), "cents", stateDir)
      AggState.appendHist(slice(1), Seq("l_returnflag"), "cents", stateDir)
      AggState.appendHist(slice(2), Seq("l_returnflag"), "cents", stateDir)
      AggState.mergedHist(s, stateDir, Seq("l_returnflag"))
        .orderBy("l_returnflag")
    }),

    // ---- standing quantile state: RETRACTION (CDC deletes) ---------------
    // q269 with the delete half of the contract: the l_orderkey%3==1 slice
    // is retracted after the full build — bucket counts are ADDITIVE, so
    // negated count rows retract EXACTLY, and the merged walk must equal
    // the from-scratch histogram over the survivors. The oracle IS q219's
    // SQL restricted to survivors, so grown-with-retractions ≡
    // scratch-on-survivors is hash-checked in the gate (the q264/q270
    // equivalence discipline).
    "q272_hist_retract" -> ((s: SparkSession, dir: String) => withStateDir("graft-agg-hist-retract-") { stateDir =>
      import graft.operators.AggState
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)").as("cents"))
      AggState.buildHist(li.filter(col("l_orderkey") % 3 === 0),
        Seq("l_returnflag"), "cents", stateDir)
      AggState.appendHist(li.filter(col("l_orderkey") % 3 =!= 0),
        Seq("l_returnflag"), "cents", stateDir)
      AggState.retractHist(li.filter(col("l_orderkey") % 3 === 1),
        Seq("l_returnflag"), "cents", stateDir)
      AggState.mergedHist(s, stateDir, Seq("l_returnflag"))
        .orderBy("l_returnflag")
    }),

    // ---- CUPED variance reduction for the A/B readout --------------------
    // q124's experiment analysis with the industry-standard pre-period
    // adjustment: theta = cov(y, x)/var(x) over per-user (pre, experiment)
    // value sums, y_adj = y − theta·(x − mean x). Every moment is an exact
    // BIGINT power sum from ONE aggregation pass; theta, the achieved
    // variance reduction (= rho², the theoretical CUPED gain), and the
    // raw-vs-adjusted arm lift are shared-verbatim double expressions.
    // Arms use q124's md5 hash split; the period split is the fixtures'
    // mid-window date.
    "q224_cuped" -> ((s: SparkSession, dir: String) => {
      val cents = expr("CAST(round(value * 100.0) AS BIGINT)")
      val pre = to_date(col("ts")) < lit("2024-01-16").cast("date")
      val perUser = Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(sum(when(pre, cents).otherwise(0L)).as("x"),
          sum(when(!pre, cents).otherwise(0L)).as("y"))
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(CAST(CAST(user_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 2"))
      perUser.agg(
          sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("n_b"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(when(col("bucket") === 0, col("x")).otherwise(0L)).as("sxa"),
          sum(when(col("bucket") === 1, col("x")).otherwise(0L)).as("sxb"),
          sum(when(col("bucket") === 0, col("y")).otherwise(0L)).as("sya"),
          sum(when(col("bucket") === 1, col("y")).otherwise(0L)).as("syb"))
        .withColumn("theta_e6", expr(CupedThetaE6Sql))
        .withColumn("var_red_bp", expr(CupedVarRedBpSql))
        .withColumn("lift_raw_e4", expr(CupedLiftRawE4Sql))
        .withColumn("lift_cuped_e4", expr(CupedLiftAdjE4Sql))
        .select("n_a", "n_b", "theta_e6", "var_red_bp",
          "lift_raw_e4", "lift_cuped_e4")
    }),

    // ---- audience overlap matrix -----------------------------------------
    // Which event types share users: pairwise Jaccard of the per-type
    // distinct-user sets, computed from ONE (type, user) distinct pass —
    // the pair counts come from the user-keyed self-join of that compact
    // table (each user contributes its type combinations, never raw
    // events), and set sizes broadcast back. Exact basis points. The
    // segmentation/cannibalization readout beside q107's flow matrix.
    "q228_audience_overlap" -> ((s: SparkSession, dir: String) => {
      val tu = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id")).distinct()
      val sizes = tu.groupBy("t").agg(count(lit(1)).as("n"))
      val common = tu.join(tu.select(col("t").as("t2"), col("user_id")), Seq("user_id"))
        .filter(col("t") < col("t2"))
        .groupBy("t", "t2").agg(count(lit(1)).as("n_common"))
      common
        .join(broadcast(sizes.select(col("t"), col("n").as("n_a"))), Seq("t"))
        .join(broadcast(sizes.select(col("t").as("t2"), col("n").as("n_b"))), Seq("t2"))
        .select(col("t").as("type_a"), col("t2").as("type_b"),
          col("n_a"), col("n_b"), col("n_common").cast("long").as("n_common"),
          expr("CAST((n_common * 10000) DIV (n_a + n_b - n_common) AS BIGINT)")
            .as("jaccard_bp"))
        .orderBy("type_a", "type_b")
    }),

    // ---- KMV sketch set operations ---------------------------------------
    // What q228 CANNOT do at 100 TB (the exact self-join shuffles every
    // (type, user) pair): estimate union and intersection cardinalities
    // from per-type bottom-16 hash sketches alone. The union sketch is the
    // bottom-16 of the two merged lists (KMV closure under union — the
    // property theta sketches industrialize), the intersection comes by
    // inclusion-exclusion, and the EXACT intersection is computed beside
    // it so the error is part of the verified output. Deterministic: md5
    // hashes, min/sort merges — no rand anywhere (q111's discipline).
    "q229_kmv_setops" -> ((s: SparkSession, dir: String) => {
      val tu = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id")).distinct()
      val hashed = tu.select(col("t"),
        expr("CAST(conv(substring(md5(CAST(CAST(user_id AS STRING) AS BINARY)), 1, 14), 16, 10) AS BIGINT)").as("h"))
      // eagerly materialized: BOTH self-join sides read this |types|-row
      // table — without the barrier each side re-runs the sketch aggregate
      // over the events scan
      val perType = hashed.groupBy("t")
        .agg(count(lit(1)).as("n_exact"),
          graft.functions.TopKByScore.top_k(16)(col("h"), negate(col("h").cast("double"))).as("mins"))
        .select(col("t"), col("n_exact"),
          transform(col("mins"), m => m.getField("id")).as("ids"))
        .localCheckpoint(eager = true)
      val pairs = perType.select(col("t").as("ta"), col("n_exact").as("na"), col("ids").as("ia"))
        .crossJoin(broadcast(
          perType.select(col("t").as("tb"), col("n_exact").as("nb"), col("ids").as("ib"))))
        .filter(col("ta") < col("tb"))
      val withUnion = pairs
        .withColumn("iu", slice(array_sort(array_distinct(concat(col("ia"), col("ib")))), 1, 16))
        .withColumn("est_a", when(size(col("ia")) < 16, col("na"))
          .otherwise(expr("CAST((15 * 72057594037927936) DIV element_at(ia, 16) AS BIGINT)")))
        .withColumn("est_b", when(size(col("ib")) < 16, col("nb"))
          .otherwise(expr("CAST((15 * 72057594037927936) DIV element_at(ib, 16) AS BIGINT)")))
        .withColumn("est_union", when(size(col("iu")) < 16, size(col("iu")).cast("long"))
          .otherwise(expr("CAST((15 * 72057594037927936) DIV element_at(iu, 16) AS BIGINT)")))
        .withColumn("est_inter",
          greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L)))
      val exactInter = tu.join(tu.select(col("t").as("t2"), col("user_id")), Seq("user_id"))
        .filter(col("t") < col("t2"))
        .groupBy(col("t").as("ta"), col("t2").as("tb"))
        .agg(count(lit(1)).as("n_inter_exact"))
      withUnion.join(exactInter, Seq("ta", "tb"))
        .select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("est_a"), col("est_b"), col("est_union"),
          col("est_inter").cast("long").as("est_inter"),
          col("n_inter_exact").cast("long").as("n_inter_exact"))
        .orderBy("type_a", "type_b")
    }),

    // ---- nearest-direction as-of join ------------------------------------
    // pandas merge_asof(direction='nearest') completed from the native
    // operator: BACKWARD is asofPriorWithin as-is; FORWARD is the same
    // exec over negated event seconds (prior in negated time = next in
    // real time — no new physical code); the closer match wins, ties to
    // backward (pandas semantics). Both passes are the co-partitioned
    // merge; the pick is per-row arithmetic. 1-hour tolerance each way.
    "q236_asof_nearest" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.graft.AsOfJoin
      val ev = Tables(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("sec"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), unix_timestamp(col("ts")).as("sec"))
      val back = AsOfJoin.asofPriorWithin(p, v,
        "user_id" -> "user_id", "sec" -> "sec", tolerance = 3600L, rightPrefix = "b_")
        .select(col("event_id"), col("b_view_id"), col("b_sec"))
      val fwd = AsOfJoin.asofPriorWithin(
        p.withColumn("nsec", -col("sec")),
        v.withColumn("nsec", -col("sec")),
        "user_id" -> "user_id", "nsec" -> "nsec", tolerance = 3600L, rightPrefix = "f_")
        .select(col("event_id"), col("f_view_id"), col("f_sec"))
      p.join(back, Seq("event_id")).join(fwd, Seq("event_id"))
        .withColumn("db", col("sec") - col("b_sec"))
        .withColumn("df", col("f_sec") - col("sec"))
        .select(col("event_id"), col("user_id"),
          coalesce(when(col("b_sec").isNotNull &&
            (col("f_sec").isNull || col("db") <= col("df")), col("b_view_id"))
            .otherwise(col("f_view_id")), lit(-1L)).as("nearest_view"),
          coalesce(when(col("b_sec").isNotNull &&
            (col("f_sec").isNull || col("db") <= col("df")), -col("db"))
            .otherwise(col("df")).cast("long"), lit(0L)).as("delta_sec"))
        .orderBy("event_id")
    }),

    // ---- median with a distribution-free 95% CI --------------------------
    // The binomial order-statistic interval: for n samples the 95% CI of
    // the median is the pair of values at ranks (n ± 1.96·√n)/2 — no
    // distributional assumption, just counting. Rank arithmetic is a
    // shared-verbatim floor/ceil expression over exact counts; the VALUES
    // at a multiset position are engine-independent (the q164 trick), so
    // the whole CI is hash-exact. One per-type sort + one tiny aggregate.
    "q235_median_ci" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("event_type").orderBy("cents", "event_id")
      val ranked = Tables(s, dir, "events")
        .select(col("event_type"),
          expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"), col("event_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      ranked
        .withColumn("m_pos", expr("(n + 1) div 2"))
        .withColumn("lo_pos", expr(CiLoPosSql))
        .withColumn("hi_pos", expr(CiHiPosSql))
        .groupBy("event_type")
        .agg(max("n").as("n"),
          max(when(col("rn") === col("m_pos"), col("cents"))).as("median_c"),
          max(when(col("rn") === col("lo_pos"), col("cents"))).as("ci_lo_c"),
          max(when(col("rn") === col("hi_pos"), col("cents"))).as("ci_hi_c"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("median_c").cast("long").as("median_c"),
          col("ci_lo_c").cast("long").as("ci_lo_c"),
          col("ci_hi_c").cast("long").as("ci_hi_c"))
        .orderBy("event_type")
    }),

    // ---- incremental aggregate maintenance -------------------------------
    // The daily-ETL contract: yesterday's per-type state (n, sum, min, max
    // — all MERGEABLE partials) plus today's delta must equal a full
    // recompute. The query materializes both sides and a consistency flag,
    // so the gate proves merge semantics, not just one path. At 100 TB the
    // "hist" branch is a read of the stored state table, not a re-scan —
    // this is why the state columns must be partials (sum/min/max/count),
    // never finished ratios or distincts (those need sketches: q190/q219).
    "q221_incremental" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          unix_timestamp(col("ts")).as("sec"),
          expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"))
      val cutoff = ev.agg(max("day").as("cutoff"))
      val tagged = ev.crossJoin(broadcast(cutoff))
      def partials(df: DataFrame) = df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"),
          min("sec").as("mn"), max("sec").as("mx"))
      val hist = partials(tagged.filter(col("day") < col("cutoff")))
      val delta = partials(tagged.filter(col("day") === col("cutoff")))
      val merged = hist.unionByName(delta).groupBy("event_type")
        .agg(sum("n").as("n"), sum("s").as("s"), min("mn").as("mn"), max("mx").as("mx"))
      val full = partials(tagged)
        .select(col("event_type"), col("n").as("fn"), col("s").as("fs"),
          col("mn").as("fmn"), col("mx").as("fmx"))
      merged.join(full, Seq("event_type"))
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("s").cast("long").as("sum_cents"),
          col("mn").cast("long").as("min_sec"), col("mx").cast("long").as("max_sec"),
          (col("n") === col("fn") && col("s") === col("fs") &&
            col("mn") === col("fmn") && col("mx") === col("fmx"))
            .cast("long").as("consistent"))
        .orderBy("event_type")
    }),

    // ---- time-series gap fill + linear interpolation ---------------------
    // Regularize an irregular event stream onto an hourly grid: per user,
    // every hour between the first and last observed hour exists in the
    // output, observed hours carry their integer-cents sum, missing hours
    // are linearly interpolated between the flanking observations.
    // Scale shape: one keyed aggregation to hourly buckets, one per-user
    // min/max, a sequence() explode of the spine (rows ∝ hours, bounded),
    // one keyed left join, and two keyed window passes (last/first
    // ignoreNulls) — everything partitioned by user_id. Exactness:
    // per-bucket values are integer cents (floor(value*100) — identical
    // IEEE double math both engines, then exact BIGINT sums), and the
    // interpolation numerator/denominator are integers with ONE
    // floor(double division) at the end (floor, not div: a falling
    // segment makes the numerator negative, where div truncates toward
    // zero but // floors — the q172 lesson).
    "q260_gapfill" -> ((s: SparkSession, dir: String) => {
      val hourly = Tables(s, dir, "events")
        .filter(col("user_id") % 31 === 0)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("cents"))
      val spine = hourly.groupBy("user_id")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("h"))
      val wPrev = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("pv", last("cents", ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(when(col("cents").isNotNull, col("h")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first("cents", ignoreNulls = true).over(wNext))
        .withColumn("nh", first(when(col("cents").isNotNull, col("h")),
          ignoreNulls = true).over(wNext))
        .withColumn("filled", when(col("cents").isNull, 1L).otherwise(0L))
        .withColumn("out_cents",
          when(col("cents").isNotNull, col("cents")).otherwise(
            col("pv") + expr("""CAST(floor(
              CAST((nv - pv) * ((unix_timestamp(h) - unix_timestamp(ph)) div 3600) AS DOUBLE)
              / ((unix_timestamp(nh) - unix_timestamp(ph)) div 3600)) AS BIGINT)""")))
        .select(col("user_id"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("out_cents").cast("long").as("cents"), col("filled"))
        .orderBy("user_id", "hour")
    })
  )

  /** Whitespace token count of lowercased trimmed text, BIGINT (Spark side;
    * mirrors the `docToksSql` DuckDB form used across the corpus queries). */
  private def docToks: org.apache.spark.sql.Column =
    size(TrainPrep.rawToks(col("text"))).cast("long")

  private val docToksSql =
    """CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |     ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT)""".stripMargin

  /** Central-moment output expressions over (n_docs, s1..s4), shared
    * VERBATIM between the Spark plan and the DuckDB oracle so both engines
    * run the identical IEEE double op sequence on identical exact integers.
    * floor(), not round(): floor can't tie and handles negatives uniformly. */
  private val momentExprs: Seq[(String, String)] = {
    val nd = "CAST(n_docs AS DOUBLE)"
    val mean = s"(CAST(s1 AS DOUBLE) / $nd)"
    val r2 = s"(CAST(s2 AS DOUBLE) / $nd)"
    val r3 = s"(CAST(s3 AS DOUBLE) / $nd)"
    val r4 = s"(CAST(s4 AS DOUBLE) / $nd)"
    val m2 = s"($r2 - $mean * $mean)"
    val m3 = s"($r3 - 3.0 * $mean * $r2 + 2.0 * $mean * $mean * $mean)"
    val m4 = s"($r4 - 4.0 * $mean * $r3 + 6.0 * $mean * $mean * $r2" +
      s" - 3.0 * $mean * $mean * $mean * $mean)"
    // zero-variance groups: skew/kurtosis are undefined (the division would
    // produce NaN, which ANSI CAST rejects) — NULL in both engines
    Seq(
      "mean_e4" -> s"CAST(floor($mean * 10000.0) AS BIGINT)",
      "var_e4" -> s"CAST(floor($m2 * 10000.0) AS BIGINT)",
      "skew_e4" -> (s"CASE WHEN $m2 <= 0.0 THEN NULL ELSE " +
        s"CAST(floor($m3 / ($m2 * sqrt($m2)) * 10000.0) AS BIGINT) END"),
      "kurt_e4" -> (s"CASE WHEN $m2 <= 0.0 THEN NULL ELSE " +
        s"CAST(floor(($m4 / ($m2 * $m2) - 3.0) * 10000.0) AS BIGINT) END"))
  }

  /** q219's from-scratch sub-log-histogram quantile SQL — also the oracle
    * of q269's STANDING quantile state (incremental merged read must equal
    * this exactly; bucket counts are additive). */
  private val Q219Sql: String =
    """WITH x AS (SELECT l_returnflag,
      |             CAST(round(l_extendedprice * 100.0) AS BIGINT) AS v
      |           FROM lineitem),
      |bk AS (SELECT l_returnflag,
      |         CASE WHEN v < 8 THEN v
      |              ELSE 8 + 4 * (length(bin(v)) - 4)
      |                   + ((v >> (length(bin(v)) - 3)) % 4) END AS idx,
      |         CAST(count(*) AS BIGINT) AS cnt
      |       FROM x GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, idx, cnt,
      |        sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY idx) AS cum,
      |        sum(cnt) OVER (PARTITION BY l_returnflag) AS n
      |      FROM bk),
      |lo AS (SELECT l_returnflag, cum, n,
      |         CASE WHEN idx < 8 THEN idx
      |              ELSE (4 + (idx - 8) % 4)
      |                   * (CAST(1 AS BIGINT) << ((idx - 8) // 4 + 1)) END
      |           AS lower
      |       FROM c)
      |SELECT l_returnflag, CAST(min(n) AS BIGINT) AS n,
      |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN lower END) AS BIGINT)
      |    AS p50_est,
      |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN lower END) AS BIGINT)
      |    AS p90_est,
      |  CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN lower END) AS BIGINT)
      |    AS p99_est
      |FROM lo GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val oracles: Map[String, String] = Map(
    "q260_gapfill" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h,
        |         sum(CAST(floor(value * 100) AS BIGINT)) AS cents
        |  FROM events WHERE user_id % 31 = 0 GROUP BY 1, 2),
        |mm AS (SELECT user_id, min(h) AS h0,
        |         (CAST(epoch(max(h)) AS BIGINT) - CAST(epoch(min(h)) AS BIGINT)) // 3600 AS span
        |       FROM hourly GROUP BY user_id),
        |spine AS (SELECT user_id,
        |            unnest([h0 + INTERVAL 1 HOUR * i for i in range(0, span + 1)]) AS h
        |          FROM mm),
        |j AS (SELECT s.user_id, s.h, hr.cents FROM spine s
        |      LEFT JOIN hourly hr ON s.user_id = hr.user_id AND s.h = hr.h),
        |w AS (SELECT *,
        |   last_value(cents IGNORE NULLS) OVER wp AS pv,
        |   last_value(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
        |   first_value(cents IGNORE NULLS) OVER wn AS nv,
        |   first_value(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nh
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY h
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY h
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(CASE WHEN cents IS NOT NULL THEN cents
        |       ELSE pv + CAST(floor(CAST((nv - pv) *
        |              ((CAST(epoch(h) AS BIGINT) - CAST(epoch(ph) AS BIGINT)) // 3600) AS DOUBLE)
        |            / ((CAST(epoch(nh) AS BIGINT) - CAST(epoch(ph) AS BIGINT)) // 3600))
        |          AS BIGINT) END AS BIGINT) AS cents,
        |  CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
        |FROM w ORDER BY user_id, hour""".stripMargin,

    "q195_calibration" ->
      """WITH ev AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS v, event_id,
        |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |      FROM events),
        |b AS (SELECT CAST(ntile(10) OVER (ORDER BY v, event_id) AS BIGINT) AS bin,
        |        pos FROM ev),
        |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(pos) AS BIGINT) AS n_pos FROM b GROUP BY bin),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n,
        |        CAST(sum(n_pos) AS BIGINT) AS tot_pos FROM g)
        |SELECT bin, n, n_pos,
        |  CAST((n_pos * 10000) // n AS BIGINT) AS rate_bp,
        |  CASE WHEN tot_pos = 0 THEN CAST(NULL AS BIGINT)
        |       ELSE CAST((n_pos * tot_n * 10000) // (n * tot_pos) AS BIGINT) END
        |    AS lift_bp
        |FROM g, t ORDER BY bin""".stripMargin,

    "q196_decompose" ->
      """WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |        CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |        CAST(count(*) AS BIGINT) AS c
        |      FROM events GROUP BY 1, 2),
        |tr AS (SELECT day, iso_dow, c,
        |         CAST((sum(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |          * 10000)
        |         // count(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |           AS BIGINT) AS trend_e4
        |       FROM d),
        |r AS (SELECT day, iso_dow, c, trend_e4,
        |        c * 10000 - trend_e4 AS resid0_e4 FROM tr),
        |se AS (SELECT iso_dow,
        |         CAST(floor(CAST(sum(resid0_e4) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |           AS BIGINT) AS seas_e4
        |       FROM r GROUP BY iso_dow)
        |SELECT day, c, trend_e4, seas_e4,
        |  CAST(c * 10000 - trend_e4 - seas_e4 AS BIGINT) AS resid_e4
        |FROM r JOIN se USING (iso_dow) ORDER BY day""".stripMargin,

    "q193_decay_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id AS puid,
        |        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
        |      FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS vuid,
        |        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS vt,
        |        strftime(ts, '%Y-%m-%d') AS touch_day
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.pid, v.touch_day,
        |        (1::BIGINT << CAST(6 - (p.pt - v.vt) // 86400 AS INT)) AS wgt
        |      FROM p JOIN v
        |        ON p.puid = v.vuid AND v.vt >= p.pt - 604800 AND v.vt < p.pt),
        |c AS (SELECT pid, touch_day, wgt,
        |        count(*) OVER (PARTITION BY pid) AS n_touch,
        |        sum(wgt) OVER (PARTITION BY pid) AS w_tot
        |      FROM j)
        |SELECT touch_day, CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_lin_e6,
        |  CAST(sum((wgt * 1000000) // w_tot) AS BIGINT) AS credit_dec_e6
        |FROM c GROUP BY touch_day ORDER BY touch_day""".stripMargin,

    "q189_mutual_info" ->
      s"""WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ls
         |      FROM documents GROUP BY lang, source),
         |g AS (SELECT lang, source, n_ls,
         |        CAST(sum(n_ls) OVER (PARTITION BY lang) AS BIGINT) AS n_l,
         |        CAST(sum(n_ls) OVER (PARTITION BY source) AS BIGINT) AS n_s,
         |        CAST(sum(n_ls) OVER () AS BIGINT) AS n
         |      FROM c)
         |SELECT lang, source, n_ls, $MiTermE9Sql AS mi_term_e9
         |FROM g ORDER BY lang, source""".stripMargin,

    "q187_ols2" ->
      s"""WITH li AS (SELECT l_orderkey,
         |        CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS x1,
         |        CAST(count(*) AS BIGINT) AS x2
         |      FROM lineitem GROUP BY l_orderkey),
         |o AS (SELECT o_orderkey, o_orderstatus,
         |        CAST(floor(o_totalprice) AS BIGINT) AS y FROM orders),
         |s AS (SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |        CAST(sum(y) AS BIGINT) AS sy,
         |        CAST(sum(x1 * x1) AS BIGINT) AS s11,
         |        CAST(sum(x2 * x2) AS BIGINT) AS s22,
         |        CAST(sum(x1 * x2) AS BIGINT) AS s12,
         |        CAST(sum(x1 * y) AS BIGINT) AS s1y,
         |        CAST(sum(x2 * y) AS BIGINT) AS s2y,
         |        CAST(sum(y * y) AS BIGINT) AS syy
         |      FROM o JOIN li ON o_orderkey = l_orderkey
         |      GROUP BY o_orderstatus)
         |SELECT status, n, ${OlsOutSql("beta1_e6")} AS beta1_e6,
         |  ${OlsOutSql("beta2_e6")} AS beta2_e6,
         |  ${OlsOutSql("intercept_e6")} AS intercept_e6,
         |  ${OlsOutSql("r2_e6")} AS r2_e6
         |FROM s ORDER BY status""".stripMargin,

    "q183_multi_touch" ->
      """WITH p AS (SELECT event_id AS pid, user_id AS puid,
        |        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
        |      FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS vuid,
        |        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS vt,
        |        strftime(ts, '%Y-%m-%d') AS touch_day
        |      FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.pid, v.touch_day FROM p JOIN v
        |        ON p.puid = v.vuid AND v.vt >= p.pt - 604800 AND v.vt < p.pt),
        |c AS (SELECT pid, touch_day,
        |        count(*) OVER (PARTITION BY pid) AS n_touch FROM j)
        |SELECT touch_day, CAST(count(*) AS BIGINT) AS n_touches,
        |  CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
        |  CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_e6
        |FROM c GROUP BY touch_day ORDER BY touch_day""".stripMargin,

    "q181_auc" ->
      s"""WITH ev1 AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS v,
         |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         |      FROM events),
         |g1 AS (SELECT v, CAST(sum(pos) AS BIGINT) AS np,
         |         CAST(count(*) AS BIGINT) AS nt FROM ev1 GROUP BY v),
         |r1 AS (SELECT np, nt, 2 * coalesce(sum(nt) OVER (ORDER BY v
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         + nt + 1 AS r2 FROM g1),
         |a1 AS (SELECT CAST(sum(np * r2) AS BIGINT) AS r2pos,
         |         CAST(sum(np) AS BIGINT) AS npos,
         |         CAST(sum(nt - np) AS BIGINT) AS nneg FROM r1),
         |ev2 AS (SELECT user_id % 100 AS v,
         |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         |      FROM events),
         |g2 AS (SELECT v, CAST(sum(pos) AS BIGINT) AS np,
         |         CAST(count(*) AS BIGINT) AS nt FROM ev2 GROUP BY v),
         |r2t AS (SELECT np, nt, 2 * coalesce(sum(nt) OVER (ORDER BY v
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         + nt + 1 AS r2 FROM g2),
         |a2 AS (SELECT CAST(sum(np * r2) AS BIGINT) AS r2pos,
         |         CAST(sum(np) AS BIGINT) AS npos,
         |         CAST(sum(nt - np) AS BIGINT) AS nneg FROM r2t)
         |SELECT 'null_score' AS model, npos, nneg, $AucBpSql AS auc_bp FROM a2
         |UNION ALL
         |SELECT 'value_score' AS model, npos, nneg, $AucBpSql AS auc_bp FROM a1
         |ORDER BY model""".stripMargin,

    "q93_moments" ->
      s"""WITH t AS (SELECT lang, $docToksSql AS n FROM documents),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n) AS BIGINT) AS s1,
         |        CAST(sum(n * n) AS BIGINT) AS s2,
         |        CAST(sum(n * n * n) AS BIGINT) AS s3,
         |        CAST(sum(n * n * n * n) AS BIGINT) AS s4
         |      FROM t GROUP BY lang)
         |SELECT lang, n_docs, s1 AS n_tokens,
         | ${momentExprs.map { case (name, sql) => s"$sql AS $name" }.mkString(",\n ")}
         |FROM a ORDER BY lang""".stripMargin,

    "q43_stats" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(stddev_samp(o_totalprice),4) AS sd_price,
        | round(var_samp(o_totalprice),4) AS var_price,
        | round(corr(o_totalprice, o_custkey),4) AS corr_price_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q44_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.25)::DOUBLE, 2) AS p25,
        | round(quantile_cont(l_quantity, 0.5)::DOUBLE, 2) AS p50,
        | round(quantile_cont(l_quantity, 0.75)::DOUBLE, 2) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q45_regexp" ->
      """SELECT regexp_extract(text, '([a-z]+)', 1) AS first_word,
        | count(*) AS n_docs
        |FROM documents
        |WHERE regexp_matches(text, '^[a-z]')
        |GROUP BY 1 ORDER BY first_word""".stripMargin,

    "q46_map_lookup" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled'
        |            WHEN 'P' THEN 'pending' ELSE 'unknown' END AS status_label,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY status_label""".stripMargin,

    "q47_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q103_gap_fill" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id < 20),
        |h0 AS (SELECT user_id, date_trunc('hour', ts) AS hr, event_type, ts, event_id
        |       FROM ev),
        |hcnt AS (SELECT user_id, hr, CAST(count(*) AS BIGINT) AS n_events
        |         FROM h0 GROUP BY 1, 2),
        |hlast AS (SELECT user_id, hr, event_type AS last_type FROM h0
        |          QUALIFY row_number() OVER (PARTITION BY user_id, hr
        |                    ORDER BY ts DESC, event_id DESC) = 1),
        |span AS (SELECT user_id, date_trunc('hour', min(ts)) AS hs,
        |                date_trunc('hour', max(ts)) AS he
        |         FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(hs, he, INTERVAL 1 HOUR)) AS hr
        |         FROM span),
        |j AS (SELECT g.user_id, g.hr,
        |        CAST(coalesce(hcnt.n_events, 0) AS BIGINT) AS n_events,
        |        hlast.last_type
        |      FROM grid g
        |      LEFT JOIN hcnt ON g.user_id = hcnt.user_id AND g.hr = hcnt.hr
        |      LEFT JOIN hlast ON g.user_id = hlast.user_id AND g.hr = hlast.hr)
        |SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour, n_events,
        | last_value(last_type IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS last_type_filled
        |FROM j ORDER BY user_id, hour""".stripMargin,

    "q104_funnel" ->
      """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |vw AS (SELECT e.user_id, min(e.ts) AS v_ts FROM events e
        |       JOIN su ON e.user_id = su.user_id
        |       WHERE e.event_type = 'view' AND e.ts > su.s_ts
        |       GROUP BY e.user_id),
        |pu AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |       JOIN vw ON e.user_id = vw.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > vw.v_ts
        |       GROUP BY e.user_id)
        |SELECT su.user_id,
        | CAST(1 + CAST(vw.v_ts IS NOT NULL AS INT)
        |        + CAST(pu.p_ts IS NOT NULL AS INT) AS BIGINT) AS stage,
        | strftime(su.s_ts, '%Y-%m-%d %H:%M:%S') AS signup_at,
        | strftime(vw.v_ts, '%Y-%m-%d %H:%M:%S') AS view_at,
        | strftime(pu.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_at
        |FROM su LEFT JOIN vw USING (user_id) LEFT JOIN pu USING (user_id)
        |ORDER BY su.user_id""".stripMargin,

    "q133_interp" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id < 5),
        |hourly AS (SELECT user_id, date_trunc('hour', ts) AS hr,
        |             CAST(count(*) AS BIGINT) AS n_events,
        |             round(sum(value), 4) AS hv
        |           FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, date_trunc('hour', min(ts)) AS h0,
        |                date_trunc('hour', max(ts)) AS h1
        |         FROM ev GROUP BY user_id),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |         FROM span),
        |b AS (SELECT g.user_id, g.hr, hourly.n_events, hourly.hv,
        |        CAST(epoch(g.hr) AS BIGINT) // 3600 AS hrn,
        |        CAST(round(hourly.hv * 10000.0) AS BIGINT) AS hv_e4,
        |        CASE WHEN hourly.hv IS NOT NULL
        |             THEN {'hrn': CAST(epoch(g.hr) AS BIGINT) // 3600,
        |                   'hv_e4': CAST(round(hourly.hv * 10000.0) AS BIGINT)}
        |        END AS obs
        |      FROM grid g
        |      LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.hr = hourly.hr),
        |f AS (SELECT user_id, hr, n_events, hv, hv_e4, hrn,
        |        last_value(obs IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY hrn
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p,
        |        first_value(obs IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY hrn
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
        |      FROM b)
        |SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
        | CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
        | CAST(CASE WHEN hv IS NOT NULL THEN hv_e4
        |      ELSE (p.hv_e4 * (nx.hrn - hrn) + nx.hv_e4 * (hrn - p.hrn))
        |             // (nx.hrn - p.hrn) END AS BIGINT) AS v_e4
        |FROM f ORDER BY user_id, hour""".stripMargin,

    "q134_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST,
        | o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q150_wow_growth" ->
      """WITH wk AS (SELECT event_type,
        |              strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |              CAST(count(*) AS BIGINT) AS n
        |            FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, week, n,
        |        lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev
        |      FROM wk)
        |SELECT event_type, week, n,
        | CAST(coalesce(prev, 0) AS BIGINT) AS prev_n,
        | CAST(CASE WHEN prev IS NULL THEN 0
        |      ELSE floor(CAST(n - prev AS DOUBLE) * 10000.0 / CAST(prev AS DOUBLE))
        |      END AS BIGINT) AS wow_bp,
        | CAST(CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS BIGINT) AS first_week
        |FROM l ORDER BY event_type, week""".stripMargin,

    "q151_kaplan_meier" ->
      s"""WITH life AS (SELECT user_id,
         |        CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS BIGINT) AS t
         |      FROM events GROUP BY user_id),
         |byt AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM life GROUP BY t),
         |r AS (SELECT t, d,
         |        CAST(sum(d) OVER () AS BIGINT)
         |          - CAST(coalesce(sum(d) OVER (ORDER BY t
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
         |      FROM byt),
         |l AS (SELECT t, d, n_risk, $KmLnTermSql AS lnterm FROM r),
         |c AS (SELECT t, d, n_risk, CAST(sum(lnterm) OVER (ORDER BY t) AS BIGINT) AS cum FROM l)
         |SELECT t, d, n_risk, $KmSurvSql AS s_e4 FROM c ORDER BY t""".stripMargin,

    "q152_ewma" -> {
      val lags = (0 to 7).map(k =>
        s"lag(x, $k) OVER (PARTITION BY event_type ORDER BY day) AS x$k").mkString(", ")
      val num = (0 to 7).map(k => s"coalesce(x$k * ${1L << (7 - k)}, 0)").mkString(" + ")
      val den = (0 to 7).map(k =>
        s"CASE WHEN x$k IS NULL THEN 0 ELSE ${1L << (7 - k)} END").mkString(" + ")
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |             CAST(count(*) AS BIGINT) AS x
         |           FROM events GROUP BY 1, 2),
         |l AS (SELECT event_type, day, x, $lags FROM d)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x,
         |  CAST((($num) * 100) // ($den) AS BIGINT) AS ewma_e2
         |FROM l ORDER BY event_type, day""".stripMargin
    },

    "q153_baskets" ->
      """WITH it AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        |            FROM events),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets
        |        FROM (SELECT DISTINCT user_id, day FROM it)),
        |ni AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_i FROM it GROUP BY 1),
        |p AS (SELECT i1.event_type AS a, i2.event_type AS b, CAST(count(*) AS BIGINT) AS n_ab
        |      FROM it i1 JOIN it i2 ON i1.user_id = i2.user_id AND i1.day = i2.day
        |                           AND i1.event_type < i2.event_type
        |      GROUP BY 1, 2)
        |SELECT p.a, p.b, p.n_ab, na.n_i AS n_a, nb.n_i AS n_b,
        |  CAST((p.n_ab * 10000) // tot.n_baskets AS BIGINT) AS support_bp,
        |  CAST((p.n_ab * 10000) // na.n_i AS BIGINT) AS conf_bp,
        |  CAST((p.n_ab * tot.n_baskets * 10000) // (na.n_i * nb.n_i) AS BIGINT) AS lift_e4
        |FROM p JOIN ni na ON p.a = na.event_type
        |       JOIN ni nb ON p.b = nb.event_type
        |       CROSS JOIN tot
        |ORDER BY a, b""".stripMargin,

    "q162_mann_whitney" ->
      s"""WITH ev AS (SELECT event_type, value,
         |        ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2 AS arm
         |      FROM events),
         |g AS (SELECT event_type, value, CAST(count(*) AS BIGINT) AS t,
         |        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ta
         |      FROM ev GROUP BY 1, 2),
         |r AS (SELECT event_type, t, ta,
         |        CAST(coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY value
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |      FROM g),
         |r2 AS (SELECT event_type, t, ta, 2 * (cum + 1) + (t - 1) AS rank2 FROM r),
         |a AS (SELECT event_type, CAST(sum(ta) AS BIGINT) AS n1,
         |        CAST(sum(t - ta) AS BIGINT) AS n2,
         |        CAST(sum(ta * rank2) AS BIGINT) AS sr2a,
         |        CAST(sum(t * t * t - t) AS BIGINT) AS st
         |      FROM r2 GROUP BY event_type),
         |z AS (SELECT event_type, n1, n2,
         |        CAST(sr2a - n1 * (n1 + 1) AS BIGINT) AS u2a, $MwZE4Sql AS z_e4
         |      FROM a)
         |SELECT event_type, n1, n2, u2a, z_e4,
         | CAST(CASE WHEN abs(z_e4) >= 19600 THEN 1 ELSE 0 END AS BIGINT) AS significant
         |FROM z ORDER BY event_type""".stripMargin,

    "q163_cohort_ltv" ->
      """WITH f AS (SELECT user_id, min(ts) AS f_ts FROM events GROUP BY user_id),
        |sp AS (SELECT user_id,
        |         CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS ltv_c
        |       FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |u AS (SELECT strftime(date_trunc('week', f.f_ts), '%Y-%m-%d') AS cohort_week,
        |        CAST(coalesce(sp.ltv_c, 0) AS BIGINT) AS ltv_c
        |      FROM f LEFT JOIN sp USING (user_id))
        |SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN ltv_c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_paying,
        |  CAST(sum(ltv_c) AS BIGINT) AS total_c,
        |  round(quantile_cont(ltv_c, 0.25), 2) AS ltv_p25,
        |  round(quantile_cont(ltv_c, 0.5), 2) AS ltv_p50,
        |  round(quantile_cont(ltv_c, 0.75), 2) AS ltv_p75
        |FROM u GROUP BY cohort_week ORDER BY cohort_week""".stripMargin,

    "q164_winsorize" ->
      """WITH ev AS (SELECT event_type, CAST(round(value * 100.0) AS BIGINT) AS v_c
        |            FROM events),
        |ks AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         (count(*) + 19) // 20 AS k05, (19 * count(*) + 19) // 20 AS k95
        |       FROM ev GROUP BY event_type),
        |rn AS (SELECT event_type, v_c,
        |         row_number() OVER (PARTITION BY event_type ORDER BY v_c) AS rn
        |       FROM ev),
        |b AS (SELECT rn.event_type,
        |        CAST(min(CASE WHEN rn.rn = ks.k05 THEN rn.v_c END) AS BIGINT) AS p05_c,
        |        CAST(min(CASE WHEN rn.rn = ks.k95 THEN rn.v_c END) AS BIGINT) AS p95_c
        |      FROM rn JOIN ks USING (event_type)
        |      WHERE rn.rn = ks.k05 OR rn.rn = ks.k95
        |      GROUP BY rn.event_type)
        |SELECT ev.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(b.p05_c) AS BIGINT) AS p05_c, CAST(min(b.p95_c) AS BIGINT) AS p95_c,
        |  CAST(floor(CAST(sum(greatest(b.p05_c, least(b.p95_c, ev.v_c))) AS DOUBLE) * 100.0
        |    / CAST(count(*) AS DOUBLE)) AS BIGINT) AS wmean_ce2
        |FROM ev JOIN b USING (event_type)
        |GROUP BY ev.event_type ORDER BY event_type""".stripMargin,

    "q158_seasonal_index" ->
      """WITH dow AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |               CAST(count(*) AS BIGINT) AS o
        |             FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, iso_dow, o,
        |        CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM dow)
        |SELECT event_type, iso_dow, o,
        |  CAST((o * 10000) // n AS BIGINT) AS share_bp,
        |  CAST((o * 7 * 10000) // n AS BIGINT) AS index_e4
        |FROM t ORDER BY event_type, iso_dow""".stripMargin,

    "q165_lorenz" ->
      """WITH sp AS (SELECT o_custkey,
        |        CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS c
        |      FROM orders GROUP BY o_custkey),
        |d AS (SELECT c, ntile(10) OVER (ORDER BY c, o_custkey) AS decile FROM sp),
        |g AS (SELECT CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n_cust,
        |        CAST(sum(c) AS BIGINT) AS spend_c FROM d GROUP BY 1),
        |w AS (SELECT decile, n_cust, spend_c,
        |        CAST(sum(spend_c) OVER () AS BIGINT) AS total,
        |        CAST(sum(spend_c) OVER (ORDER BY decile) AS BIGINT) AS cum
        |      FROM g)
        |SELECT decile, n_cust, spend_c,
        |  CAST((spend_c * 10000) // total AS BIGINT) AS share_bp,
        |  CAST((cum * 10000) // total AS BIGINT) AS cum_share_bp
        |FROM w ORDER BY decile""".stripMargin,

    "q166_session_paths" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |           FROM events),
        |f AS (SELECT user_id, ts, event_id, event_type,
        |        CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |               IS NULL
        |             OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |               > 1800
        |        THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |g AS (SELECT user_id, ts, event_id, event_type,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS sess
        |      FROM f),
        |r AS (SELECT user_id, sess, event_type,
        |        row_number() OVER (PARTITION BY user_id, sess ORDER BY ts, event_id)
        |          AS rn
        |      FROM g),
        |p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path ORDER BY n_sessions DESC, path""".stripMargin,

    "q179_value_drift" ->
      s"""WITH ev AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS v,
         |        CASE WHEN CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |               AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END AS even
         |      FROM events),
         |mm AS (SELECT CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
         |       FROM ev),
         |b AS (SELECT least(19, (v - lo) // (((hi - lo) // 20) + 1)) AS bin, even
         |      FROM ev CROSS JOIN mm),
         |g AS (SELECT CAST(bin AS BIGINT) AS bin,
         |        CAST(sum(even) AS BIGINT) AS n_even,
         |        CAST(sum(1 - even) AS BIGINT) AS n_odd
         |      FROM b GROUP BY 1),
         |t AS (SELECT CAST(sum(n_even + 1) AS BIGINT) AS te,
         |        CAST(sum(n_odd + 1) AS BIGINT) AS to_ FROM g)
         |SELECT bin, n_even, n_odd, $DriftKlE9Sql AS kl_e9
         |FROM g CROSS JOIN t ORDER BY bin""".stripMargin,

    "q177_hour_heatmap" ->
      """WITH c AS (SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |        CAST(hour(ts) AS BIGINT) AS hh, CAST(count(*) AS BIGINT) AS o
        |      FROM events GROUP BY 1, 2),
        |t AS (SELECT iso_dow, hh, o,
        |        CAST(sum(o) OVER (PARTITION BY iso_dow) AS BIGINT) AS day_n,
        |        CAST(sum(o) OVER () AS BIGINT) AS week_n
        |      FROM c)
        |SELECT iso_dow, hh, o,
        |  CAST((o * 10000) // day_n AS BIGINT) AS day_share_bp,
        |  CAST((o * 10000) // week_n AS BIGINT) AS week_share_bp
        |FROM t ORDER BY iso_dow, hh""".stripMargin,

    "q172_business_days" ->
      """WITH sh AS (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS ship_d
        |            FROM lineitem GROUP BY l_orderkey),
        |j AS (SELECT o.o_orderpriority,
        |        CAST(date_diff('day', DATE '1970-01-05', CAST(o.o_orderdate AS DATE))
        |          AS BIGINT) AS n0,
        |        CAST(date_diff('day', DATE '1970-01-05', sh.ship_d) AS BIGINT) AS n1
        |      FROM orders o JOIN sh ON o.o_orderkey = sh.l_orderkey),
        |b AS (SELECT o_orderpriority,
        |        (5 * (n1 // 7) + least(n1 % 7, 5))
        |          - (5 * (n0 // 7) + least(n0 % 7, 5)) AS bus
        |      FROM j),
        |a AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |        CAST(sum(bus) AS BIGINT) AS total_bus_days,
        |        CAST(max(bus) AS BIGINT) AS max_bus_days
        |      FROM b GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n_orders, total_bus_days,
        |  CAST(floor(CAST(total_bus_days AS DOUBLE) * 100.0 / CAST(n_orders AS DOUBLE))
        |    AS BIGINT) AS avg_bus_e2,
        |  max_bus_days
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    "q147_seasonality" ->
      """WITH dow AS (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |               CAST(count(*) AS BIGINT) AS o
        |             FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS n
        |        FROM dow GROUP BY event_type),
        |sq AS (SELECT d.event_type, t.n,
        |         CAST(sum((d.o * 7 - t.n) * (d.o * 7 - t.n)) AS BIGINT) AS s
        |       FROM dow d JOIN tot t USING (event_type)
        |       GROUP BY d.event_type, t.n)
        |SELECT event_type, n,
        | CAST(floor(CAST(s AS DOUBLE) * 10000.0 / CAST(7 * n AS DOUBLE)) AS BIGINT)
        |   AS chi2_e4,
        | CAST(CASE WHEN floor(CAST(s AS DOUBLE) * 10000.0 / CAST(7 * n AS DOUBLE))
        |             > 125900 THEN 1 ELSE 0 END AS BIGINT) AS seasonal
        |FROM sq ORDER BY event_type""".stripMargin,

    "q148_autocorr" ->
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |                 CAST(count(*) AS BIGINT) AS x
         |               FROM events GROUP BY 1, 2),
         |p AS (SELECT event_type, x,
         |        lead(x) OVER (PARTITION BY event_type ORDER BY day) AS y
         |      FROM daily),
         |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |        CAST(sum(x * y) AS BIGINT) AS sxy,
         |        CAST(sum(x * x) AS BIGINT) AS sxx,
         |        CAST(sum(y * y) AS BIGINT) AS syy
         |      FROM p WHERE y IS NOT NULL GROUP BY event_type)
         |SELECT event_type, n, $AutocorrE4Sql AS r1_e4
         |FROM a ORDER BY event_type""".stripMargin,

    "q149_benford" ->
      """WITH c AS (SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS c
        |           FROM orders WHERE round(o_totalprice * 100.0) > 0),
        |dg AS (SELECT c // CAST(pow(10, length(CAST(c AS VARCHAR)) - 1) AS BIGINT)
        |         AS d
        |       FROM c),
        |o AS (SELECT d, CAST(count(*) AS BIGINT) AS o FROM dg GROUP BY d),
        |t AS (SELECT d, o, CAST(sum(o) OVER () AS BIGINT) AS n FROM o),
        |r AS (SELECT d, o,
        |        CAST((o * 10000) // n AS BIGINT) AS share_bp,
        |        CAST(floor(ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * 10000.0)
        |          AS BIGINT) AS benford_bp
        |      FROM t)
        |SELECT d, o, share_bp, benford_bp,
        | CAST(abs(share_bp - benford_bp) AS BIGINT) AS dev_bp
        |FROM r ORDER BY d""".stripMargin,

    "q143_within_group" ->
      """SELECT l_returnflag,
        | round(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE), 2) AS q1_cont,
        | round(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE), 2) AS q3_cont,
        | round(CAST(quantile_disc(l_quantity, 0.5) AS DOUBLE), 2) AS med_disc
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q144_corr_matrix" ->
      """SELECT
        | round(corr(l_quantity, l_extendedprice), 4) AS corr_quantity_extendedprice,
        | round(corr(l_quantity, l_discount), 4) AS corr_quantity_discount,
        | round(corr(l_quantity, l_tax), 4) AS corr_quantity_tax,
        | round(corr(l_extendedprice, l_discount), 4) AS corr_extendedprice_discount,
        | round(corr(l_extendedprice, l_tax), 4) AS corr_extendedprice_tax,
        | round(corr(l_discount, l_tax), 4) AS corr_discount_tax
        |FROM lineitem""".stripMargin,

    "q145_try_cast" ->
      """WITH r AS (SELECT event_type,
        |  TRY_CAST(json_extract_string(props, '$.k') ||
        |    CASE WHEN event_id % 10 = 0 THEN 'x' ELSE '' END AS BIGINT) AS amt
        | FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(amt) AS BIGINT) AS n_parsed,
        | CAST(coalesce(sum(amt), 0) AS BIGINT) AS sum_amt
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q132_cusum" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |                 CAST(count(*) AS BIGINT) AS cnt
        |               FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cnt) AS BIGINT) AS s1
        |       FROM daily GROUP BY event_type),
        |path AS (SELECT d.event_type, d.day,
        |           CAST(sum(d.cnt * st.n - st.s1)
        |             OVER (PARTITION BY d.event_type ORDER BY d.day
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS c
        |         FROM daily d JOIN st USING (event_type)),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |       FROM path GROUP BY event_type),
        |cp AS (SELECT event_type, day, c FROM path
        |       QUALIFY row_number() OVER (PARTITION BY event_type
        |                 ORDER BY abs(c) DESC, day) = 1)
        |SELECT cp.event_type, nd.n_days, strftime(cp.day, '%Y-%m-%d') AS cp_day,
        | cp.c AS c_at_cp, CAST(abs(cp.c) AS BIGINT) AS max_abs_c
        |FROM cp JOIN nd USING (event_type) ORDER BY cp.event_type""".stripMargin,

    "q130_rfm" ->
      """WITH base AS (SELECT o_custkey, max(o_orderdate) AS last_order,
        |                CAST(count(*) AS BIGINT) AS frequency,
        |                round(sum(o_totalprice), 2) AS monetary
        |              FROM orders GROUP BY o_custkey),
        |sc AS (SELECT o_custkey, last_order, frequency, monetary,
        |  CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS BIGINT) AS r_score,
        |  CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_score,
        |  CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_score
        | FROM base)
        |SELECT o_custkey, strftime(last_order, '%Y-%m-%d') AS last_order,
        | frequency, monetary, r_score, f_score, m_score,
        | r_score * 100 + f_score * 10 + m_score AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin,

    "q125_conversion_lag" ->
      """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |vw AS (SELECT e.user_id, min(e.ts) AS v_ts FROM events e
        |       JOIN su ON e.user_id = su.user_id
        |       WHERE e.event_type = 'view' AND e.ts > su.s_ts
        |       GROUP BY e.user_id),
        |pu AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |       JOIN vw ON e.user_id = vw.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > vw.v_ts
        |       GROUP BY e.user_id),
        |l AS (SELECT strftime(date_trunc('week', su.s_ts), '%Y-%m-%d') AS cohort_week,
        |        CAST(epoch(date_trunc('second', pu.p_ts)) AS BIGINT)
        |          - CAST(epoch(date_trunc('second', su.s_ts)) AS BIGINT) AS lag_sec
        |      FROM su LEFT JOIN pu USING (user_id))
        |SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_signups,
        | CAST(count(lag_sec) AS BIGINT) AS n_converted,
        | round(quantile_cont(lag_sec, 0.25)::DOUBLE, 2) AS lag_p25,
        | round(quantile_cont(lag_sec, 0.5)::DOUBLE, 2) AS lag_p50,
        | round(quantile_cont(lag_sec, 0.75)::DOUBLE, 2) AS lag_p75
        |FROM l GROUP BY cohort_week ORDER BY cohort_week""".stripMargin,

    "q121_sessions" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |           FROM events),
        |f AS (SELECT user_id, sec, event_id,
        |        CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |               IS NULL
        |             OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |               > 1800
        |        THEN 1 ELSE 0 END AS new_s,
        |        ts
        |      FROM e),
        |g AS (SELECT user_id, sec,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS sess
        |      FROM f),
        |sg AS (SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n_ev,
        |         CAST(max(sec) - min(sec) AS BIGINT) AS dur_sec
        |       FROM g GROUP BY user_id, sess)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(n_ev) AS BIGINT) AS n_events,
        | CAST(max(n_ev) AS BIGINT) AS max_session_events,
        | CAST(max(dur_sec) AS BIGINT) AS max_duration_sec
        |FROM sg GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q122_attribution" ->
      """WITH pv AS (SELECT event_id, user_id, ts, event_type,
        |   last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_ts
        | FROM events WHERE event_type IN ('purchase', 'view')),
        |p AS (SELECT CAST(ts AS DATE) AS day,
        |        CASE WHEN v_ts IS NOT NULL
        |               AND CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |                   - CAST(epoch(date_trunc('second', v_ts)) AS BIGINT)
        |                   <= 604800
        |        THEN 1 ELSE 0 END AS attributed
        |      FROM pv WHERE event_type = 'purchase')
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        | CAST(count(*) AS BIGINT) AS n_purchases,
        | CAST(sum(attributed) AS BIGINT) AS n_attributed,
        | CAST((sum(attributed) * 10000) // count(*) AS BIGINT) AS attr_bp
        |FROM p GROUP BY day ORDER BY day""".stripMargin,

    "q124_ab_test" ->
      s"""WITH pu AS (SELECT user_id,
         |              max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |                AS purchased
         |            FROM events GROUP BY user_id),
         |b AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2
         |        AS bucket, purchased
         |      FROM pu),
         |a AS (SELECT
         |  CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN bucket = 0 THEN purchased ELSE 0 END) AS BIGINT) AS c_a,
         |  CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |  CAST(sum(CASE WHEN bucket = 1 THEN purchased ELSE 0 END) AS BIGINT) AS c_b
         | FROM b),
         |z AS (SELECT n_a, c_a, n_b, c_b, $AbZE4Sql AS z_e4 FROM a)
         |SELECT n_a, c_a, n_b, c_b, z_e4,
         | CAST(CASE WHEN abs(z_e4) >= 19600 THEN 1 ELSE 0 END AS BIGINT) AS significant
         |FROM z""".stripMargin,

    "q118_mad" ->
      """WITH med AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |             FROM lineitem GROUP BY 1),
        |dev AS (SELECT l.l_returnflag, med.med,
        |          abs(l.l_quantity - med.med) AS adev
        |        FROM lineitem l JOIN med USING (l_returnflag)),
        |mads AS (SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
        |         FROM dev GROUP BY 1)
        |SELECT d.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | round(max(d.med), 2) AS median, round(max(m.mad), 2) AS mad,
        | CAST(sum(CASE WHEN d.adev > m.mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_outliers
        |FROM dev d JOIN mads m USING (l_returnflag)
        |GROUP BY d.l_returnflag ORDER BY d.l_returnflag""".stripMargin,

    "q120_deciles" ->
      """SELECT o_orderpriority, CAST(decile AS BIGINT) AS decile,
        | CAST(count(*) AS BIGINT) AS n,
        | round(min(o_totalprice), 2) AS lo,
        | round(max(o_totalprice), 2) AS hi,
        | round(sum(o_totalprice), 2) AS total
        |FROM (SELECT o_orderpriority, o_totalprice,
        |        ntile(10) OVER (PARTITION BY o_orderpriority
        |                        ORDER BY o_totalprice, o_orderkey) AS decile
        |      FROM orders)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q105_retention" ->
      """WITH fw AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
        |            FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
        |j AS (SELECT cw, CAST(date_diff('day', cw, wk) // 7 AS BIGINT) AS offset_weeks
        |      FROM act JOIN fw USING (user_id))
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, offset_weeks,
        | CAST(count(*) AS BIGINT) AS n_users
        |FROM j GROUP BY cw, offset_weeks
        |ORDER BY cohort_week, offset_weeks""".stripMargin,

    "q106_rolling_dau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |b AS (SELECT max(CAST(ts AS DATE)) AS dmax FROM events),
        |ex AS (SELECT user_id,
        |         unnest(generate_series(d, d + 6, INTERVAL 1 DAY)) AS dayts
        |       FROM ud),
        |exd AS (SELECT DISTINCT user_id, CAST(dayts AS DATE) AS day FROM ex),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
        |        FROM exd, b WHERE day <= b.dmax GROUP BY day),
        |dau AS (SELECT d AS day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d)
        |SELECT strftime(wau.day, '%Y-%m-%d') AS day,
        | CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau, wau.wau
        |FROM wau LEFT JOIN dau USING (day) ORDER BY day""".stripMargin,

    "q107_transitions" ->
      """WITH p AS (SELECT user_id, event_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id) AS next_type
        |           FROM events),
        |c AS (SELECT event_type AS prev_type, next_type,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, next_type, n,
        |        CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_prev
        |      FROM c)
        |SELECT prev_type, next_type, n,
        | CAST((n * 10000) // n_prev AS BIGINT) AS p_bp
        |FROM t ORDER BY prev_type, next_type""".stripMargin,

    "q108_anomaly" ->
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |                 CAST(count(*) AS BIGINT) AS cnt
         |               FROM events GROUP BY 1, 2),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(cnt) AS BIGINT) AS s1,
         |         CAST(sum(cnt * cnt) AS BIGINT) AS s2
         |       FROM daily GROUP BY event_type),
         |j AS (SELECT d.event_type, d.day, d.cnt, st.n, st.s1, st.s2
         |      FROM daily d JOIN st USING (event_type)),
         |z AS (SELECT event_type, day, cnt, $AnomalyZbpSql AS z_bp FROM j)
         |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt, z_bp,
         | CAST(CASE WHEN abs(z_bp) > 20000 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
         |FROM z ORDER BY event_type, day""".stripMargin,

    "q98_sql_subqueries" ->
      """SELECT c.c_custkey, c.c_name,
        |  (SELECT max(o3.o_totalprice) FROM orders o3
        |    WHERE o3.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 200000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c.c_custkey""".stripMargin,

    "q54_above_cust_avg" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | CAST(sum(CASE WHEN o_totalprice >
        |   (SELECT avg(o2.o_totalprice) FROM orders o2
        |    WHERE o2.o_custkey = o.o_custkey)
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM orders o
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q53_date_arith" ->
      """SELECT o_orderkey,
        | datediff('day', o_orderdate, DATE '2000-01-01') AS days_to_y2k,
        | strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30,
        | strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        | strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
        | CAST(isodow(o_orderdate) AS INT) AS iso_dow
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q52_window_frames" ->
      """SELECT o_orderkey, o_custkey,
        | count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |                RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_near,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | round(percent_rank() OVER w, 4) AS pr,
        | round(cume_dist() OVER w, 4) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    // oracle uses the window formulation — same total order, so ties agree
    "q57_argmax" ->
      """WITH b AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice ASC, o_orderkey ASC) AS rw
        | FROM orders)
        |SELECT o_custkey, count(*) AS n_orders,
        | max(CASE WHEN rb = 1 THEN o_orderkey END) AS best_order,
        | max(CASE WHEN rb = 1 THEN o_totalprice END) AS best_price,
        | max(CASE WHEN rw = 1 THEN o_orderkey END) AS worst_order,
        | max(CASE WHEN rw = 1 THEN o_totalprice END) AS worst_price
        |FROM b GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // plain (unbucketed) range form — the bucket trick must not change
    // results; seconds via floor-div of epoch_ns to match unix_timestamp
    "q62_range_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS u,
        |             epoch_ns(ts) // 1000000000 AS p_s
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS vu, epoch_ns(ts) // 1000000000 AS v_s
        |      FROM events WHERE event_type = 'view')
        |SELECT p_id, CAST(count(v_s) AS BIGINT) AS n_prior_views
        |FROM p LEFT JOIN v
        |  ON vu = u AND v_s >= p_s - 3600 AND v_s < p_s
        |GROUP BY p_id ORDER BY p_id""".stripMargin,

    "q71_interval_pairs" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS u,
        |             epoch_ns(ts) // 1000000000 AS p_s
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id AS vu,
        |        epoch_ns(ts) // 1000000000 AS v_s
        |      FROM events WHERE event_type = 'view')
        |SELECT p_id, v_id
        |FROM p JOIN v ON vu = u AND v_s >= p_s - 3600 AND v_s < p_s
        |ORDER BY p_id, v_id""".stripMargin,

    "q65_regression" ->
      """SELECT l_returnflag,
        | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        | round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
        | CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q66_bit_aggs" ->
      """SELECT event_type,
        | bit_and(event_id % 256) AS band,
        | bit_or(event_id % 256) AS bor,
        | bit_xor(event_id % 256) AS bxor,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q64_try_divide" ->
      """SELECT event_id,
        | round(value / nullif(event_id % 5, 0), 4) AS per_unit
        |FROM events ORDER BY event_id""".stripMargin,

    "q63_unpivot" ->
      """WITH w AS (SELECT o_orderstatus,
        |  round(sum(o_totalprice), 2) AS total,
        |  round(avg(o_totalprice), 2) AS avg,
        |  round(max(o_totalprice), 2) AS max
        | FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, metric, value
        |FROM w UNPIVOT (value FOR metric IN (total, avg, max))
        |ORDER BY o_orderstatus, metric""".stripMargin,

    // the native exec must agree with the relational window formulation
    "q58_native_asof" ->
      """SELECT event_id, user_id, prior_view FROM (
        | SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
        | FROM events WHERE event_type IN ('purchase', 'view'))
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // identical to q58's oracle: the physical strategy must not change rows
    "q75_bcast_asof" ->
      """SELECT event_id, user_id, prior_view FROM (
        | SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
        | FROM events WHERE event_type IN ('purchase', 'view'))
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q199_funnel_window" ->
      """WITH ev AS (SELECT user_id, event_type,
        |        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events),
        |su AS (SELECT user_id, min(t) AS s_t FROM ev
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |vw AS (SELECT e.user_id, min(e.t) AS v_t
        |       FROM ev e JOIN su ON e.user_id = su.user_id
        |       WHERE e.event_type = 'view' AND e.t > su.s_t
        |         AND e.t <= su.s_t + 604800
        |       GROUP BY e.user_id),
        |pu AS (SELECT e.user_id, min(e.t) AS p_t
        |       FROM ev e JOIN vw ON e.user_id = vw.user_id
        |       WHERE e.event_type = 'purchase' AND e.t > vw.v_t
        |         AND e.t <= vw.v_t + 604800
        |       GROUP BY e.user_id),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_signup,
        |        CAST(sum(CASE WHEN vw.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_view,
        |        CAST(sum(CASE WHEN pu.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_purchase
        |      FROM su LEFT JOIN vw ON su.user_id = vw.user_id
        |              LEFT JOIN pu ON su.user_id = pu.user_id)
        |SELECT stage, step, n_users, step_bp, cum_bp FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS step,
        |    n_signup AS n_users, CAST(10000 AS BIGINT) AS step_bp,
        |    CAST(10000 AS BIGINT) AS cum_bp FROM a
        |  UNION ALL
        |  SELECT 2, 'view_7d', n_view, (n_view * 10000) // n_signup,
        |    (n_view * 10000) // n_signup FROM a
        |  UNION ALL
        |  SELECT 3, 'purchase_7d', n_purchase,
        |    CASE WHEN n_view = 0 THEN CAST(0 AS BIGINT)
        |         ELSE (n_purchase * 10000) // n_view END,
        |    (n_purchase * 10000) // n_signup FROM a)
        |ORDER BY stage""".stripMargin,

    "q197_asof_tolerance" ->
      """SELECT event_id, user_id,
        |  CASE WHEN pv_us IS NOT NULL AND t_us - pv_us <= 3600000000
        |       THEN pv ELSE -1 END AS prior_view_1h
        |FROM (
        | SELECT event_id, user_id, event_type,
        |  epoch_ns(ts) // 1000 AS t_us,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER w AS pv,
        |  last_value(CASE WHEN event_type = 'view' THEN epoch_ns(ts) // 1000 END
        |             IGNORE NULLS) OVER w AS pv_us
        | FROM events WHERE event_type IN ('purchase', 'view')
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q69_asof_ts" ->
      """SELECT event_id, user_id, prior_view FROM (
        | SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
        | FROM events WHERE event_type IN ('purchase', 'view'))
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q48_asof_join" ->
      """SELECT event_id, user_id, prior_view FROM (
        | SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
        | FROM events WHERE event_type IN ('purchase', 'view'))
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q201_interval_union" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |           FROM events),
        |iv AS (SELECT user_id, event_id, sec, sec + 300 AS fin FROM e),
        |f AS (SELECT user_id, sec, fin,
        |        CASE WHEN max(fin) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |             OR sec > max(fin) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        THEN 1 ELSE 0 END AS new_i,
        |        event_id
        |      FROM iv),
        |g AS (SELECT user_id, sec, fin,
        |        sum(new_i) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS grp
        |      FROM f),
        |m AS (SELECT user_id, grp, max(fin) - min(sec) AS cov,
        |        CAST(count(*) AS BIGINT) AS n_ev
        |      FROM g GROUP BY user_id, grp)
        |SELECT user_id, CAST(sum(cov) AS BIGINT) AS active_sec,
        |       CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(n_ev) AS BIGINT) AS n_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q207_seq_pattern" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |             substr(event_type, 1, 1) AS i
        |           FROM events),
        |f AS (SELECT user_id, sec, event_id, i,
        |        CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |               IS NULL
        |             OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |               > 1800
        |        THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |g AS (SELECT user_id, sec, event_id, i,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS sess
        |      FROM f),
        |p AS (SELECT user_id, sess,
        |        string_agg(i, '' ORDER BY sec, event_id) AS path
        |      FROM g GROUP BY user_id, sess)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN regexp_matches(path, 'v.*c.*p') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_funnel,
        |  CAST(sum(CASE WHEN length(path) = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q209_weighted_median" ->
      """WITH d AS (SELECT lang, n_chars, doc_id FROM documents),
        |c AS (SELECT lang, n_chars, doc_id,
        |        sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cumw,
        |        sum(n_chars) OVER (PARTITION BY lang) AS totw
        |      FROM d)
        |SELECT lang, CAST(min(n_chars) AS BIGINT) AS wmedian_chars,
        |       CAST(min(totw) AS BIGINT) AS total_chars
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q210_distinct_sets" ->
      """WITH e AS (SELECT event_type,
        |             strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |             user_id
        |           FROM events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(week, 'ALL') AS week,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
        |FROM e
        |GROUP BY GROUPING SETS ((event_type, week), (event_type), (week), ())
        |ORDER BY event_type, week""".stripMargin,

    "q219_hist_quantiles" -> Q219Sql,

    // the standing quantile state's merged read is hash-checked against
    // the SAME from-scratch computation — incremental ≡ rebuild is the
    // gate itself (bucket counts are additive; the q190→q126 oracle-
    // reuse pattern)
    "q269_agg_state_quantiles" -> Q219Sql,
    // q272 = q219's SQL over the survivors (l_orderkey%3==1 retracted):
    // hist retraction is exact by count additivity, and this gate proves it
    "q272_hist_retract" -> Q219Sql.replace(
      "FROM lineitem)", "FROM lineitem WHERE l_orderkey % 3 != 1)"),

    "q221_incremental" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |              CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |              CAST(round(value * 100.0) AS BIGINT) AS cents
        |            FROM events),
        |cut AS (SELECT max(day) AS cutoff FROM ev),
        |t AS (SELECT ev.*, cut.cutoff FROM ev CROSS JOIN cut),
        |h AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(cents) AS BIGINT) AS s, min(sec) AS mn, max(sec) AS mx
        |      FROM t WHERE day < cutoff GROUP BY event_type),
        |d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(cents) AS BIGINT) AS s, min(sec) AS mn, max(sec) AS mx
        |      FROM t WHERE day = cutoff GROUP BY event_type),
        |m AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
        |        CAST(sum(s) AS BIGINT) AS s, min(mn) AS mn, max(mx) AS mx
        |      FROM (SELECT * FROM h UNION ALL SELECT * FROM d)
        |      GROUP BY event_type),
        |f AS (SELECT event_type, CAST(count(*) AS BIGINT) AS fn,
        |        CAST(sum(cents) AS BIGINT) AS fs, min(sec) AS fmn, max(sec) AS fmx
        |      FROM t GROUP BY event_type)
        |SELECT m.event_type, m.n, m.s AS sum_cents,
        |  CAST(m.mn AS BIGINT) AS min_sec, CAST(m.mx AS BIGINT) AS max_sec,
        |  CAST(CASE WHEN m.n = f.fn AND m.s = f.fs AND m.mn = f.fmn
        |            AND m.mx = f.fmx THEN 1 ELSE 0 END AS BIGINT) AS consistent
        |FROM m JOIN f USING (event_type)
        |ORDER BY m.event_type""".stripMargin,

    "q224_cuped" ->
      s"""WITH u AS (SELECT user_id,
         |    CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
         |         THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS x,
         |    CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
         |         THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS y,
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
         |      AS bucket
         |  FROM events GROUP BY user_id),
         |a AS (SELECT
         |    CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(CASE WHEN bucket = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
         |    CAST(sum(CASE WHEN bucket = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
         |    CAST(sum(CASE WHEN bucket = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
         |    CAST(sum(CASE WHEN bucket = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
         |  FROM u)
         |SELECT n_a, n_b,
         |  $CupedThetaE6Sql AS theta_e6,
         |  $CupedVarRedBpSql AS var_red_bp,
         |  $CupedLiftRawE4Sql AS lift_raw_e4,
         |  $CupedLiftAdjE4Sql AS lift_cuped_e4
         |FROM a""".stripMargin,

    "q228_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
        |sz AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY t),
        |cm AS (SELECT a.t, b.t AS t2, CAST(count(*) AS BIGINT) AS n_common
        |       FROM tu a JOIN tu b
        |         ON a.user_id = b.user_id AND a.t < b.t
        |       GROUP BY a.t, b.t)
        |SELECT cm.t AS type_a, cm.t2 AS type_b,
        |  sa.n AS n_a, sb.n AS n_b, cm.n_common,
        |  CAST((cm.n_common * 10000) // (sa.n + sb.n - cm.n_common) AS BIGINT)
        |    AS jaccard_bp
        |FROM cm JOIN sz sa ON cm.t = sa.t JOIN sz sb ON cm.t2 = sb.t
        |ORDER BY type_a, type_b""".stripMargin,

    "q236_asof_nearest" ->
      """WITH st AS (SELECT event_id, user_id, event_type,
        |              CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |            FROM events WHERE event_type IN ('purchase', 'view')),
        |w AS (SELECT event_id, user_id, event_type, sec,
        |  last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY sec, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_id,
        |  last_value(CASE WHEN event_type = 'view' THEN sec END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY sec, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b_sec,
        |  first_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY sec, event_id
        |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f_id,
        |  first_value(CASE WHEN event_type = 'view' THEN sec END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY sec, event_id
        |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS f_sec
        |      FROM st),
        |pq AS (SELECT event_id, user_id,
        |    CASE WHEN b_sec IS NOT NULL AND sec - b_sec <= 3600
        |         THEN b_id END AS b_id,
        |    CASE WHEN b_sec IS NOT NULL AND sec - b_sec <= 3600
        |         THEN sec - b_sec END AS db,
        |    CASE WHEN f_sec IS NOT NULL AND f_sec - sec <= 3600
        |         THEN f_id END AS f_id,
        |    CASE WHEN f_sec IS NOT NULL AND f_sec - sec <= 3600
        |         THEN f_sec - sec END AS df
        |  FROM w WHERE event_type = 'purchase')
        |SELECT event_id, user_id,
        |  CAST(coalesce(CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df)
        |       THEN b_id ELSE f_id END, -1) AS BIGINT) AS nearest_view,
        |  CAST(coalesce(CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df)
        |       THEN -db ELSE df END, 0) AS BIGINT) AS delta_sec
        |FROM pq ORDER BY event_id""".stripMargin,

    "q235_median_ci" ->
      s"""WITH e AS (SELECT event_type,
         |             CAST(round(value * 100.0) AS BIGINT) AS cents, event_id
         |           FROM events),
         |r AS (SELECT event_type, cents,
         |        CAST(row_number() OVER (PARTITION BY event_type
         |               ORDER BY cents, event_id) AS BIGINT) AS rn,
         |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |      FROM e),
         |p AS (SELECT event_type, cents, rn, n,
         |        (n + 1) // 2 AS m_pos,
         |        $CiLoPosSql AS lo_pos,
         |        $CiHiPosSql AS hi_pos
         |      FROM r)
         |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         |  CAST(max(CASE WHEN rn = m_pos THEN cents END) AS BIGINT) AS median_c,
         |  CAST(max(CASE WHEN rn = lo_pos THEN cents END) AS BIGINT) AS ci_lo_c,
         |  CAST(max(CASE WHEN rn = hi_pos THEN cents END) AS BIGINT) AS ci_hi_c
         |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q229_kmv_setops" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
        |h AS (SELECT t,
        |        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT
        |          AS h
        |      FROM tu),
        |bk AS (SELECT t, h FROM h
        |       QUALIFY row_number() OVER (PARTITION BY t ORDER BY h) <= 16),
        |pt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY t),
        |ls AS (SELECT bk.t, pt.n_exact, list(bk.h ORDER BY bk.h) AS ids
        |       FROM bk JOIN pt ON bk.t = pt.t GROUP BY bk.t, pt.n_exact),
        |pr AS (SELECT a.t AS ta, a.n_exact AS na, a.ids AS ia,
        |              b.t AS tb, b.n_exact AS nb, b.ids AS ib
        |       FROM ls a JOIN ls b ON a.t < b.t),
        |u AS (SELECT ta, tb, na, nb, ia, ib,
        |        list_sort(list_distinct(ia || ib))[1:16] AS iu
        |      FROM pr),
        |est AS (SELECT ta, tb,
        |    CASE WHEN len(ia) < 16 THEN na
        |         ELSE CAST((15 * 72057594037927936) // ia[16] AS BIGINT) END
        |      AS est_a,
        |    CASE WHEN len(ib) < 16 THEN nb
        |         ELSE CAST((15 * 72057594037927936) // ib[16] AS BIGINT) END
        |      AS est_b,
        |    CASE WHEN len(iu) < 16 THEN CAST(len(iu) AS BIGINT)
        |         ELSE CAST((15 * 72057594037927936) // iu[16] AS BIGINT) END
        |      AS est_union
        |  FROM u),
        |xi AS (SELECT a.t AS ta, b.t AS tb, CAST(count(*) AS BIGINT)
        |         AS n_inter_exact
        |       FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.t < b.t
        |       GROUP BY a.t, b.t)
        |SELECT est.ta AS type_a, est.tb AS type_b,
        |  est_a, est_b, est_union,
        |  CAST(greatest(est_a + est_b - est_union, 0) AS BIGINT) AS est_inter,
        |  xi.n_inter_exact
        |FROM est JOIN xi ON est.ta = xi.ta AND est.tb = xi.tb
        |ORDER BY type_a, type_b""".stripMargin
  )
}
