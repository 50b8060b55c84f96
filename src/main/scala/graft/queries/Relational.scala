package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operator library over the TPC-H-ish testdata star schema.
  *
  * Covers SURVEY.md §2's operator families re-expressed Spark-first:
  * filters/projections (T2), joins incl. semi/anti (J1/J2 generalized),
  * aggregations (A1-A3), windows (A4 generalized), sort/limit/top-k,
  * set ops, rollup/cube, CASE classification (§2.5), string/date/json
  * scalar functions (§2.8).
  *
  * Scale notes (the 100 TB design point):
  *  - dimension tables (region/nation/customer/supplier/part) are broadcast
  *    explicitly — no shuffle of the fact table for dim joins;
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key once and
  *    AQE coalesces/skew-splits at runtime;
  *  - all filters sit directly on the scans so parquet pushdown prunes
  *    row groups before any shuffle.
  */
object Relational {

  private def ts(s: String): Column = to_timestamp(lit(s))

  /** A line's discounted revenue at the exact cents × basis-points
    * integer scale (e6 of the currency unit): no float summation order can
    * move a sum or break a tie between engines. */
  private val RevE6Sql =
    "CAST(round(l_extendedprice * 100.0) AS BIGINT) * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT))"

  /** q154's per-cell chi-square contribution x 1e6, shared VERBATIM with
    * the oracle: (o - e)^2/e with e = r*c/n rearranged to integer inputs,
    * (o*n - r*c)^2 / (n*r*c). The squared term exceeds BIGINT range, so it
    * is formed as a product of two identical doubles — IEEE-deterministic
    * in both engines. Marginals r, c are > 0 by construction. */
  private val CramerCellE6Sql: String =
    """CAST(floor(
      |  (CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE))
      |  / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
      |  * 1000000.0) AS BIGINT)""".stripMargin

  /** q154's Cramér's V x 1e4 from the exact summed chi-square, shared
    * VERBATIM with the oracle; degenerate 1-row/1-column tables report 0. */
  private val CramerVE4Sql: String =
    """CASE WHEN rdim < 2 OR cdim < 2 THEN CAST(0 AS BIGINT)
      |     ELSE CAST(floor(sqrt((CAST(chi2_e6 AS DOUBLE) / 1000000.0)
      |            / (CAST(n AS DOUBLE) * CAST(least(rdim - 1, cdim - 1) AS DOUBLE)))
      |            * 10000.0) AS BIGINT) END""".stripMargin

  /** q159's 8+8-bit Morton (Z-order) interleave of non-negative x, y.
    * All-integer (exact in any engine); the divide operator differs
    * between Spark (`DIV`) and DuckDB (`//`), so the expression is
    * generated per engine rather than shared verbatim — on non-negative
    * inputs both truncate identically. */
  private def zInterleaveSql(divOp: String): String =
    (0 to 7).map { b =>
      s"((x $divOp ${1 << b}) % 2) * ${1L << (2 * b + 1)}" +
        s" + ((y $divOp ${1 << b}) % 2) * ${1L << (2 * b)}"
    }.mkString(" + ")

  val queries: Map[String, Q] = Map(
    // ---- T2/A1: scan → filter → group → agg (TPC-H Q1 shape) -------------
    "q01_pricing_summary" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- T2: pushed-down filter + projection -----------------------------
    "q02_filter_project" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_quantity") >= 48 && col("l_discount") > 0.08 &&
          col("l_shipdate") >= ts("1997-01-01 00:00:00"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- 3-way join, broadcast dim, top-k by measure (TPC-H Q3 shape) ----
    "q03_shipping_priority" -> ((s: SparkSession, dir: String) => {
      val c = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = Tables(s, dir, "orders").filter(col("o_orderdate") < ts("1999-01-01 00:00:00"))
      val l = Tables(s, dir, "lineitem").filter(col("l_shipdate") > ts("1999-01-01 00:00:00"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(20)
    }),

    // ---- semi join (EXISTS) + agg ----------------------------------------
    "q04_order_priority" -> ((s: SparkSession, dir: String) => {
      val o = Tables(s, dir, "orders")
      val l = Tables(s, dir, "lineitem").filter(col("l_discount") > 0.05)
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // ---- 6-way join with broadcast dims (TPC-H Q5 shape) -----------------
    "q05_local_supplier" -> ((s: SparkSession, dir: String) => {
      val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = Tables(s, dir, "nation")
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1999-01-01 00:00:00"))
      val l = Tables(s, dir, "lineitem")
      val sup = Tables(s, dir, "supplier")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("n_name")
    }),

    // ---- global agg with selective filter (TPC-H Q6 shape) ---------------
    "q06_revenue_forecast" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
          col("l_shipdate") < ts("1998-01-01 00:00:00") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(
          round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // ---- anti join (NOT EXISTS) ------------------------------------------
    "q07_anti_join" -> ((s: SparkSession, dir: String) => {
      val big = Tables(s, dir, "orders").filter(col("o_totalprice") > 400000)
      Tables(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // ---- distinct aggregation --------------------------------------------
    "q08_distinct_count" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
          countDistinct("l_partkey").as("n_parts"),
          countDistinct("l_orderkey").as("n_orders"),
          count(lit(1)).as("n_lines"))
        .orderBy("l_suppkey")
    }),

    // ---- global sort + limit (top-k) -------------------------------------
    "q09_topk_orders" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
    }),

    // ---- window: row_number / per-group top-1 (A4 generalized) -----------
    "q10_window_rank" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_orderdate"), desc("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("last_order_date"),
          col("o_totalprice"))
        .orderBy("o_custkey")
    }),

    // ---- window: running sum over explicit frame -------------------------
    "q11_window_running" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- window: lag / delta over event stream ---------------------------
    "q12_lag_delta" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, dir, "events")
        .withColumn("prev_value", lag("value", 1).over(w))
        .select(col("event_id"), col("user_id"),
          round(col("value") - coalesce(col("prev_value"), lit(0.0)), 2).as("delta"))
        .orderBy("event_id")
    }),

    // ---- rollup ----------------------------------------------------------
    "q13_rollup" -> ((s: SparkSession, dir: String) => {
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      // `.as("j")` + qualified grouping columns: rollup's Expand over a
      // multi-join child otherwise trips Spark's self-join ambiguity check.
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal").as("j")
        .rollup(col("j.r_name"), col("j.n_name"))
        .agg(round(sum("c_acctbal"), 2).as("total_bal"), count(lit(1)).as("n_cust"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    // ---- cube ------------------------------------------------------------
    "q14_cube" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),

    // ---- set ops: union/distinct/intersect/except (symmetric difference) -
    "q15_set_ops" -> ((s: SparkSession, dir: String) => {
      val a = Tables(s, dir, "orders").filter(col("o_totalprice") > 350000)
        .select(col("o_custkey").as("custkey"))
      val b = Tables(s, dir, "customer").filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("custkey"))
      a.union(b).distinct()
        .except(a.intersect(b))
        .orderBy("custkey")
    }),

    // ---- CASE classification (§2.5 shape) --------------------------------
    "q16_case_classify" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_orderstatus") === "F", "filled")
            .when(col("o_totalprice") < 100000, "small_open")
            .when(col("o_totalprice") < 300000, "medium_open")
            .otherwise("large_open"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("avg_price"))
        .orderBy("bucket")
    }),

    // ---- string scalar functions (§2.8) ----------------------------------
    "q17_string_funcs" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "part")
        .filter(col("p_name").contains("widget"))
        .select(
          col("p_partkey"),
          lower(col("p_name")).as("name_lower"),
          upper(col("p_brand")).as("brand_upper"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          substring(col("p_name"), 1, 5).as("name_pfx"),
          length(col("p_name")).cast("long").as("name_len"),
          format_string("part-%05d", col("p_partkey")).as("part_code"))
        .orderBy("p_partkey")
    }),

    // ---- date/time functions (T5/T10/T14 family) -------------------------
    "q18_datetime" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"))
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("yr", "mo")
    }),

    // ---- Q1 null-membership semantics (SURVEY §7.4.1) --------------------
    // NULL is a whitelist *member*: `x IS NULL OR x IN (...)`, never bare
    // NOT IN (which flips semantics under ANSI three-valued logic).
    "q19_null_whitelist" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .withColumn("status_n",
          when(col("o_orderstatus") === "P", lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
        .withColumn("healthy",
          col("status_n").isNull || col("status_n").isin("O"))
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("healthy"), 1L).otherwise(0L)).as("n_healthy"),
          sum(when(!col("healthy"), 1L).otherwise(0L)).as("n_error"))
        .orderBy("o_orderpriority")
    }),

    // ---- A4: first-match per group (row_number over explicit order) ------
    "q20_first_match" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_purchase_event"),
          round(col("value"), 2).as("first_value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"))
        .orderBy("user_id")
    }),

    // ---- semi join on suppliers ------------------------------------------
    "q21_semi_join" -> ((s: SparkSession, dir: String) => {
      val l = Tables(s, dir, "lineitem").filter(col("l_shipdate") > ts("2001-06-01 00:00:00"))
      Tables(s, dir, "supplier")
        .join(l, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    // ---- group + HAVING --------------------------------------------------
    "q22_having" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_suppkey", "l_returnflag")
        .agg(count(lit(1)).as("n_lines"), round(avg("l_discount"), 4).as("avg_disc"))
        .filter(col("avg_disc") > 0.048)
        .orderBy("l_suppkey", "l_returnflag")
    }),

    // ---- JSON extraction (§2.8 json family) ------------------------------
    "q23_json_extract" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("k_bucket")
    }),

    // ---- manual pivot (conditional aggregation) --------------------------
    "q24_pivot" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
          sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
          round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 2).as("purchase_value"))
        .orderBy("user_id")
    }),

    // ---- native pivot API (q24 is the manual conditional-agg form) -------
    // explicit value list => deterministic schema, so the same oracle shape
    // works; a missing (user, type) combination yields NULL (vs q24's 0)
    "q68_native_pivot" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          col("click").as("n_click"), col("view").as("n_view"),
          col("purchase").as("n_purchase"))
        .orderBy("user_id")
    }),

    // ---- tumbling time window (batch analog of streaming agg, §2.10) -----
    "q25_tumbling_window" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("hour_start", "event_type")
    }),

    // ---- sessionization: gap > 30 min starts a new session ---------------
    "q26_sessionize" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("is_new",
          when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum("is_new").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // ---- J2: dedup + join-back (memoized per-key lookup, SURVEY §2.3) ----
    "q27_memo_joinback" -> ((s: SparkSession, dir: String) => {
      val o = Tables(s, dir, "orders")
      val stats = o.groupBy(col("o_custkey").as("sk"))
        .agg(count(lit(1)).as("cust_n_orders"), round(sum("o_totalprice"), 2).as("cust_total"))
      o.join(stats, col("o_custkey") === col("sk"))
        .select(col("o_orderkey"), col("o_custkey"), col("cust_n_orders"), col("cust_total"))
        .orderBy("o_orderkey")
    }),

    // ---- A1-A3 + §2.5: error-note aggregation with cap + classification --
    "q28_error_notes" -> ((s: SparkSession, dir: String) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          sort_array(collect_list(when(col("o_orderstatus") === "F", col("o_orderkey")))).as("failed_keys"))
        .withColumn("n_failed", size(col("failed_keys")).cast("long"))
        .withColumn("error_note",
          when(col("n_failed") > 5, lit("error in more than 5 nodes"))
            .otherwise(array_join(
              transform(col("failed_keys"), k => format_string("%d --> F", k)), "\n")))
        .withColumn("status",
          when(col("n_failed") > 0, "Failed")
            .when(col("n_orders") > 0, "Success")
            .otherwise("No Schedule"))
        .select("c_custkey", "n_orders", "n_failed", "status", "error_note")
        .orderBy("c_custkey")
    }),

    // ---- explode / flatten nested arrays (T1) ----------------------------
    "q29_explode" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 3)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
          round(col("val").cast("double"), 4).as("val"))
        .orderBy("vec_id", "pos")
    }),

    // ---- bag-semantics set ops (q15 covers the DISTINCT variants) --------
    // UNION ALL / EXCEPT ALL / INTERSECT ALL keep multiplicities — the
    // forms that matter when duplicate rows are data, not noise. EXCEPT
    // ALL of the high-value keys removes one occurrence per match;
    // INTERSECT ALL keeps the min multiplicity. Summarized to per-key
    // counts so the output is deterministic.
    "q139_set_ops_all" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
      val a = li.filter(col("l_quantity") >= 45).select("l_orderkey")
      val b = li.filter(col("l_extendedprice") > 80000).select("l_orderkey")
      val u = a.unionAll(b).groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_union_all"))
      val e = a.exceptAll(b).groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_except_all"))
      val i = a.intersectAll(b).groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_intersect_all"))
      u.join(e, Seq("l_orderkey"), "left")
        .join(i, Seq("l_orderkey"), "left")
        .select(col("l_orderkey"), col("n_union_all"),
          coalesce(col("n_except_all"), lit(0L)).as("n_except_all"),
          coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"))
        .orderBy("l_orderkey")
    }),

    // ---- first/last/nth value window frames ------------------------------
    // The value-picking window family q52's ranking family doesn't cover:
    // first, last and 2nd order key per customer over the full-partition
    // frame (last_value needs the explicit unbounded-following frame or it
    // reads only up to the current row — same trap in both engines).
    "q140_nth_value" -> ((s: SparkSession, dir: String) => {
      val ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "orders")
        .withColumn("first_key", first("o_orderkey").over(full))
        .withColumn("last_key", last("o_orderkey").over(full))
        .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(full))
        .groupBy("o_custkey")
        .agg(max("first_key").as("first_key"), max("last_key").as("last_key"),
          // single-order customers have no 2nd order: sentinel −1, never a
          // nullable BIGINT (the driver's row sorter rejects None vs int)
          coalesce(max("second_key"), lit(-1L)).as("second_key"))
        .orderBy("o_custkey")
    }),

    // ---- percent-of-total (ratio_to_report) ------------------------------
    // Revenue share per nation: the grouped totals are tiny, so the
    // window runs over |nations| rows; shares in integer basis points
    // ranked against the exact BIGINT cents total (never a rounded ratio).
    "q141_share_of_total" -> ((s: SparkSession, dir: String) => {
      val rev = Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)")).as("cents"))
      rev
        .withColumn("total_cents", sum("cents").over(Window.partitionBy()))
        .select(col("n_name"), col("cents"),
          expr("CAST((cents * 10000) DIV total_cents AS BIGINT)").as("share_bp"))
        .orderBy("n_name")
    }),

    // ---- centered moving average over a daily series ---------------------
    // 7-day centered moving average of order counts — the smoothing pass
    // every metrics dashboard applies. Integer counts over a RANGE-like
    // rows frame; the mean is integer-ized (e3) against the actual rows in
    // frame so series edges use the true shorter window, not a padded one.
    "q142_moving_avg" -> ((s: SparkSession, dir: String) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(col("o_orderdate").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      daily
        .withColumn("win_sum", sum("n").over(w))
        .withColumn("win_n", count(lit(1)).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          expr("CAST((win_sum * 1000) DIV win_n AS BIGINT)").as("ma7_e3"))
        .orderBy("day")
    }),

    // ---- TPC-H Q18: large-volume customers -------------------------------
    // The classic "orders above a quantity threshold" shape: a grouped
    // HAVING subquery feeding a 3-way join. Catalyst plans the IN-subquery
    // as a left-semi join on orderkey; the threshold (150) is tuned to the
    // fixtures' ~4-line orders.
    "q135_tpch18" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 150)
      Tables(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"), round(col("sum_qty"), 2).as("sum_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)
    }),

    // ---- TPC-H Q21 (adapted): sole-blame suppliers -----------------------
    // Suppliers whose lineitem was returned ('R') on a multi-supplier
    // order where NO other supplier's line was returned — the fixtures
    // carry no commit/receipt dates, so the return flag plays the "late"
    // role. Two correlated EXISTS (one positive, one negative) over the
    // same order, decorrelated by Catalyst into semi/anti joins on
    // (orderkey, suppkey) — the hardest subquery shape in the TPC-H suite.
    "q136_tpch21" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("q136_lineitem")
      Tables(s, dir, "supplier").createOrReplaceTempView("q136_supplier")
      Tables(s, dir, "nation").createOrReplaceTempView("q136_nation")
      s.sql("""
        |SELECT s.s_name, n.n_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM q136_lineitem l1
        |JOIN q136_supplier s ON s.s_suppkey = l1.l_suppkey
        |JOIN q136_nation n ON n.n_nationkey = s.s_nationkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM q136_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM q136_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name, n.n_name
        |ORDER BY numwait DESC, s.s_name""".stripMargin)
    }),

    // ---- TPC-H Q13: customer order-count distribution --------------------
    // The left-join + double-group-by shape: customers (including those
    // with NO orders) bucketed by how many orders they placed.
    "q137_tpch13" -> ((s: SparkSession, dir: String) => {
      val perCust = Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // ---- TPC-H Q22 (adapted): rich inactive customers by nation ----------
    // Customers with above-average account balance and no FAILED orders
    // ('F' status — plain no-orders-at-all is near-empty at small SFs),
    // grouped by nation (the fixtures carry no phone, so nation plays the
    // country-code role): a scalar subquery (global average over positive
    // balances) + NOT EXISTS anti-join.
    "q138_tpch22" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer").createOrReplaceTempView("q138_customer")
      Tables(s, dir, "orders").createOrReplaceTempView("q138_orders")
      Tables(s, dir, "nation").createOrReplaceTempView("q138_nation")
      s.sql("""
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
        |       round(sum(c.c_acctbal), 2) AS totacctbal
        |FROM q138_customer c JOIN q138_nation n ON n.n_nationkey = c.c_nationkey
        |WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM q138_customer c2
        |                     WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM q138_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin)
    }),

    // ---- skyline / Pareto frontier ---------------------------------------
    // Orders not strictly dominated on (totalprice, orderdate): dominated
    // iff some other order has BOTH a higher price and a later date. The
    // O(n²) self-join is avoided with the standard sort-prefix rewrite:
    // collapse to one max-date per distinct price, run a 1-row-lagged
    // running max over prices descending (= max date among strictly
    // higher-priced orders), join back, keep rows it doesn't beat. Windows
    // touch |distinct prices| rows; comparisons are on stored values only.
    "q129_skyline" -> ((s: SparkSession, dir: String) => {
      val o = Tables(s, dir, "orders").filter(col("o_custkey") <= 100)
      val perPrice = o.groupBy("o_totalprice").agg(max("o_orderdate").as("pd"))
      val wp = Window.orderBy(desc("o_totalprice"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val pref = perPrice.withColumn("dom_date", max("pd").over(wp))
      o.join(pref.select(col("o_totalprice"), col("dom_date")), Seq("o_totalprice"))
        .filter(col("dom_date").isNull || col("dom_date") <= col("o_orderdate"))
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .orderBy("o_orderkey")
    }),

    // ---- full outer join (§2.7 join surface completion) ------------------
    // Daily purchase vs signup volumes: days where only one side has rows
    // survive with the other side zero-filled — the reconciliation shape
    // (left/right/inner can't express "keep both unmatched sides"). Both
    // inputs pre-aggregate to |days| rows before the join, so the full
    // outer is tiny regardless of event volume.
    "q114_full_outer" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      def daily(tpe: String, out: String) =
        ev.filter(col("event_type") === tpe)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as(out))
      daily("purchase", "n_purchases")
        .join(daily("signup", "n_signups"), Seq("day"), "full_outer")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          coalesce(col("n_signups"), lit(0L)).as("n_signups"))
        .orderBy("day")
    }),

    // ---- LATERAL correlated subquery (top-2 orders per customer) ---------
    // The SQL-text form of per-group top-k: a correlated LATERAL subquery
    // with ORDER BY + LIMIT, which Catalyst decorrelates into a ranked
    // window join — no hand-written window needed. Price is a stored
    // double (selection, not arithmetic), so no rounding (q98 precedent);
    // (o_totalprice, o_orderkey) makes the per-customer order total.
    "q115_lateral" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer").filter(col("c_custkey") <= 200)
        .createOrReplaceTempView("q115_customer")
      Tables(s, dir, "orders").createOrReplaceTempView("q115_orders")
      s.sql("""
        |SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM q115_customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM q115_orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    }),

    // ---- chi-square independence + Cramér's V -----------------------------
    // Association strength between customer nation and market segment. The
    // FULL r x c grid (including zero cells — leaving them out understates
    // chi-square) is a broadcast cross join of the two tiny marginal
    // aggregates; each cell's (o*n - r*c)^2 / (n*r*c) is one shared-verbatim
    // double floor-e6 so the sum stays an exact BIGINT, and V falls out of
    // one more shared double. Everything after the one groupBy shuffle runs
    // on |nations| x |segments| rows.
    "q154_cramers_v" -> ((s: SparkSession, dir: String) => {
      val cust = Tables(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nk"), col("c_mktsegment").as("seg"))
      val cells = cust.groupBy("nk", "seg").agg(count(lit(1)).as("o"))
      val rowsM = cust.groupBy("nk").agg(count(lit(1)).as("r"))
      val colsM = cust.groupBy("seg").agg(count(lit(1)).as("c"))
      val n = cust.agg(count(lit(1)).as("n"))
      val grid = broadcast(rowsM).crossJoin(broadcast(colsM))
        .join(cells, Seq("nk", "seg"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(n))
      grid
        .withColumn("cell_e6", expr(CramerCellE6Sql))
        .groupBy("n")
        .agg(countDistinct("nk").as("rdim"), countDistinct("seg").as("cdim"),
          sum("cell_e6").as("chi2_e6"))
        .select(col("n"), col("rdim").cast("long").as("rdim"),
          col("cdim").cast("long").as("cdim"), col("chi2_e6"),
          expr(CramerVE4Sql).as("v_e4"))
    }),

    // ---- k-anonymity audit -------------------------------------------------
    // Privacy profiling of the customer quasi-identifiers (nation, segment,
    // account-balance band): equivalence-class sizes, the k the table
    // actually achieves, and how many rows sit in classes smaller than 5.
    // One groupBy over the quasi-identifier tuple, then a scalar summary —
    // the k<5 rule is the standard re-identification risk gate applied
    // before sharing derived data.
    "q155_k_anonymity" -> ((s: SparkSession, dir: String) => {
      val classes = Tables(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nk"), col("c_mktsegment").as("seg"),
          expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("bal_band"))
        .groupBy("nk", "seg", "bal_band")
        .agg(count(lit(1)).as("cnt"))
      classes.agg(
        count(lit(1)).as("n_classes"),
        sum("cnt").as("n_rows"),
        min("cnt").as("k_anonymity"),
        sum(when(col("cnt") < 5, lit(1L)).otherwise(lit(0L))).as("classes_lt5"),
        sum(when(col("cnt") < 5, col("cnt")).otherwise(lit(0L))).as("rows_at_risk"))
        .select(col("n_classes"), col("n_rows"), col("k_anonymity"),
          col("classes_lt5"), col("rows_at_risk"),
          expr("CAST(((n_rows - rows_at_risk) * 10000) DIV n_rows AS BIGINT)")
            .as("safe_bp"))
    }),

    // ---- Z-order (Morton) layout clustering --------------------------------
    // The data-layout operator behind multi-dimensional data skipping: an
    // interleaved-bit sort key over (customer, day) buckets, then per-file
    // statistics for a 256-file layout. The x/y spans show why it works —
    // every file covers a NARROW range of BOTH dimensions, so min/max
    // pruning is effective for filters on either column (a plain sort on
    // one column leaves the other's span at full width). Pure integer
    // bit arithmetic; at scale this is the repartitionByRange key before
    // the write.
    "q159_zorder" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .select(
          expr("CAST(o_custkey % 256 AS BIGINT)").as("x"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') % 256 AS BIGINT)")
            .as("y"))
        .withColumn("z", expr(s"CAST(${zInterleaveSql("DIV")} AS BIGINT)"))
        .withColumn("zfile", expr("z DIV 256"))
        .groupBy("zfile")
        .agg(count(lit(1)).as("n_rows"),
          (max("x") - min("x")).as("x_span"),
          (max("y") - min("y")).as("y_span"),
          min("z").as("z_min"), max("z").as("z_max"))
        .orderBy("zfile")
    }),

    // ---- order-independent table fingerprints ------------------------------
    // Cross-system data validation at 100 TB: a checksum a reader on ANY
    // engine can recompute without ordering guarantees. Each row is
    // canonicalized to a string (doubles pinned to integer cents, dates to
    // ISO strings), hashed to a 56-bit md5 prefix, and folded with the two
    // commutative aggregates (xor + modular sum) — one scan per table, no
    // shuffle beyond the 1-row aggregates, insensitive to row order and
    // partitioning.
    "q160_fingerprint" -> ((s: SparkSession, dir: String) => {
      def fp(df: DataFrame, tbl: String, canon: String): DataFrame =
        df.select(expr(
            s"CAST(conv(substring(md5(CAST($canon AS BINARY)), 1, 14), 16, 10) AS BIGINT)")
            .as("fp"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(fp)").as("xor_fp"),
            sum(expr("fp % 100000000")).as("sum_fp_mod"))
          .select(lit(tbl).as("tbl"), col("n_rows"), col("xor_fp"), col("sum_fp_mod"))
      val o = fp(Tables(s, dir, "orders"), "orders",
        "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
          "CAST(round(o_totalprice * 100.0) AS BIGINT), " +
          "date_format(o_orderdate, 'yyyy-MM-dd'), o_orderpriority)")
      val c = fp(Tables(s, dir, "customer"), "customer",
        "concat_ws('|', c_custkey, CAST(c_nationkey AS BIGINT), c_name, " +
          "CAST(round(c_acctbal * 100.0) AS BIGINT), c_mktsegment)")
      val su = fp(Tables(s, dir, "supplier"), "supplier",
        "concat_ws('|', s_suppkey, CAST(s_nationkey AS BIGINT), s_name, " +
          "CAST(round(s_acctbal * 100.0) AS BIGINT))")
      o.unionAll(c).unionAll(su).orderBy("tbl")
    }),

    // ---- SCD Type 2 snapshot build ------------------------------------------
    // The dimensional-modeling operator: collapse each user's event stream
    // into state-validity intervals (state = event type; a new interval
    // opens only when the state CHANGES), with valid_from/valid_to and a
    // current flag — the slowly-changing-dimension table a warehouse build
    // derives from a mutation log. Two window passes over one user-keyed
    // sort; (user, µs-ts) uniqueness (q103's check) makes the change-point
    // set and interval bounds deterministic. Timestamps emitted as
    // second-precision strings per the package conventions.
    "q168_scd2" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val changes = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      val w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
      changes
        .withColumn("valid_to_ts", lead("ts", 1).over(w2))
        .select(col("user_id"), col("event_type").as("state"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          coalesce(date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("9999-12-31 00:00:00")).as("valid_to"),
          col("valid_to_ts").isNull.cast("long").as("is_current"))
        .orderBy("user_id", "valid_from", "state")
    }),

    // ---- keyed table diff (reconciliation / CDC snapshot compare) -----------
    // What changed between two table versions? Both engines synthesize the
    // same "today" snapshot from orders (every 100th key's price bumped one
    // cent = changed, keys % 997 == 0 dropped = removed, mirrored keys
    // added), then a single full outer join on the key classifies every row
    // by comparing canonical row hashes. One shuffle on the key; the
    // summary is four rows. This is q160's fingerprint idea pushed down to
    // row granularity — the reconciliation report a migration validates
    // against.
    "q178_table_diff" -> ((s: SparkSession, dir: String) => {
      val canon = "concat_ws('|', o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100.0) AS BIGINT), " +
        "date_format(o_orderdate, 'yyyy-MM-dd'), o_orderpriority)"
      val old = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("k"), expr(s"md5($canon)").as("h"))
      val newBase = Tables(s, dir, "orders")
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 100 === 0, col("o_totalprice") + 0.01)
            .otherwise(col("o_totalprice")))
        .filter(col("o_orderkey") % 997 =!= 0)
      val added = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 1009 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      val neu = newBase.unionAll(added)
        .select(col("o_orderkey").as("k"), expr(s"md5($canon)").as("h"))
      old.select(col("k"), col("h").as("h_old"))
        .join(neu.select(col("k"), col("h").as("h_new")), Seq("k"), "full_outer")
        .select(col("k"),
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("same").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), min("k").as("min_key"), max("k").as("max_key"))
        .orderBy("status")
    }),

    // ---- CDC MERGE apply (SCD1 upsert) --------------------------------------
    // q178 classified a changeset; this APPLIES one — the Delta-style
    // MERGE INTO: deletes drop the base row (delete precedence over
    // update), updates replace the price, inserts append. The apply is
    // one anti join + one left join + a union, all keyed on o_orderkey
    // (each a single hash-partitioned shuffle; at 100 TB the three legs
    // share the key so AQE reuses the exchange). The output is the
    // post-merge per-status summary a migration smoke-checks.
    "q180_merge_upsert" -> ((s: SparkSession, dir: String) => {
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val dels = base.filter(col("o_orderkey") % 997 === 0).select("o_orderkey")
      val upd = base.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 0.01).as("new_price"))
      val ins = base.filter(col("o_orderkey") % 1009 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      val merged = base
        .join(dels, Seq("o_orderkey"), "left_anti")
        .join(upd, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), col("o_orderstatus"),
          coalesce(col("new_price"), col("o_totalprice")).as("price"))
        .unionByName(ins.withColumnRenamed("o_totalprice", "price"))
      merged.groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(price * 100.0) AS BIGINT)")).as("total_c"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("status")
    }),

    // ---- data-quality check suite (the dbt-tests operator) ------------------
    // One report row per declared constraint: primary-key uniqueness,
    // referential integrity (both fact→dim edges), not-null, accepted
    // values, and range checks. Scale design: each table is scanned ONCE
    // with conditional aggregates; the two FK checks ride a left join
    // against the (distinct) key side — broadcastable when the parent is
    // a dimension, hash-partitioned otherwise. Violations are exact
    // counts, so the report doubles as a regression fixture.
    "q182_dq_checks" -> ((s: SparkSession, dir: String) => {
      val orders = Tables(s, dir, "orders")
      val custKeys = Tables(s, dir, "customer").select(col("c_custkey")).distinct()
      val ordKeys = orders.select(col("o_orderkey").as("ok")).distinct()
      // orders: one pass → pk uniqueness + accepted values + FK to customer
      val o = orders
        .join(broadcast(custKeys), col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_orderkey")).as("nd"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("bad_status"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("orphans"))
      // one (check, n, n_violations) row per named violation count of a
      // one-row pass aggregate `a` (its row count in n)
      def checks(a: DataFrame, violations: (String, Column)*) =
        a.select(array(violations.map { case (name, v) =>
            struct(lit(name).as("check"), col("n"), v.as("n_violations")) }: _*).as("cs"))
          .select(explode(col("cs")).as("c")).select("c.*")
      val oChecks = checks(o, "orders_pk_unique" -> (col("n") - col("nd")),
        "orders_status_accepted" -> col("bad_status"), "orders_fk_customer" -> col("orphans"))
      // lineitem: one pass → qty range + FK to orders
      val l = Tables(s, dir, "lineitem")
        .join(ordKeys, col("l_orderkey") === col("ok"), "left")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("bad_qty"),
          sum(when(col("ok").isNull, 1L).otherwise(0L)).as("orphans"))
      val lChecks = checks(l,
        "lineitem_qty_range" -> col("bad_qty"), "lineitem_fk_orders" -> col("orphans"))
      // events: one pass → user not-null + ts bounds
      val e = Tables(s, dir, "events")
        .agg(count(lit(1)).as("n"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user"),
          sum(when(col("ts") < ts("1970-01-01 00:00:00") ||
            col("ts") >= ts("2100-01-01 00:00:00"), 1L).otherwise(0L)).as("bad_ts"))
      val eChecks = checks(e,
        "events_user_not_null" -> col("null_user"), "events_ts_bounds" -> col("bad_ts"))
      oChecks.unionByName(lChecks).unionByName(eChecks)
        .select(col("check"), col("n").cast("long").as("n_checked"),
          col("n_violations").cast("long").as("n_violations"),
          when(col("n_violations") === 0, "pass").otherwise("fail").as("status"))
        .orderBy("check")
    }),

    // ---- per-column data profile (the SUMMARIZE operator) -------------------
    // The first query anyone runs on an unknown table: per-column null
    // count, exact distinct count, min/max — ONE aggregation pass over the
    // table (conditional aggregates per column, the q182 pattern), pivoted
    // to per-column report rows via an array-of-structs explode. Values
    // are emitted through deterministic per-type encodings (ints as-is,
    // money as integer cents, dates as yyyy-MM-dd) so the report is
    // hash-stable cross-engine. At 100 TB the exact countDistincts become
    // the sketch the same pass can carry (approx_count_distinct / q190's
    // native HLL) — the plan shape is unchanged.
    "q188_profile" -> ((s: SparkSession, dir: String) => {
      val o = Tables(s, dir, "orders")
      def nn(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c")
      def nd(c: String) = countDistinct(col(c)).as(s"nd_$c")
      val agg = o.agg(count(lit(1)).as("n"),
        nn("o_orderkey"), nd("o_orderkey"),
        min(col("o_orderkey")).cast("string").as("mn_k"),
        max(col("o_orderkey")).cast("string").as("mx_k"),
        nn("o_custkey"), nd("o_custkey"),
        min(col("o_custkey")).cast("string").as("mn_c"),
        max(col("o_custkey")).cast("string").as("mx_c"),
        nn("o_orderstatus"), nd("o_orderstatus"),
        min(col("o_orderstatus")).as("mn_s"), max(col("o_orderstatus")).as("mx_s"),
        nn("o_totalprice"), nd("o_totalprice"),
        min(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)")).cast("string").as("mn_p"),
        max(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)")).cast("string").as("mx_p"),
        nn("o_orderdate"), nd("o_orderdate"),
        min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("mn_d"),
        max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("mx_d"),
        nn("o_orderpriority"), nd("o_orderpriority"),
        min(col("o_orderpriority")).as("mn_o"), max(col("o_orderpriority")).as("mx_o"))
      // all six columns aggregate in VALUE order; the string cast is an
      // output encoding applied after min/max
      agg.withColumn("p", explode(array(
          struct(lit("o_orderkey").as("column"), col("nn_o_orderkey").as("n_nulls"),
            col("nd_o_orderkey").as("n_distinct"), col("mn_k").as("min_val"),
            col("mx_k").as("max_val")),
          struct(lit("o_custkey").as("column"), col("nn_o_custkey").as("n_nulls"),
            col("nd_o_custkey").as("n_distinct"), col("mn_c").as("min_val"),
            col("mx_c").as("max_val")),
          struct(lit("o_orderstatus").as("column"), col("nn_o_orderstatus").as("n_nulls"),
            col("nd_o_orderstatus").as("n_distinct"), col("mn_s").as("min_val"),
            col("mx_s").as("max_val")),
          struct(lit("o_totalprice").as("column"), col("nn_o_totalprice").as("n_nulls"),
            col("nd_o_totalprice").as("n_distinct"), col("mn_p").as("min_val"),
            col("mx_p").as("max_val")),
          struct(lit("o_orderdate").as("column"), col("nn_o_orderdate").as("n_nulls"),
            col("nd_o_orderdate").as("n_distinct"), col("mn_d").as("min_val"),
            col("mx_d").as("max_val")),
          struct(lit("o_orderpriority").as("column"), col("nn_o_orderpriority").as("n_nulls"),
            col("nd_o_orderpriority").as("n_distinct"), col("mn_o").as("min_val"),
            col("mx_o").as("max_val")))))
        .select(col("p.column").as("column"), col("n").as("n_rows"),
          col("p.n_nulls"), col("p.n_distinct"), col("p.min_val"), col("p.max_val"))
        .orderBy("column")
    }),

    // ---- shuffle-key skew diagnostic ----------------------------------------
    // The report that decides salting/AQE-skew-join settings BEFORE a big
    // join ships: per candidate key column — key cardinality, max/median/
    // p99 per-key row counts (exact order statistics via the
    // position-in-multiset trick, engine-independent under duplicate
    // counts), the heaviest key's row share, and max/mean in basis points.
    // One aggregation per column plus a rank window over |keys| rows;
    // at 100 TB the same pass runs on a sample or rides q117's count-min
    // sketch, with the plan shape unchanged.
    "q192_key_skew" -> ((s: SparkSession, dir: String) => {
      def skewOf(df: DataFrame, keyCol: String, label: String): DataFrame = {
        val kc = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("cnt"))
        val ranked = kc.withColumn("rn",
          row_number().over(Window.orderBy("cnt", "k")).cast("long"))
        val stats = ranked.agg(count(lit(1)).as("n_keys"),
          sum("cnt").as("n_rows"), max("cnt").as("max_cnt"))
        ranked.crossJoin(broadcast(stats))
          .agg(max("n_rows").as("n_rows"), max("n_keys").as("n_keys"),
            max("max_cnt").as("max_cnt"),
            max(when(col("rn") === expr("(n_keys + 1) div 2"), col("cnt"))).as("p50_cnt"),
            max(when(col("rn") === expr("(99 * n_keys + 99) div 100"), col("cnt"))).as("p99_cnt"))
          .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
            col("max_cnt"), col("p50_cnt"), col("p99_cnt"),
            expr("(max_cnt * 10000) div n_rows").as("top_share_bp"),
            expr("(max_cnt * n_keys * 10000) div n_rows").as("skew_ratio_bp"))
      }
      val ev = Tables(s, dir, "events")
      skewOf(ev, "user_id", "events.user_id")
        .unionByName(skewOf(ev, "event_type", "events.event_type"))
        .unionByName(skewOf(Tables(s, dir, "lineitem"), "l_orderkey", "lineitem.l_orderkey"))
        .orderBy("key_col")
    }),

    // ---- GROUP BY ALL (modern SQL ergonomics surface) -----------------------
    // Spark 4 and DuckDB both accept GROUP BY ALL (group on every
    // non-aggregate select item) — the same query text runs on both
    // engines verbatim. Money is pinned to integer cents inside the sum.
    "q176_group_by_all" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders").createOrReplaceTempView("q176_orders")
      s.sql("""
        |SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        |FROM q176_orders
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    }),

    // ---- TPC-H Q17: small-quantity revenue -------------------------------
    // The correlated-average shape: lineitems whose quantity is under 20%
    // of their part's average. The per-part average is ONE aggregation
    // keyed by partkey (not a correlated re-scan per row) joined back on
    // the same key — at scale both sides shuffle once on partkey and AQE
    // broadcasts the (|part|-row) average side. Quantities are integral
    // doubles, so the partial sums behind avg() are exact and the 0.2·avg
    // comparison is the same IEEE sequence in both engines.
    "q202_small_qty" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
      val avgQty = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg(avg("l_quantity").as("avg_qty"))
      li.join(avgQty, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(count(lit(1)).as("n_small"),
          sum(expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)")).as("total_c"))
        .select(col("n_small"), col("total_c").cast("long").as("total_c"))
    }),

    // ---- TPC-H Q15: top revenue supplier ---------------------------------
    // Aggregate -> global max -> equality filter. Revenue is pinned to an
    // exact integer (cents × discount basis points) so the max-equality
    // join cannot be broken by float summation order — the classic Q15
    // trap. The 1-row max side is broadcast; the revenue aggregate is one
    // suppkey shuffle.
    "q203_top_supplier" -> ((s: SparkSession, dir: String) => {
      val rev = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .groupBy("l_suppkey")
        .agg(sum(expr(RevE6Sql)).as("rev_e6"))
      val top = rev.agg(max("rev_e6").as("mx"))
      rev.join(broadcast(top), col("rev_e6") === col("mx"))
        .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("rev_e6").cast("long").as("rev_e6"))
        .orderBy("s_suppkey")
    }),

    // ---- TPC-H Q16: supplier breadth per part segment --------------------
    // count(DISTINCT supplier) per (brand, type, size) with a NOT IN
    // blocklist subquery (suppliers in deficit) — Catalyst plans the NOT IN
    // as a broadcast null-aware anti join (keys are non-null here).
    "q204_supplier_cnt" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "part").createOrReplaceTempView("q204_part")
      Tables(s, dir, "lineitem").createOrReplaceTempView("q204_lineitem")
      Tables(s, dir, "supplier").createOrReplaceTempView("q204_supplier")
      s.sql("""
        |SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM q204_part JOIN q204_lineitem ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM q204_supplier
        |                        WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
    }),

    // ---- TPC-H Q19: disjunctive join predicate ---------------------------
    // OR-of-ANDs spanning both join sides. Catalyst extracts the common
    // join key (partkey) and pushes the per-side conjunct unions down to
    // the scans (brand IN (...) reaches the part parquet as a PushedFilter;
    // quantity bounds reach lineitem) — the predicate-pushdown stress shape.
    "q205_disjunctive" -> ((s: SparkSession, dir: String) => {
      val joined = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "part"), col("p_partkey") === col("l_partkey"))
      joined.filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(11, 25) &&
            col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(26, 50) &&
            col("l_quantity").between(20, 40)))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr(RevE6Sql)).as("revenue_e6"))
        .select(col("n_lines"), col("revenue_e6").cast("long").as("revenue_e6"))
    }),

    // ---- TPC-H Q20 (adapted): majority suppliers -------------------------
    // Suppliers holding >20% of any part's total shipped quantity. The
    // nested aggregate (per-pair qty vs per-part total) rides ONE window
    // over the (partkey, suppkey) aggregate instead of a second groupBy +
    // self-join — the pair aggregate is computed once, and the share test
    // is exact integer math (quantities are integral). The survivor set is
    // a semi join into supplier.
    "q206_majority_supp" -> ((s: SparkSession, dir: String) => {
      val pairQty = Tables(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val withTotal = pairQty.withColumn("tq",
        sum("q").over(Window.partitionBy("l_partkey")))
      val major = withTotal.filter(col("q") * 10 > col("tq") * 2)
        .select("l_suppkey").distinct()
      Tables(s, dir, "supplier")
        .join(major, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }),

    // ---- TPC-H Q7: volume shipping between nation pairs ------------------
    // The 5-way snowflake with a symmetric pair predicate: revenue flowing
    // NATION_18→NATION_19 and NATION_19→NATION_18 per year. Both nation dims
    // broadcast (they're 25 rows); the fact chain shuffles once per equi-
    // join key and the pair disjunction runs post-join on broadcast columns.
    "q211_nation_volume" -> ((s: SparkSession, dir: String) => {
      val sn = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val cn = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .filter((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
          (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(expr(RevE6Sql)).as("revenue_e6"))
        .select(col("supp_nation"), col("cust_nation"),
          col("l_year").cast("long").as("l_year"),
          col("revenue_e6").cast("long").as("revenue_e6"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // ---- TPC-H Q8: national market share ---------------------------------
    // NATION_3's share of EUROPE's order revenue per year, in integer basis
    // points: the two-branch conditional aggregate over one join tree —
    // numerator and denominator in a single pass, never two scans.
    "q212_market_share" -> ((s: SparkSession, dir: String) => {
      val nat = Tables(s, dir, "nation")
      val cn = nat.select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cr_key"))
      val sn = nat.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val reg = Tables(s, dir, "region")
        .filter(col("r_name") === "EUROPE")
        .select(col("r_regionkey"))
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
        .join(broadcast(reg), col("cr_key") === col("r_regionkey"))
        .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(expr(s"CASE WHEN supp_nation = 'NATION_3' THEN $RevE6Sql ELSE 0 END"))
            .as("nation_rev_e6"),
          sum(expr(RevE6Sql)).as("total_rev_e6"))
        .select(col("o_year").cast("long").as("o_year"),
          col("nation_rev_e6").cast("long").as("nation_rev_e6"),
          expr("CAST((nation_rev_e6 * 10000) DIV total_rev_e6 AS BIGINT)").as("share_bp"))
        .orderBy("o_year")
    }),

    // ---- TPC-H Q9 (adapted): product profit by supplier nation -----------
    // profit = revenue − cost, both at the exact cents×bp integer scale
    // (cost modeled as 90% of retail price — the fixtures carry no
    // partsupp). One fact↔fact shuffle; part/supplier/nation broadcast.
    "q213_profit" -> ((s: SparkSession, dir: String) => {
      val sn = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(expr(s"$RevE6Sql - CAST(l_quantity AS BIGINT) " +
            "* CAST(round(p_retailprice * 100.0) AS BIGINT) * 9000"))
          .as("profit_e6"))
        .select(col("nation"), col("o_year").cast("long").as("o_year"),
          col("profit_e6").cast("long").as("profit_e6"))
        .orderBy("nation", "o_year")
    }),

    // ---- TPC-H Q14: promo revenue share ----------------------------------
    // Monthly promo-type revenue share in basis points over one shipping
    // year — numerator and denominator from the same conditional-aggregate
    // pass after a partkey join.
    "q214_promo_share" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(Tables(s, dir, "part"), col("p_partkey") === col("l_partkey"))
        .groupBy(month(col("l_shipdate")).as("l_month"))
        .agg(
          sum(expr(s"CASE WHEN p_type = 'PROMO' THEN $RevE6Sql ELSE 0 END"))
            .as("promo_rev_e6"),
          sum(expr(RevE6Sql)).as("total_rev_e6"))
        .select(col("l_month").cast("long").as("l_month"),
          col("promo_rev_e6").cast("long").as("promo_rev_e6"),
          expr("CAST((promo_rev_e6 * 10000) DIV total_rev_e6 AS BIGINT)").as("promo_bp"))
        .orderBy("l_month")
    }),

    // ---- l-diversity audit (q155's k-anonymity, next dimension) ----------
    // k-anonymity says each quasi-identifier class is big enough to hide
    // in; l-diversity says the SENSITIVE attribute actually varies inside
    // it (a class of 50 rows that all share one balance band still leaks).
    // Per (nation, segment) class: size and distinct sensitive values —
    // one aggregation pass, grouped on the class key.
    "q216_l_diversity" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nk"),
          col("c_mktsegment").as("seg"),
          expr("CAST(floor(c_acctbal / 1000.0) AS BIGINT)").as("bal_band"))
        .groupBy("nk", "seg")
        .agg(count(lit(1)).as("class_size"),
          countDistinct(col("bal_band")).as("l_distinct"))
        .select(col("nk"), col("seg"), col("class_size"),
          col("l_distinct").cast("long").as("l_distinct"),
          (col("l_distinct") < 3).cast("long").as("below_l3"))
        .orderBy("nk", "seg")
    }),

    // ---- TPC-H Q10: returned-item reporting ------------------------------
    // Top customers by revenue lost to returns in one quarter: the classic
    // customer-service triage query. Fact chain shuffles on its keys,
    // nation broadcasts, revenue pinned to exact cents×bp, top-20 via
    // TakeOrderedAndProject (sort carries only 20 rows per partition).
    "q222_returned_items" -> ((s: SparkSession, dir: String) => {
      val nat = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))
      Tables(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("nk"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(expr(RevE6Sql)).as("revenue_e6"),
          expr("CAST(round(max(c_acctbal) * 100.0) AS BIGINT)").as("acctbal_c"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("revenue_e6").cast("long").as("revenue_e6"), col("acctbal_c"))
        .orderBy(desc("revenue_e6"), asc("c_custkey"))
        .limit(20)
    }),

    // ---- salted two-phase aggregation under the oracle gate ----------------
    // The skew-mitigation operator (operators/Salting, previously spec-only)
    // producing oracle-verified numbers: per-orderkey quantity sums run
    // salted (key, salt) partial → key final, then roll into a small
    // count-of-counts histogram. The oracle is the PLAIN aggregation —
    // salting must be invisible in the result, which is exactly the
    // property that lets you drop it onto a power-law key without a
    // semantic review. Sums are exact BIGINTs, so re-association by salt
    // cannot change them (the reason saltedSum demands algebraic
    // aggregates).
    "q223_salted_agg" -> ((s: SparkSession, dir: String) => {
      val per = graft.operators.Salting.saltedSum(
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity").cast("long").as("q")),
        "l_orderkey", "q", salts = 8)
      per.groupBy(col("n").as("lines_per_order"))
        .agg(count(lit(1)).as("n_orders"), sum("sum_q").as("total_qty"))
        .select(col("lines_per_order").cast("long").as("lines_per_order"),
          col("n_orders"), col("total_qty").cast("long").as("total_qty"))
        .orderBy("lines_per_order")
    }),

    // ---- join-cardinality pre-flight -------------------------------------
    // The planner question answered WITHOUT executing the join: exact
    // |orders ⋈ lineitem| from the two per-key histograms — Σ over common
    // keys of cntA·cntB IS the equi-join size. Histograms are one
    // aggregation per side (tiny vs the join's shuffle of every row) and
    // their join carries one row per key. Also reports the single
    // heaviest key's contribution — the q192-style number that decides
    // salting/AQE before the real join ships. At 100 TB the same pass
    // runs on samples or q117's CMS counts with the plan unchanged.
    "q225_join_cardest" -> ((s: SparkSession, dir: String) => {
      val ha = Tables(s, dir, "orders")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val hb = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cb"))
      val joined = ha.join(hb, Seq("k"), "full_outer")
      joined.agg(
          sum(when(col("ca").isNotNull, 1L).otherwise(0L)).as("n_keys_a"),
          sum(when(col("cb").isNotNull, 1L).otherwise(0L)).as("n_keys_b"),
          sum(when(col("ca").isNotNull && col("cb").isNotNull, 1L).otherwise(0L))
            .as("n_common"),
          sum(when(col("ca").isNotNull && col("cb").isNotNull,
            col("ca") * col("cb")).otherwise(0L)).as("join_rows"),
          max(when(col("ca").isNotNull && col("cb").isNotNull,
            col("ca") * col("cb")).otherwise(0L)).as("max_key_rows"))
        .select(col("n_keys_a"), col("n_keys_b"), col("n_common"),
          col("join_rows").cast("long").as("join_rows"),
          col("max_key_rows").cast("long").as("max_key_rows"))
    }),

    // ---- hierarchical percent-of-parent ----------------------------------
    // The drill-down report shape q141's flat share-of-total doesn't cover:
    // each nation's revenue as a share of ITS REGION, and each region as a
    // share of the grand total — two window levels over the 25-row nation
    // aggregate (windows touch aggregate rows only, never the fact table).
    // Exact integer basis points at both levels.
    "q226_pct_of_parent" -> ((s: SparkSession, dir: String) => {
      val nat = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"), col("n_regionkey"))
      val reg = Tables(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      val perNation = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("nk"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(expr("CAST(round(o_totalprice * 100.0) AS BIGINT)")).as("rev_c"))
      perNation
        .withColumn("region_rev_c", sum("rev_c").over(Window.partitionBy("r_name")))
        .withColumn("total_rev_c", sum("rev_c").over(Window.partitionBy(lit(1))))
        .select(col("r_name"), col("n_name"), col("rev_c").cast("long").as("rev_c"),
          expr("CAST((rev_c * 10000) DIV region_rev_c AS BIGINT)").as("of_region_bp"),
          expr("CAST((region_rev_c * 10000) DIV total_rev_c AS BIGINT)").as("region_of_total_bp"))
        .orderBy("r_name", "n_name")
    }),

    // ---- compaction (OPTIMIZE) planner -----------------------------------
    // The small-files answer as a query: per-day "files" (modeled as one
    // file per order date, sized by its rows × an avg row width) packed
    // into ~1 MB output bins by the q74 concatenate-then-chunk trick —
    // running byte total DIV target = bin id, assigned in date order so
    // each bin covers a contiguous date span (clustering survives the
    // rewrite). One window over |days| rows; the report a compaction job
    // executes from. Target sized to the fixtures; at scale the same plan
    // uses 128 MB bins over real file-footer sizes.
    "q230_compaction_plan" -> ((s: SparkSession, dir: String) => {
      val target = 1048576L // 1 MB bins at fixture scale
      val files = Tables(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg((count(lit(1)) * 96L).as("bytes")) // 96 B/row model
      val w = Window.partitionBy(lit(1)).orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files
        .withColumn("end_b", sum("bytes").over(w))
        .withColumn("bin", expr(s"(end_b - bytes) div $target"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("total_bytes"),
          date_format(min("day"), "yyyy-MM-dd").as("from_day"),
          date_format(max("day"), "yyyy-MM-dd").as("to_day"))
        .select(col("bin").cast("long").as("bin"), col("n_files"),
          col("total_bytes").cast("long").as("total_bytes"),
          col("from_day"), col("to_day"))
        .orderBy("bin")
    }),

    // ---- aggregate FILTER clause (modern SQL surface) --------------------
    // Like q176's GROUP BY ALL: the SAME query text runs verbatim on
    // Spark 4 and DuckDB. FILTER is the standard form of the conditional
    // aggregate this library elsewhere writes as sum(CASE WHEN ...) —
    // Catalyst plans both identically (one pass, no extra scan per
    // predicate).
    "q238_filter_clause" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("q238_lineitem")
      s.sql("""
        |SELECT l_returnflag,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 25.0) AS BIGINT) AS n_heavy,
        |  CAST(count(*) FILTER (WHERE l_discount = 0.0) AS BIGINT) AS n_nodisc,
        |  CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 25.0)
        |    AS BIGINT) AS heavy_suppliers,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM q238_lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
    }),

    // ---- rank-based top-k WITH ties (WindowGroupLimit path) --------------
    // Top-3 order prices per return flag keeping ties — rank() <= k, which
    // q09's LIMIT and q56's bounded heap (both tie-breaking) can't express.
    // Spark 4 plans the rank filter as WindowGroupLimitExec: each partition
    // pre-prunes to its local top-k BEFORE the shuffle and sort, so k rows
    // per group per partition move — the optimizer doing what TopKByScore
    // does by hand (plan pinned in ScaleOpsSpec). Cents pinned; ties then
    // ordered by orderkey for a deterministic hash.
    "q234_rank_topk" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("l_returnflag").orderBy(desc("price_c"))
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_returnflag"),
          expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("price_c"),
          col("o_orderkey"))
        .distinct()
        .withColumn("rk", rank().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("l_returnflag"), col("rk"), col("price_c"), col("o_orderkey"))
        .orderBy("l_returnflag", "rk", "o_orderkey")
    }),

    // ---- QUALIFY migration shape ----------------------------------------
    // DuckDB/Snowflake QUALIFY filters on a window result in-clause; Spark
    // has no QUALIFY token (checked against the 4.1.2 SqlBaseLexer), so the
    // migration rewrite is the subquery-then-filter form below — top-2
    // account balances per nation. The oracle runs the ORIGINAL QUALIFY
    // text in DuckDB: same rows proves the rewrite is the right mapping.
    "q239_qualify" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer").createOrReplaceTempView("q239_customer")
      s.sql("""
        |SELECT c_nationkey, c_custkey, bal_c, rn FROM (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(round(c_acctbal*100.0) AS BIGINT) AS bal_c,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey
        |         ORDER BY CAST(round(c_acctbal*100.0) AS BIGINT) DESC, c_custkey)
        |      AS BIGINT) AS rn
        |  FROM q239_customer)
        |WHERE rn <= 2 ORDER BY c_nationkey, rn""".stripMargin)
    }),

    // ---- TABLESAMPLE ----------------------------------------------------
    // Bernoulli sampling is seeded-deterministic WITHIN each engine but the
    // RNG streams differ across engines, so the cross-engine contract is
    // the sample's statistical envelope, not its membership: both engines
    // draw their own 50% sample (Spark TABLESAMPLE..REPEATABLE, DuckDB
    // USING SAMPLE bernoulli) and assert the size lands in 40–60% of the
    // exact total — >8σ wide at every fixture SF, so a sampler regression,
    // a double-scan, or a seed change flips the boolean. At scale
    // TABLESAMPLE prunes at the scan (no full materialization); the
    // membership-deterministic alternative for reproducible pipelines is
    // q73's hash-split.
    "q240_tablesample" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders").createOrReplaceTempView("q240_orders")
      s.sql("""
        |WITH s AS (SELECT count(*) AS ns
        |           FROM q240_orders TABLESAMPLE (50 PERCENT) REPEATABLE (377)),
        |     t AS (SELECT count(*) AS nt FROM q240_orders)
        |SELECT CAST(t.nt AS BIGINT) AS n_total,
        |       s.ns*10 BETWEEN t.nt*4 AND t.nt*6 AS sample_in_range
        |FROM s, t""".stripMargin)
    }),

    // ---- DISTRIBUTE BY / SORT BY ----------------------------------------
    // The explicit-repartition SQL form: the subquery hash-distributes on
    // the aggregation key, so EnsureRequirements finds the aggregate's
    // required distribution already satisfied — ONE exchange in the plan,
    // owned by the user (ScaleOpsSpec pins it). The 100 TB use is staging
    // one distribution and running several same-key consumers without
    // re-shuffling. Values are distribution-independent, so the oracle is
    // the plain GROUP BY.
    "q241_distribute_by" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer").createOrReplaceTempView("q241_customer")
      s.sql("""
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal*100.0) AS BIGINT)) AS BIGINT) AS bal_c
        |FROM (SELECT * FROM q241_customer
        |      DISTRIBUTE BY c_nationkey SORT BY c_nationkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
    }),

    // ---- optimizer join hints --------------------------------------------
    // /*+ BROADCAST(alias) */ — the hint a migrating user carries in their
    // SQL text. Spark honors it (BroadcastHashJoin pinned in ScaleOpsSpec,
    // including the MERGE variant that FORCES a sort-merge join where AQE
    // would broadcast); DuckDB reads the hint as the block comment it
    // syntactically is — so the SAME query text runs verbatim on both
    // engines and must agree on values (q176's discipline). Hints never
    // change results, only plans: that invariant IS the oracle here.
    "q245_join_hints" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer").createOrReplaceTempView("q245_customer")
      Tables(s, dir, "nation").createOrReplaceTempView("q245_nation")
      s.sql("""
        |SELECT /*+ BROADCAST(n) */ n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal*100.0) AS BIGINT)) AS BIGINT) AS bal_c
        |FROM q245_customer c JOIN q245_nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)
    }),

    // ---- CLUSTER BY ------------------------------------------------------
    // CLUSTER BY k ≡ DISTRIBUTE BY k SORT BY k — the shorthand migrating
    // Hive/Spark-SQL users reach for; same single-exchange plan shape as
    // q241 (pinned in ScaleOpsSpec).
    "q242_cluster_by" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders").createOrReplaceTempView("q242_orders")
      s.sql("""
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100.0) AS BIGINT)) AS BIGINT) AS total_c
        |FROM (SELECT * FROM q242_orders CLUSTER BY o_orderpriority)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- TPC-H Q2 (adapted): minimum-cost supplier -----------------------
    // The correlated-min shape: for each mid-size LARGE part, the EUROPE
    // supplier(s) offering it at the lowest cost. The fixtures carry no
    // partsupp table, so the supply catalog is derived from shipment
    // history — per (part, supplier) minimum line price in exact cents
    // (one (part,supp) shuffle). The correlated "cost = (SELECT min ...)"
    // subquery is a window min over partkey — no second aggregate + self
    // join, no per-part re-scan. supplier⋈nation⋈region is broadcast; the
    // part filter is pushed to the parquet scan before the join.
    "q248_tpch2" -> ((s: SparkSession, dir: String) => {
      val euSupp = Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, dir, "region")
            .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val ps = Tables(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)")).as("cost_c"))
      val eps = ps.join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables(s, dir, "part")
            .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")),
          col("l_partkey") === col("p_partkey"))
      eps.withColumn("mc", min("cost_c").over(Window.partitionBy("p_partkey")))
        .filter(col("cost_c") === col("mc"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("cost_c").cast("long").as("cost_c"))
        .orderBy(desc("s_acctbal"), asc("p_partkey"), asc("s_name"))
    }),

    // ---- TPC-H Q4 (adapted): order priority checking ---------------------
    // Orders of one quarter with at least one late line, counted by
    // priority. "Late" is shipped >60 days after order date (the fixtures
    // carry no commit/receipt dates). The correlated EXISTS carries the
    // cross-table date comparison INTO the subquery — Catalyst decorrelates
    // it into a left-semi join on orderkey with the date predicate riding
    // the join condition, so each order is counted once no matter how many
    // of its lines are late (a plain join would double-count).
    "q249_tpch4" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders").createOrReplaceTempView("q249_orders")
      Tables(s, dir, "lineitem").createOrReplaceTempView("q249_lineitem")
      s.sql("""
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM q249_orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM q249_lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- TPC-H Q11 (adapted): important stock ----------------------------
    // Parts whose ASIA-supplied shipment value exceeds twice the mean part
    // value of that region — the HAVING-against-a-global-scalar shape.
    // (Q11's literal fraction is scale-dependent — 1/1000 of total selects
    // nothing once the part count passes 1000 — so the threshold is stated
    // against the mean, which survives any SF; still exact-integer via
    // cross-multiplication with the part count, no float ratio.) The value
    // aggregate is one partkey shuffle over the region-filtered lines
    // (supplier⋈nation⋈region broadcast-semi prunes before the shuffle);
    // the global (total, count) re-aggregates the SAME per-part rows (tiny
    // input) and broadcasts one row into the threshold filter.
    "q250_tpch11" -> ((s: SparkSession, dir: String) => {
      val asia = Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"))
      val perPart = Tables(s, dir, "lineitem")
        .join(broadcast(asia), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)")).as("value_c"))
      val total = perPart.agg(sum("value_c").as("total_c"),
        count(lit(1)).as("part_cnt"))
      perPart.join(broadcast(total))
        .filter(col("value_c") * col("part_cnt") > col("total_c") * 2)
        .select(col("l_partkey"), col("value_c").cast("long").as("value_c"))
        .orderBy(desc("value_c"), asc("l_partkey"))
    }),

    // ---- TPC-H Q12 (adapted): shipping-mode priority mix -----------------
    // Per return-flag class (the fixtures' stand-in for shipmode): how many
    // 1996-shipped late lines belong to critical-priority orders vs not —
    // the two-branch conditional aggregate over one orders⋈lineitem pass
    // (never two scans). The year filter is pushed to the lineitem scan;
    // the late predicate needs both sides so it rides the join output.
    "q251_tpch12" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01"))
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .select(col("l_returnflag"),
          col("high_line_count").cast("long").as("high_line_count"),
          col("low_line_count").cast("long").as("low_line_count"))
        .orderBy("l_returnflag")
    })
  )

  val oracles: Map[String, String] = Map(
    "q139_set_ops_all" ->
      """WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45),
        |b AS (SELECT l_orderkey FROM lineitem WHERE l_extendedprice > 80000),
        |u AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_union_all
        |      FROM (SELECT * FROM a UNION ALL SELECT * FROM b) GROUP BY 1),
        |e AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_except_all
        |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1),
        |i AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_intersect_all
        |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1)
        |SELECT u.l_orderkey, u.n_union_all,
        | CAST(coalesce(e.n_except_all, 0) AS BIGINT) AS n_except_all,
        | CAST(coalesce(i.n_intersect_all, 0) AS BIGINT) AS n_intersect_all
        |FROM u LEFT JOIN e USING (l_orderkey) LEFT JOIN i USING (l_orderkey)
        |ORDER BY l_orderkey""".stripMargin,

    "q140_nth_value" ->
      """WITH w AS (SELECT o_custkey,
        |  first_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_key,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
        | FROM orders)
        |SELECT o_custkey, CAST(max(first_key) AS BIGINT) AS first_key,
        | CAST(max(last_key) AS BIGINT) AS last_key,
        | CAST(coalesce(max(second_key), -1) AS BIGINT) AS second_key
        |FROM w GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q141_share_of_total" ->
      """WITH rev AS (SELECT n.n_name,
        |  CAST(sum(CAST(round(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
        | FROM customer c
        | JOIN orders o ON c.c_custkey = o.o_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | GROUP BY n.n_name),
        |t AS (SELECT n_name, cents,
        |        CAST(sum(cents) OVER () AS BIGINT) AS total_cents
        |      FROM rev)
        |SELECT n_name, cents,
        | CAST((cents * 10000) // total_cents AS BIGINT) AS share_bp
        |FROM t ORDER BY n_name""".stripMargin,

    "q142_moving_avg" ->
      """WITH daily AS (SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS n
        |               FROM orders GROUP BY 1),
        |w AS (SELECT day, n,
        |  CAST(sum(n) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS win_sum,
        |  CAST(count(*) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS win_n
        | FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n,
        | CAST((win_sum * 1000) // win_n AS BIGINT) AS ma7_e3
        |FROM w ORDER BY day""".stripMargin,

    "q135_tpch18" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |             FROM lineitem GROUP BY l_orderkey
        |             HAVING sum(l_quantity) > 150)
        |SELECT c.c_name, o.o_custkey AS c_custkey, o.o_orderkey,
        | strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | o.o_totalprice, round(big.sum_qty, 2) AS sum_qty
        |FROM orders o
        |JOIN big ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin,

    "q136_tpch21" ->
      """SELECT s.s_name, n.n_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s.s_name, n.n_name
        |ORDER BY numwait DESC, s.s_name""".stripMargin,

    "q137_tpch13" ->
      """WITH pc AS (SELECT c.c_custkey,
        |              CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |            FROM customer c
        |            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |            GROUP BY c.c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM pc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q138_tpch22" ->
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
        | round(sum(c.c_acctbal), 2) AS totacctbal
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                     WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    "q129_skyline" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        |           WHERE o_custkey <= 100),
        |pp AS (SELECT o_totalprice, max(o_orderdate) AS pd
        |       FROM o GROUP BY o_totalprice),
        |pref AS (SELECT o_totalprice,
        |           max(pd) OVER (ORDER BY o_totalprice DESC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dom_date
        |         FROM pp)
        |SELECT o.o_orderkey, o.o_totalprice,
        | strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
        |FROM o JOIN pref USING (o_totalprice)
        |WHERE pref.dom_date IS NULL OR pref.dom_date <= o.o_orderdate
        |ORDER BY o.o_orderkey""".stripMargin,

    "q114_full_outer" ->
      """WITH p AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_purchases
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |g AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_signups
        |      FROM events WHERE event_type = 'signup' GROUP BY 1)
        |SELECT strftime(coalesce(p.day, g.day), '%Y-%m-%d') AS day,
        | CAST(coalesce(n_purchases, 0) AS BIGINT) AS n_purchases,
        | CAST(coalesce(n_signups, 0) AS BIGINT) AS n_signups
        |FROM p FULL OUTER JOIN g ON p.day = g.day
        |ORDER BY day""".stripMargin,

    "q115_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey <= 200
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 48 AND l_discount > 0.08
        |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_shipping_priority" ->
      """SELECT l_orderkey, o_orderpriority,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 20""".stripMargin,

    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q05_local_supplier" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q06_revenue_forecast" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q07_anti_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q08_distinct_count" ->
      """SELECT l_suppkey,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_orderkey) AS n_orders,
        | count(*) AS n_lines
        |FROM lineitem
        |GROUP BY l_suppkey
        |ORDER BY l_suppkey""".stripMargin,

    "q09_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q10_window_rank" ->
      """SELECT o_custkey, o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS last_order_date,
        | o_totalprice
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin,

    "q11_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q12_lag_delta" ->
      """SELECT event_id, user_id,
        | round(value - coalesce(lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 0.0),2) AS delta
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q13_rollup" ->
      """SELECT r_name, n_name,
        | round(sum(c_acctbal),2) AS total_bal,
        | count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q14_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q15_set_ops" ->
      """(SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 350000
        | UNION
        | SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |EXCEPT
        |(SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 350000
        | INTERSECT
        | SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |ORDER BY custkey""".stripMargin,

    "q16_case_classify" ->
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'filled'
        |            WHEN o_totalprice < 100000 THEN 'small_open'
        |            WHEN o_totalprice < 300000 THEN 'medium_open'
        |            ELSE 'large_open' END AS bucket,
        | count(*) AS n, round(avg(o_totalprice),2) AS avg_price
        |FROM orders
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,

    "q17_string_funcs" ->
      """SELECT p_partkey,
        | lower(p_name) AS name_lower,
        | upper(p_brand) AS brand_upper,
        | concat_ws('|', p_brand, p_type) AS brand_type,
        | substr(p_name, 1, 5) AS name_pfx,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | printf('part-%05d', p_partkey) AS part_code
        |FROM part
        |WHERE p_name LIKE '%widget%'
        |ORDER BY p_partkey""".stripMargin,

    "q18_datetime" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        | CAST(month(o_orderdate) AS INT) AS mo,
        | strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        | count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS total
        |FROM orders
        |GROUP BY 1, 2, 3
        |ORDER BY yr, mo""".stripMargin,

    "q19_null_whitelist" ->
      """WITH t AS (
        | SELECT o_orderpriority,
        |  CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS status_n
        | FROM orders)
        |SELECT o_orderpriority,
        | CAST(sum(CASE WHEN status_n IS NULL OR status_n IN ('O') THEN 1 ELSE 0 END) AS BIGINT) AS n_healthy,
        | CAST(sum(CASE WHEN NOT (status_n IS NULL OR status_n IN ('O')) THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM t
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q20_first_match" ->
      """SELECT user_id, event_id AS first_purchase_event,
        | round(value,2) AS first_value,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        |FROM events
        |WHERE event_type = 'purchase'
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1
        |ORDER BY user_id""".stripMargin,

    "q21_semi_join" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey
        |                AND l_shipdate > TIMESTAMP '2001-06-01 00:00:00')
        |ORDER BY s_suppkey""".stripMargin,

    "q22_having" ->
      """SELECT l_suppkey, l_returnflag,
        | count(*) AS n_lines, round(avg(l_discount),4) AS avg_disc
        |FROM lineitem
        |GROUP BY l_suppkey, l_returnflag
        |HAVING round(avg(l_discount),4) > 0.048
        |ORDER BY l_suppkey, l_returnflag""".stripMargin,

    "q23_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
        | count(*) AS n, round(avg(value),4) AS avg_value
        |FROM events
        |GROUP BY 1
        |ORDER BY k_bucket""".stripMargin,

    // count(*) FILTER yields 0 for absent combos; pivot yields NULL —
    // NULLIF-free mirror via CASE: sum(CASE...) over no rows is NULL too
    "q68_native_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q24_pivot" ->
      """SELECT user_id,
        | CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
        | CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
        | CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
        | CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
        | CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
        | round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0.0),2) AS purchase_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q25_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        | event_type, count(*) AS n, round(sum(value),2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,

    "q26_sessionize" ->
      """WITH t AS (
        | SELECT user_id,
        |  CASE WHEN lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |            > 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
        | FROM events)
        |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM t
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q27_memo_joinback" ->
      """SELECT o_orderkey, o_custkey, cust_n_orders, cust_total
        |FROM orders
        |JOIN (SELECT o_custkey AS sk, count(*) AS cust_n_orders,
        |             round(sum(o_totalprice),2) AS cust_total
        |      FROM orders GROUP BY o_custkey) s
        |  ON o_custkey = sk
        |ORDER BY o_orderkey""".stripMargin,

    "q28_error_notes" ->
      """SELECT c_custkey,
        | count(o_orderkey) AS n_orders,
        | CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_failed,
        | CASE WHEN count(*) FILTER (WHERE o_orderstatus = 'F') > 0 THEN 'Failed'
        |      WHEN count(o_orderkey) > 0 THEN 'Success'
        |      ELSE 'No Schedule' END AS status,
        | CASE WHEN count(*) FILTER (WHERE o_orderstatus = 'F') > 5
        |      THEN 'error in more than 5 nodes'
        |      ELSE coalesce(string_agg(printf('%d --> F', o_orderkey), chr(10)
        |             ORDER BY o_orderkey) FILTER (WHERE o_orderstatus = 'F'), '') END AS error_note
        |FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q29_explode" ->
      """SELECT vec_id, CAST(pos AS BIGINT) AS pos,
        | round(CAST(val AS DOUBLE), 4) AS val
        |FROM (SELECT vec_id, unnest(embedding) AS val,
        |             generate_subscripts(embedding, 1) AS pos
        |      FROM embeddings WHERE vec_id < 3)
        |ORDER BY vec_id, pos""".stripMargin,

    "q154_cramers_v" ->
      s"""WITH cu AS (SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg
         |            FROM customer),
         |ce AS (SELECT nk, seg, CAST(count(*) AS BIGINT) AS o FROM cu GROUP BY 1, 2),
         |rm AS (SELECT nk, CAST(count(*) AS BIGINT) AS r FROM cu GROUP BY 1),
         |cm AS (SELECT seg, CAST(count(*) AS BIGINT) AS c FROM cu GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cu),
         |g AS (SELECT rm.nk, cm.seg, rm.r, cm.c, coalesce(ce.o, 0) AS o, nn.n
         |      FROM rm CROSS JOIN cm
         |      LEFT JOIN ce ON rm.nk = ce.nk AND cm.seg = ce.seg
         |      CROSS JOIN nn),
         |s AS (SELECT n, CAST(count(DISTINCT nk) AS BIGINT) AS rdim,
         |        CAST(count(DISTINCT seg) AS BIGINT) AS cdim,
         |        CAST(sum($CramerCellE6Sql) AS BIGINT) AS chi2_e6
         |      FROM g GROUP BY n)
         |SELECT n, rdim, cdim, chi2_e6, $CramerVE4Sql AS v_e4 FROM s""".stripMargin,

    "q155_k_anonymity" ->
      """WITH cl AS (SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
        |        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM customer GROUP BY 1, 2, 3),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |        CAST(sum(cnt) AS BIGINT) AS n_rows,
        |        CAST(min(cnt) AS BIGINT) AS k_anonymity,
        |        CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_lt5,
        |        CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT) AS rows_at_risk
        |      FROM cl)
        |SELECT n_classes, n_rows, k_anonymity, classes_lt5, rows_at_risk,
        |  CAST(((n_rows - rows_at_risk) * 10000) // n_rows AS BIGINT) AS safe_bp
        |FROM a""".stripMargin,

    "q159_zorder" ->
      s"""WITH b AS (SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
         |        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256
         |          AS BIGINT) AS y
         |      FROM orders),
         |z AS (SELECT x, y, CAST(${zInterleaveSql("//")} AS BIGINT) AS z FROM b)
         |SELECT CAST(z // 256 AS BIGINT) AS zfile, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(max(x) - min(x) AS BIGINT) AS x_span,
         |  CAST(max(y) - min(y) AS BIGINT) AS y_span,
         |  CAST(min(z) AS BIGINT) AS z_min, CAST(max(z) AS BIGINT) AS z_max
         |FROM z GROUP BY 1 ORDER BY zfile""".stripMargin,

    "q160_fingerprint" ->
      """WITH fo AS (SELECT ('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |        o_orderstatus, CAST(round(o_totalprice * 100.0) AS BIGINT),
        |        strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'), o_orderpriority)),
        |        1, 14))::BIGINT AS fp FROM orders),
        |fc AS (SELECT ('0x' || substr(md5(concat_ws('|', c_custkey,
        |        CAST(c_nationkey AS BIGINT), c_name,
        |        CAST(round(c_acctbal * 100.0) AS BIGINT), c_mktsegment)),
        |        1, 14))::BIGINT AS fp FROM customer),
        |fs AS (SELECT ('0x' || substr(md5(concat_ws('|', s_suppkey,
        |        CAST(s_nationkey AS BIGINT), s_name,
        |        CAST(round(s_acctbal * 100.0) AS BIGINT))),
        |        1, 14))::BIGINT AS fp FROM supplier)
        |SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
        |  CAST(sum(fp % 100000000) AS BIGINT) AS sum_fp_mod FROM fo
        |UNION ALL
        |SELECT 'customer', CAST(count(*) AS BIGINT), CAST(bit_xor(fp) AS BIGINT),
        |  CAST(sum(fp % 100000000) AS BIGINT) FROM fc
        |UNION ALL
        |SELECT 'supplier', CAST(count(*) AS BIGINT), CAST(bit_xor(fp) AS BIGINT),
        |  CAST(sum(fp % 100000000) AS BIGINT) FROM fs
        |ORDER BY tbl""".stripMargin,

    "q168_scd2" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |               AS prev_type
        |           FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM e
        |      WHERE prev_type IS NULL OR prev_type <> event_type),
        |s AS (SELECT user_id, event_type AS state, ts,
        |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS valid_to_ts
        |      FROM c)
        |SELECT user_id, state,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  CASE WHEN valid_to_ts IS NULL THEN '9999-12-31 00:00:00'
        |       ELSE strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S') END AS valid_to,
        |  CAST(CASE WHEN valid_to_ts IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM s ORDER BY user_id, valid_from, state""".stripMargin,

    "q178_table_diff" ->
      """WITH old AS (SELECT o_orderkey AS k,
        |        md5(concat_ws('|', o_custkey, o_orderstatus,
        |          CAST(round(o_totalprice * 100.0) AS BIGINT),
        |          strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'), o_orderpriority))
        |          AS h
        |      FROM orders),
        |nb AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 0.01
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |       FROM orders WHERE o_orderkey % 997 <> 0),
        |ad AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice, o_orderdate, o_orderpriority
        |       FROM orders WHERE o_orderkey % 1009 = 0),
        |neu AS (SELECT o_orderkey AS k,
        |         md5(concat_ws('|', o_custkey, o_orderstatus,
        |           CAST(round(o_totalprice * 100.0) AS BIGINT),
        |           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'), o_orderpriority))
        |           AS h
        |       FROM (SELECT * FROM nb UNION ALL SELECT * FROM ad)),
        |d AS (SELECT coalesce(old.k, neu.k) AS k,
        |        CASE WHEN old.h IS NULL THEN 'added'
        |             WHEN neu.h IS NULL THEN 'removed'
        |             WHEN old.h <> neu.h THEN 'changed'
        |             ELSE 'same' END AS status
        |      FROM old FULL OUTER JOIN neu ON old.k = neu.k)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
        |FROM d GROUP BY status ORDER BY status""".stripMargin,

    "q180_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |dels AS (SELECT o_orderkey FROM base WHERE o_orderkey % 997 = 0),
        |upd AS (SELECT o_orderkey, o_totalprice + 0.01 AS new_price
        |        FROM base WHERE o_orderkey % 100 = 0),
        |ins AS (SELECT o_orderkey + 100000000 AS o_orderkey, o_orderstatus,
        |          o_totalprice AS price
        |        FROM base WHERE o_orderkey % 1009 = 0),
        |kept AS (SELECT b.o_orderkey, b.o_orderstatus,
        |           coalesce(u.new_price, b.o_totalprice) AS price
        |         FROM base b LEFT JOIN upd u USING (o_orderkey)
        |         WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM dels)),
        |m AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(price * 100.0) AS BIGINT)) AS BIGINT) AS total_c,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM m GROUP BY status ORDER BY status""".stripMargin,

    "q182_dq_checks" ->
      """WITH o AS (SELECT count(*) AS n,
        |        count(DISTINCT o_orderkey) AS nd,
        |        sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
        |          AS bad_status,
        |        sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS orphans
        |      FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |        ON o_custkey = c.c_custkey),
        |l AS (SELECT count(*) AS n,
        |        sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
        |          AS bad_qty,
        |        sum(CASE WHEN k.ok IS NULL THEN 1 ELSE 0 END) AS orphans
        |      FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS ok FROM orders) k
        |        ON l_orderkey = k.ok),
        |e AS (SELECT count(*) AS n,
        |        sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user,
        |        sum(CASE WHEN ts < TIMESTAMP '1970-01-01 00:00:00'
        |                   OR ts >= TIMESTAMP '2100-01-01 00:00:00'
        |                 THEN 1 ELSE 0 END) AS bad_ts
        |      FROM events),
        |r AS (SELECT 'orders_pk_unique' AS "check", n, n - nd AS n_violations FROM o
        |      UNION ALL SELECT 'orders_status_accepted', n, bad_status FROM o
        |      UNION ALL SELECT 'orders_fk_customer', n, orphans FROM o
        |      UNION ALL SELECT 'lineitem_qty_range', n, bad_qty FROM l
        |      UNION ALL SELECT 'lineitem_fk_orders', n, orphans FROM l
        |      UNION ALL SELECT 'events_user_not_null', n, null_user FROM e
        |      UNION ALL SELECT 'events_ts_bounds', n, bad_ts FROM e)
        |SELECT "check", CAST(n AS BIGINT) AS n_checked,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM r ORDER BY "check"""".stripMargin,

    "q188_profile" ->
      """WITH a AS (SELECT count(*) AS n,
        |    count(*) - count(o_orderkey) AS nn_k, count(DISTINCT o_orderkey) AS nd_k,
        |    CAST(min(o_orderkey) AS VARCHAR) AS mn_k, CAST(max(o_orderkey) AS VARCHAR) AS mx_k,
        |    count(*) - count(o_custkey) AS nn_c, count(DISTINCT o_custkey) AS nd_c,
        |    CAST(min(o_custkey) AS VARCHAR) AS mn_c, CAST(max(o_custkey) AS VARCHAR) AS mx_c,
        |    count(*) - count(o_orderstatus) AS nn_s, count(DISTINCT o_orderstatus) AS nd_s,
        |    min(o_orderstatus) AS mn_s, max(o_orderstatus) AS mx_s,
        |    count(*) - count(o_totalprice) AS nn_p, count(DISTINCT o_totalprice) AS nd_p,
        |    CAST(min(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS VARCHAR) AS mn_p,
        |    CAST(max(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS VARCHAR) AS mx_p,
        |    count(*) - count(o_orderdate) AS nn_d, count(DISTINCT o_orderdate) AS nd_d,
        |    strftime(min(o_orderdate), '%Y-%m-%d') AS mn_d,
        |    strftime(max(o_orderdate), '%Y-%m-%d') AS mx_d,
        |    count(*) - count(o_orderpriority) AS nn_o, count(DISTINCT o_orderpriority) AS nd_o,
        |    min(o_orderpriority) AS mn_o, max(o_orderpriority) AS mx_o
        |  FROM orders)
        |SELECT "column", CAST(n AS BIGINT) AS n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_val, max_val
        |FROM (
        |  SELECT 'o_orderkey' AS "column", n, nn_k AS n_nulls, nd_k AS n_distinct,
        |    mn_k AS min_val, mx_k AS max_val FROM a
        |  UNION ALL SELECT 'o_custkey', n, nn_c, nd_c, mn_c, mx_c FROM a
        |  UNION ALL SELECT 'o_orderstatus', n, nn_s, nd_s, mn_s, mx_s FROM a
        |  UNION ALL SELECT 'o_totalprice', n, nn_p, nd_p, mn_p, mx_p FROM a
        |  UNION ALL SELECT 'o_orderdate', n, nn_d, nd_d, mn_d, mx_d FROM a
        |  UNION ALL SELECT 'o_orderpriority', n, nn_o, nd_o, mn_o, mx_o FROM a)
        |ORDER BY "column"""".stripMargin,

    "q192_key_skew" ->
      """WITH s1 AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS rn
        |  FROM (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS cnt
        |        FROM events GROUP BY 1)),
        |a1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(max(cnt) AS BIGINT) AS max_cnt FROM s1),
        |p1 AS (SELECT
        |         CAST(max(CASE WHEN rn = (SELECT (n_keys + 1) // 2 FROM a1)
        |                       THEN cnt END) AS BIGINT) AS p50_cnt,
        |         CAST(max(CASE WHEN rn = (SELECT (99 * n_keys + 99) // 100 FROM a1)
        |                       THEN cnt END) AS BIGINT) AS p99_cnt
        |       FROM s1),
        |r1 AS (SELECT 'events.user_id' AS key_col, n_rows, n_keys, max_cnt,
        |         p50_cnt, p99_cnt,
        |         (max_cnt * 10000) // n_rows AS top_share_bp,
        |         (max_cnt * n_keys * 10000) // n_rows AS skew_ratio_bp
        |       FROM a1, p1),
        |s2 AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS rn
        |  FROM (SELECT event_type AS k, CAST(count(*) AS BIGINT) AS cnt
        |        FROM events GROUP BY 1)),
        |a2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(max(cnt) AS BIGINT) AS max_cnt FROM s2),
        |p2 AS (SELECT
        |         CAST(max(CASE WHEN rn = (SELECT (n_keys + 1) // 2 FROM a2)
        |                       THEN cnt END) AS BIGINT) AS p50_cnt,
        |         CAST(max(CASE WHEN rn = (SELECT (99 * n_keys + 99) // 100 FROM a2)
        |                       THEN cnt END) AS BIGINT) AS p99_cnt
        |       FROM s2),
        |r2 AS (SELECT 'events.event_type', n_rows, n_keys, max_cnt,
        |         p50_cnt, p99_cnt,
        |         (max_cnt * 10000) // n_rows,
        |         (max_cnt * n_keys * 10000) // n_rows
        |       FROM a2, p2),
        |s3 AS (
        |  SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS rn
        |  FROM (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cnt
        |        FROM lineitem GROUP BY 1)),
        |a3 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(max(cnt) AS BIGINT) AS max_cnt FROM s3),
        |p3 AS (SELECT
        |         CAST(max(CASE WHEN rn = (SELECT (n_keys + 1) // 2 FROM a3)
        |                       THEN cnt END) AS BIGINT) AS p50_cnt,
        |         CAST(max(CASE WHEN rn = (SELECT (99 * n_keys + 99) // 100 FROM a3)
        |                       THEN cnt END) AS BIGINT) AS p99_cnt
        |       FROM s3),
        |r3 AS (SELECT 'lineitem.l_orderkey', n_rows, n_keys, max_cnt,
        |         p50_cnt, p99_cnt,
        |         (max_cnt * 10000) // n_rows,
        |         (max_cnt * n_keys * 10000) // n_rows
        |       FROM a3, p3)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        |ORDER BY key_col""".stripMargin,

    "q176_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS total_c
        |FROM orders
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q202_small_qty" ->
      """WITH a AS (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
        |           FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        |       CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
        |         AS total_c
        |FROM lineitem JOIN a ON l_partkey = ap_partkey
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,

    "q203_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |             * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)))
        |           AS rev_e6
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(rev_e6 AS BIGINT) AS rev_e6
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_e6 = (SELECT max(rev_e6) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q204_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM part JOIN lineitem ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q205_disjunctive" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |           * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)))
        |         AS BIGINT) AS revenue_e6
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25
        |       AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q206_majority_supp" ->
      """WITH pq AS (SELECT l_partkey, l_suppkey,
        |              sum(CAST(l_quantity AS BIGINT)) AS q
        |            FROM lineitem GROUP BY l_partkey, l_suppkey),
        |wt AS (SELECT l_suppkey, q,
        |         sum(q) OVER (PARTITION BY l_partkey) AS tq
        |       FROM pq)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM wt WHERE q * 10 > tq * 2)
        |ORDER BY s_suppkey""".stripMargin,

    "q211_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |           * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)))
        |         AS BIGINT) AS revenue_e6
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        |   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
        |GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q212_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN sn.n_name = 'NATION_3' THEN
        |      CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |      * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)) ELSE 0 END)
        |    AS BIGINT) AS nation_rev_e6,
        |  CAST((sum(CASE WHEN sn.n_name = 'NATION_3' THEN
        |      CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |      * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)) ELSE 0 END)
        |    * 10000)
        |    // sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |        * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)))
        |    AS BIGINT) AS share_bp
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY year(o_orderdate)
        |ORDER BY o_year""".stripMargin,

    "q213_profit" ->
      """SELECT sn.n_name AS nation,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |           * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT))
        |           - CAST(l_quantity AS BIGINT)
        |           * CAST(round(p_retailprice * 100.0) AS BIGINT) * 9000)
        |         AS BIGINT) AS profit_e6
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY sn.n_name, year(o_orderdate)
        |ORDER BY nation, o_year""".stripMargin,

    "q214_promo_share" ->
      """SELECT CAST(month(l_shipdate) AS BIGINT) AS l_month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN
        |      CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |      * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)) ELSE 0 END)
        |    AS BIGINT) AS promo_rev_e6,
        |  CAST((sum(CASE WHEN p_type = 'PROMO' THEN
        |      CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |      * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)) ELSE 0 END)
        |    * 10000)
        |    // sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |        * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)))
        |    AS BIGINT) AS promo_bp
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY month(l_shipdate)
        |ORDER BY l_month""".stripMargin,

    "q216_l_diversity" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nk,
        |             c_mktsegment AS seg,
        |             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |           FROM customer),
        |g AS (SELECT nk, seg, CAST(count(*) AS BIGINT) AS class_size,
        |        CAST(count(DISTINCT bal_band) AS BIGINT) AS l_distinct
        |      FROM c GROUP BY nk, seg)
        |SELECT nk, seg, class_size, l_distinct,
        |       CAST(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END AS BIGINT)
        |         AS below_l3
        |FROM g ORDER BY nk, seg""".stripMargin,

    "q222_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)
        |      * (10000 - CAST(round(l_discount * 10000.0) AS BIGINT)))
        |    AS BIGINT) AS revenue_e6,
        |  CAST(round(max(c_acctbal) * 100.0) AS BIGINT) AS acctbal_c
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_e6 DESC, c_custkey LIMIT 20""".stripMargin,

    "q223_salted_agg" ->
      """WITH per AS (SELECT l_orderkey,
        |               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
        |               CAST(count(*) AS BIGINT) AS n
        |             FROM lineitem GROUP BY l_orderkey)
        |SELECT CAST(n AS BIGINT) AS lines_per_order,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(sum_q) AS BIGINT) AS total_qty
        |FROM per GROUP BY n ORDER BY lines_per_order""".stripMargin,

    "q225_join_cardest" ->
      """WITH ha AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
        |            FROM orders GROUP BY o_orderkey),
        |hb AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
        |       FROM lineitem GROUP BY l_orderkey),
        |j AS (SELECT ha.ca, hb.cb
        |      FROM ha FULL OUTER JOIN hb ON ha.k = hb.k)
        |SELECT
        |  CAST(sum(CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_keys_a,
        |  CAST(sum(CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_keys_b,
        |  CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_common,
        |  CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
        |           THEN ca * cb ELSE 0 END) AS BIGINT) AS join_rows,
        |  CAST(max(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
        |           THEN ca * cb ELSE 0 END) AS BIGINT) AS max_key_rows
        |FROM j""".stripMargin,

    "q226_pct_of_parent" ->
      """WITH pn AS (SELECT r_name, n_name,
        |              CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
        |                AS BIGINT) AS rev_c
        |            FROM orders
        |            JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |            JOIN region ON n_regionkey = r_regionkey
        |            GROUP BY r_name, n_name),
        |w AS (SELECT r_name, n_name, rev_c,
        |        sum(rev_c) OVER (PARTITION BY r_name) AS region_rev_c,
        |        sum(rev_c) OVER () AS total_rev_c
        |      FROM pn)
        |SELECT r_name, n_name, rev_c,
        |  CAST((rev_c * 10000) // region_rev_c AS BIGINT) AS of_region_bp,
        |  CAST((region_rev_c * 10000) // total_rev_c AS BIGINT)
        |    AS region_of_total_bp
        |FROM w ORDER BY r_name, n_name""".stripMargin,

    "q230_compaction_plan" ->
      """WITH f AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |             CAST(count(*) * 96 AS BIGINT) AS bytes
        |           FROM lineitem GROUP BY CAST(l_shipdate AS DATE)),
        |r AS (SELECT day, bytes,
        |        sum(bytes) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_b
        |      FROM f),
        |b AS (SELECT day, bytes, (end_b - bytes) // 1048576 AS bin FROM r)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  strftime(min(day), '%Y-%m-%d') AS from_day,
        |  strftime(max(day), '%Y-%m-%d') AS to_day
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q238_filter_clause" ->
      """SELECT l_returnflag,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 25.0) AS BIGINT) AS n_heavy,
        |  CAST(count(*) FILTER (WHERE l_discount = 0.0) AS BIGINT) AS n_nodisc,
        |  CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 25.0)
        |    AS BIGINT) AS heavy_suppliers,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q234_rank_topk" ->
      """WITH d AS (SELECT DISTINCT l_returnflag,
        |             CAST(round(o_totalprice * 100.0) AS BIGINT) AS price_c,
        |             o_orderkey
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |r AS (SELECT l_returnflag, price_c, o_orderkey,
        |        CAST(rank() OVER (PARTITION BY l_returnflag
        |                          ORDER BY price_c DESC) AS BIGINT) AS rk
        |      FROM d)
        |SELECT l_returnflag, rk, price_c, o_orderkey
        |FROM r WHERE rk <= 3
        |ORDER BY l_returnflag, rk, o_orderkey""".stripMargin,

    // the ORIGINAL QUALIFY text a DuckDB user would bring — matching rows
    // proves q239's subquery-filter rewrite is the faithful Spark mapping
    "q239_qualify" ->
      """SELECT c_nationkey, c_custkey,
        |  CAST(round(c_acctbal*100.0) AS BIGINT) AS bal_c,
        |  CAST(row_number() OVER (PARTITION BY c_nationkey
        |       ORDER BY CAST(round(c_acctbal*100.0) AS BIGINT) DESC, c_custkey)
        |    AS BIGINT) AS rn
        |FROM customer QUALIFY rn <= 2 ORDER BY c_nationkey, rn""".stripMargin,

    // each engine draws its OWN seeded 50% bernoulli sample; the compared
    // values are the exact total and the statistical-envelope boolean
    "q240_tablesample" ->
      """WITH s AS (SELECT count(*) AS ns
        |           FROM orders USING SAMPLE 50% (bernoulli, 377)),
        |     t AS (SELECT count(*) AS nt FROM orders)
        |SELECT CAST(t.nt AS BIGINT) AS n_total,
        |       s.ns*10 BETWEEN t.nt*4 AND t.nt*6 AS sample_in_range
        |FROM s, t""".stripMargin,

    "q241_distribute_by" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal*100.0) AS BIGINT)) AS BIGINT) AS bal_c
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q242_cluster_by" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100.0) AS BIGINT)) AS BIGINT) AS total_c
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // identical text modulo view names: DuckDB parses the hint as a block
    // comment and ignores it — values must match, proving hints are
    // plan-only
    "q245_join_hints" ->
      """SELECT /*+ BROADCAST(n) */ n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal*100.0) AS BIGINT)) AS BIGINT) AS bal_c
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q248_tpch2" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS cost_c
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |eps AS (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, cost_c,
        |         min(cost_c) OVER (PARTITION BY p_partkey) AS mc
        |  FROM ps
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE r_name = 'EUROPE' AND p_size BETWEEN 10 AND 20
        |    AND p_type = 'LARGE')
        |SELECT s_acctbal, s_name, n_name, p_partkey,
        |       CAST(cost_c AS BIGINT) AS cost_c
        |FROM eps WHERE cost_c = mc
        |ORDER BY s_acctbal DESC, p_partkey, s_name""".stripMargin,

    "q249_tpch4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q250_tpch11" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |         sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS value_c
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      JOIN nation ON s_nationkey = n_nationkey
        |                      JOIN region ON n_regionkey = r_regionkey
        |                      WHERE r_name = 'ASIA')
        |  GROUP BY l_partkey)
        |SELECT l_partkey, CAST(value_c AS BIGINT) AS value_c
        |FROM v, (SELECT sum(value_c) AS total_c, count(*) AS part_cnt FROM v) t
        |WHERE value_c * part_cnt > total_c * 2
        |ORDER BY value_c DESC, l_partkey""".stripMargin,

    "q251_tpch12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
