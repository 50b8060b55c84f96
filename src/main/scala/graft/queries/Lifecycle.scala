package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AggState, Merge, ViewState}

/** Table-lifecycle operators — the maintenance half of a warehouse: keyed
  * MERGE/upsert of a change feed, SCD Type-2 dimension history. The
  * reference's sync scripts do this imperatively (GET current state, diff,
  * POST the changes — `sync.py`'s fetch-compare-send loop is a hand-rolled
  * keyed merge); here the same semantics are set operations that scale to
  * a 100 TB fact table: every step is a keyed shuffle or a keyed window,
  * nothing global, nothing on the driver.
  *
  * The change feed for q254 is derived deterministically from `orders`
  * (the fixtures carry no CDC table): multiples of 3 are "changed" (+100),
  * multiples of 12 changed AGAIN in the same batch (+200, exercising
  * last-writer-wins), multiples of 9 deleted; the target snapshot is
  * missing all multiples of 10, so changes to those keys become inserts —
  * together the feed exercises every MERGE verdict including the
  * unmatched-delete no-op (key 90: deleted but never present).
  */
object Lifecycle {

  /** 8-bit Z-curve cell from two 4-bit keys, as an integer-only SQL
    * expression — shared VERBATIM between the Spark plan and the DuckDB
    * oracle (`divOp` is the only dialect difference: `div` vs `//`; both
    * operands are non-negative so the operators agree). This is the same
    * bit interleave `operators/Compaction.zvalue` clusters files by;
    * q258 proves the curve math cross-engine. */
  def zCellExpr(divOp: String): String =
    (0 until 4).map { b =>
      s"(((l_partkey % 16) $divOp ${1 << b}) % 2) * ${1 << (2 * b)} + " +
        s"(((l_suppkey % 16) $divOp ${1 << b}) % 2) * ${1 << (2 * b + 1)}"
    }.mkString(" + ")

  /** The SCD2 queries' change log: the events of users with
    * user_id % 7 == `slice`, as (user_id, ts, event_id, event_type). */
  private def changeLog(s: SparkSession, dir: String, slice: Int): DataFrame =
    Tables(s, dir, "events").filter(col("user_id") % 7 === slice)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))

  /** An SCD2 dimension as output rows: timestamps as strings, the open
    * version's NULL effective_to as the 9999-12-31 sentinel (NULLs break
    * the oracle's row sort), is_current as 0/1, by (user, version). */
  private def scd2Rows(dim: DataFrame): DataFrame =
    dim.select(col("user_id"), col("version"), col("event_type"),
        date_format(col("effective_from"), "yyyy-MM-dd HH:mm:ss").as("effective_from"),
        coalesce(date_format(col("effective_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("9999-12-31 00:00:00")).as("effective_to"),
        col("n_changes"),
        when(col("is_current"), 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "version")

  /** q273/q274's orders ⋈ customer view at `stateDir`, grown in
    * interleaved slices: built from the orderkey % 3 == 0 orders and even
    * customers, then the other orders and customers appended left, right,
    * left. Returns the two projected sides. */
  private def grownOrderView(s: SparkSession, dir: String,
      stateDir: String): (DataFrame, DataFrame) = {
    val orders = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_orderstatus"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("o_cents"))
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    ViewState.build(orders.filter(col("o_orderkey") % 3 === 0),
      cust.filter(col("custkey") % 2 === 0), Seq("custkey"), stateDir)
    ViewState.appendLeft(s, orders.filter(col("o_orderkey") % 3 === 1), stateDir)
    ViewState.appendRight(s, cust.filter(col("custkey") % 2 === 1), stateDir)
    ViewState.appendLeft(s, orders.filter(col("o_orderkey") % 3 === 2), stateDir)
    (orders, cust)
  }

  /** The view's order count and cents per (segment, status), weighted by
    * the collapsed multiplicities. */
  private def segmentStatusTotals(s: SparkSession, stateDir: String): DataFrame =
    ViewState.merged(s, stateDir)
      .groupBy("c_mktsegment", "o_orderstatus")
      .agg(sum(col("mult")).cast("long").as("n_orders"),
        sum(col("o_cents") * col("mult")).cast("long").as("sum_cents"))
      .orderBy("c_mktsegment", "o_orderstatus")

  val queries: Map[String, Q] = Map(
    // ---- keyed MERGE / upsert with last-writer-wins feed dedup -----------
    // operators/Merge: feed → one row per key by max version (one partial-
    // aggregating shuffle), then ONE full-outer keyed join decides
    // keep/update/insert/delete row-locally. Scale: both sides shuffle
    // once on the key; a small delta batch broadcasts under AQE on its
    // own; the feed dedup is max_by, never a feed-wide window.
    "q254_merge_upsert" -> ((s: SparkSession, dir: String) => {
      val orders = Tables(s, dir, "orders")
      val target = orders.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val feed = orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 100.0).as("o_totalprice"), col("o_orderstatus"),
          when(col("o_orderkey") % 9 === 0, "D").otherwise("U").as("op"),
          lit(1L).as("version"))
        .unionAll(orders.filter(col("o_orderkey") % 12 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") + 200.0).as("o_totalprice"), col("o_orderstatus"),
            lit("U").as("op"), lit(2L).as("version")))
      val latest = Merge.latestByKey(feed, Seq("o_orderkey"), "version")
      Merge.merge(target, latest, Seq("o_orderkey"),
          opCol = "op", payload = Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // ---- SCD Type-2 dimension history ------------------------------------
    // operators/Merge.scd2 over the events change log: consecutive equal
    // attribute rows collapse into one version (only CHANGES open a new
    // one), [effective_from, effective_to) half-open bounds via lead, the
    // open version flagged current. All windows keyed by user_id — the
    // per-key history is the unit of parallelism. NULL effective_to maps
    // to the 9999-12-31 sentinel (NULLs break the oracle's row sort).
    "q255_scd2" -> ((s: SparkSession, dir: String) => {
      val changes = changeLog(s, dir, 0)
      scd2Rows(Merge.scd2(changes, "user_id", Seq(col("ts"), col("event_id")), "event_type"))
    }),

    // ---- data-quality expectations: the one-pass audit -------------------
    // Six declarative checks over lineitem evaluated in ONE partial-
    // aggregated scan (every row-level predicate folds into the same
    // aggregate; uniqueness is a two-phase countDistinct in the same
    // pass), plus one referential anti-join vs orders. The two 1-row
    // branches cross-join (broadcast) and unpivot via stack — at 100 TB
    // this is one fact scan + one keyed anti-join, nothing else. The
    // uniqueness check FAILS on the fixtures by design: (l_orderkey,
    // l_linenumber) is genuinely non-unique in the synthetic data, so the
    // audit demonstrably measures, not rubber-stamps.
    "q256_expectations" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
      val orders = Tables(s, dir, "orders")
      val rowChecks = li.agg(
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("v_notnull_orderkey"),
        // explicit NULL sentinels pin the digest's NULL handling in BOTH
        // engines: Spark's concat_ws SKIPS null elements while DuckDB's ||
        // propagates NULL (vanishing from count DISTINCT) — without the
        // coalesce a NULL key component diverges cross-engine. '<null>'
        // can't collide with the numeric key strings.
        (count(lit(1)) - countDistinct(
          concat_ws("|",
            coalesce(col("l_orderkey").cast("string"), lit("<null>")),
            coalesce(col("l_linenumber").cast("string"), lit("<null>")))))
          .cast("long").as("v_unique_pk"),
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.05, 1L)
          .otherwise(0L)).as("v_range_discount"),
        sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("v_positive_qty"),
        when(date_format(max(col("l_shipdate")), "yyyy-MM-dd") < "2001-01-01", 1L)
          .otherwise(0L).as("v_freshness"))
      val refCheck = li.join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v_ref_orders"))
      rowChecks.crossJoin(refCheck)
        .selectExpr("""stack(6,
            'notnull_orderkey', v_notnull_orderkey,
            'unique_pk', v_unique_pk,
            'range_discount_le_5pct', v_range_discount,
            'positive_quantity', v_positive_qty,
            'freshness_shipdate', v_freshness,
            'ref_orderkey_in_orders', v_ref_orders) AS (check_name, violations)""")
        .select(col("check_name"), col("violations").cast("long").as("violations"),
          when(col("violations") === 0, "pass").otherwise("fail").as("status"))
        .orderBy("check_name")
    }),

    // ---- incremental aggregate maintenance (standing partial state) ------
    // operators/AggState: the per-(source, lang) document profile kept as
    // a partial-aggregate TABLE — three deterministic slices of the corpus
    // land as build + two blind appends, and the merged read equals a
    // from-scratch groupBy bit-for-bit (count/sum/min/max are algebraic;
    // integer sums don't reassociate). The oracle IS that from-scratch
    // groupBy, so the equivalence is hash-checked, not asserted. At scale
    // the daily recount becomes a delta-sized fold.
    "q257_agg_state" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      withStateDir("graft-agg-state-") { stateDir =>
        val keys = Seq("source", "lang")
        AggState.build(docs.filter(col("doc_id") % 3 === 0), keys, "n_chars", stateDir)
        AggState.append(docs.filter(col("doc_id") % 3 === 1), keys, "n_chars", stateDir)
        AggState.append(docs.filter(col("doc_id") % 3 === 2), keys, "n_chars", stateDir)
        AggState.merged(s, stateDir, keys)
          .select(col("source"), col("lang"), col("n").as("n_docs"),
            col("sum").cast("long").as("sum_chars"),
            col("min").cast("long").as("min_chars"),
            col("max").cast("long").as("max_chars"))
          .orderBy("source", "lang")
      }
    }),

    // ---- standing membership state (packed Bloom filter) -----------------
    // The fourth AggState member under the gate: the train-split VOCABULARY
    // as a standing filter, grown by BLIND bitwise-OR appends (three
    // disjoint corpus slices), probed by the test split's distinct tokens.
    // OR is associative + commutative + idempotent, so grown-via-appends is
    // bit-identical to from-scratch — and the oracle rebuilds the filter's
    // probe-position algebra from the UNION of the slices, so exactly that
    // law (plus the k=3 position math and its false positives) is
    // hash-checked at 3 SFs. The novelty/decontamination screen shape: at
    // 100 TB the filter stays <=16384 packed words per key, broadcasts to
    // every scan task, and ingest cost is O(delta) forever.
    "q283_standing_bloom" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      withStateDir("graft-bloom-state-") { stateDir =>
        val bucket = TrainPrep.splitBucket(col("doc_id"))
        val toks = docs.withColumn("bucket", bucket)
          .select(col("doc_id"), col("bucket"),
            explode(TrainPrep.rawToks(col("text"))).as("tok"))
        val train = toks.filter(col("bucket") < 90)
        AggState.buildBloom(train.filter(col("doc_id") % 3 === 0), Nil, "tok", stateDir)
        AggState.appendBloom(train.filter(col("doc_id") % 3 === 1), Nil, "tok", stateDir)
        AggState.appendBloom(train.filter(col("doc_id") % 3 === 2), Nil, "tok", stateDir)
        val probe = toks.filter(col("bucket") >= 95).select("tok").distinct()
        AggState.bloomMightContain(s, stateDir, probe, Nil, "tok", "might")
          .select(col("tok"), col("might").cast("long").as("in_train_bloom"))
          .orderBy("tok")
      }
    }),

    // ---- incremental SCD2 maintenance ------------------------------------
    // The production dimension-update loop: the pre-cutoff log builds the
    // standing dimension, the post-cutoff batch arrives as a delta, and
    // Merge.scd2Apply folds it in WITHOUT rebuilding — closed versions
    // stream through untouched, each touched key's one open row joins the
    // delta's first run (equal-attr first runs extend it; differing ones
    // close it), delta runs append with shifted version numbers. The
    // oracle is the FROM-SCRATCH build over the full log, so the
    // incremental ≡ rebuild equivalence is hash-checked in the gate
    // itself, not just spec-asserted. Delta-sized cost at any scale.
    "q264_scd2_incremental" -> ((s: SparkSession, dir: String) => {
      val changes = changeLog(s, dir, 1)
      val dim = Merge.scd2(
        changes.filter(expr("ts < TIMESTAMP '2024-01-10 00:00:00'")),
        "user_id", Seq(col("ts"), col("event_id")), "event_type")
      scd2Rows(Merge.scd2Apply(dim,
        changes.filter(expr("ts >= TIMESTAMP '2024-01-10 00:00:00'")),
        "user_id", Seq(col("ts"), col("event_id")), "event_type"))
    }),

    // ---- point-in-time (as-of) read over the SCD2 dimension --------------
    // The consumption side of q255's history: probes (event times shifted
    // +30 min, so answers straddle version boundaries non-trivially) look
    // up the version active at probe time via from <= t < to. Expressed as
    // a keyed join (equi on user_id) with the validity range as a residual
    // predicate — per-key version counts are small and bounded, so the
    // range residual never explodes; at larger per-key histories this is
    // exactly the as-of join shape (AsOfJoinExec / union + last-non-null)
    // the engine already ships for event streams.
    "q265_asof_dimension" -> ((s: SparkSession, dir: String) => {
      val changes = changeLog(s, dir, 0)
      val dim = Merge.scd2(changes, "user_id",
        Seq(col("ts"), col("event_id")), "event_type")
      val probes = changes
        .select(col("user_id"), col("event_id"),
          expr("ts + INTERVAL 30 MINUTES").as("pt"))
      probes.join(dim,
          probes("user_id") === dim("user_id") &&
            dim("effective_from") <= probes("pt") &&
            (dim("effective_to").isNull || probes("pt") < dim("effective_to")))
        .select(probes("user_id"), col("event_id"),
          date_format(col("pt"), "yyyy-MM-dd HH:mm:ss").as("probe_ts"),
          col("version"), col("event_type"))
        .orderBy("user_id", "event_id")
    }),

    // ---- dead-letter routing (malformed-record quarantine) ---------------
    // Ingest robustness: the props JSON column is deterministically
    // corrupted two ways (truncated object for %97 ids, emptied for %101)
    // and every row routes to ok / empty / malformed_json — bad records
    // are QUARANTINED with a reason, never dropped silently and never
    // allowed to fail the batch (from_json PERMISSIVE yields NULL, the
    // row-local verdict classifies). One scan, one keyed aggregate; the
    // DLQ is delta-sized by construction. Cross-engine: the corrupt forms
    // are self-made, so Spark's null-on-parse-failure and DuckDB's
    // json_valid agree on exactly which rows are bad.
    "q266_dead_letter" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .withColumn("props2",
          when(col("event_id") % 97 === 0, expr("substring(props, 2)"))
            .when(col("event_id") % 101 === 0, lit(""))
            .otherwise(col("props")))
        .withColumn("k",
          from_json(col("props2"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
        .withColumn("reason",
          when(length(col("props2")) === 0, "empty")
            .when(col("k").isNull, "malformed_json")
            .otherwise("ok"))
      ev.groupBy("reason")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          coalesce(sum("k"), lit(0L)).cast("long").as("sum_k"))
        .orderBy("reason")
    }),

    // ---- standing DISTINCT-count state (KMV bottom-k) --------------------
    // q257's scalar state can't hold distincts (not algebraic); the
    // mergeable form is a sketch. AggState's KMV member stores the k=16
    // smallest distinct 56-bit hashes per key per slice — bottom-k of a
    // union of bottom-ks IS the bottom-k of the union, so three blind
    // slice appends merge into exactly the from-scratch sketch, and the
    // oracle (which computes the sketch from scratch, q111's idiom)
    // hash-checks that equivalence in the gate. The exact count rides
    // along for the error column (dropped at scale; the sketch is the
    // point).
    "q268_agg_state_distinct" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      withStateDir("graft-agg-distinct-") { stateDir =>
        def slice(r: Int) = docs.filter(col("doc_id") % 3 === r)
          .select(col("source"), explode(TrainPrep.rawToks(col("text"))).as("term"))
        AggState.buildDistinct(slice(0), Seq("source"), "term", stateDir)
        AggState.appendDistinct(slice(1), Seq("source"), "term", stateDir)
        AggState.appendDistinct(slice(2), Seq("source"), "term", stateDir)
        val exact = docs
          .select(col("source"), explode(TrainPrep.rawToks(col("text"))).as("term"))
          .groupBy("source")
          .agg(countDistinct(col("term")).as("n_exact"))
        AggState.mergedDistinct(s, stateDir, Seq("source"))
          .join(exact, Seq("source"))
          .select(col("source"), col("est_distinct"),
            col("n_exact").cast("long").as("n_exact"),
            expr("CAST((abs(est_distinct - n_exact) * 10000) DIV n_exact AS BIGINT)")
              .as("err_bp"))
          .orderBy("source")
      }
    }),

    // ---- standing-state RETRACTION (the CDC delete half) -----------------
    // q257's scalar state with deletes: the doc_id%7==3 slice is retracted
    // after the full build (a blind append of NEGATED n/sum partials —
    // O(|deleted|), no state rewrite). Count and sum are group-invertible,
    // so the merged read must equal a from-scratch aggregate over the
    // SURVIVORS exactly — the oracle IS that survivor aggregate, so the
    // equivalence is hash-checked in the gate. min/max are deliberately
    // not output: they are non-invertible and become documented lifetime
    // bounds once a retraction touches a key (AggState.retract scaladoc).
    "q271_agg_state_retract" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      withStateDir("graft-agg-retract-") { stateDir =>
        val keys = Seq("source", "lang")
        AggState.build(docs.filter(col("doc_id") % 3 === 0), keys, "n_chars", stateDir)
        AggState.append(docs.filter(col("doc_id") % 3 =!= 0), keys, "n_chars", stateDir)
        AggState.retract(docs.filter(col("doc_id") % 7 === 3), keys, "n_chars", stateDir)
        AggState.merged(s, stateDir, keys)
          .select(col("source"), col("lang"), col("n").as("n_docs"),
            col("sum").cast("long").as("sum_chars"))
          .orderBy("source", "lang")
      }
    }),

    // ---- incremental materialized JOIN view (z-set delta maintenance) ----
    // operators/ViewState: orders ⋈ customer kept current as a standing
    // table — each delta batch joins ONLY against the other side's store
    // (bucket-pruned) and appends; nothing is ever re-joined. The slices
    // interleave left and right appends deliberately: the telescoping
    // delta rule must hold for ANY arrival order, and the oracle is the
    // from-scratch join, so the equivalence is hash-checked in the gate.
    // The aggregate reads the view's collapsed multiplicities (sum(mult)
    // weights, not count) — the shape a 100 TB summary table consumes a
    // maintained join through.
    "q273_incr_join_view" -> ((s: SparkSession, dir: String) => {
      withStateDir("graft-join-view-") { stateDir =>
        grownOrderView(s, dir, stateDir)
        segmentStatusTotals(s, stateDir)
      }
    }),

    // ---- view maintenance under DELETES (retraction through the join) ----
    // The z-set payoff: retracting an input row joins the NEGATIVE delta
    // against the other side's current store, cancelling every pair it
    // ever produced — a revoked dimension row takes all its fact pairings
    // with it, no tombstone table, no view rewrite, O(|Δ|) per takedown.
    // Oracle = the join over the SURVIVORS, so grown-with-deletes ≡
    // scratch-on-survivors is hash-checked at every sf.
    "q274_view_retract" -> ((s: SparkSession, dir: String) => {
      withStateDir("graft-view-retract-") { stateDir =>
        val (orders, cust) = grownOrderView(s, dir, stateDir)
        // takedowns: only rows previously ingested (both filters partition
        // the full input, so the %5 / %7 slices were all added above)
        ViewState.retractLeft(s, orders.filter(col("o_orderkey") % 5 === 0), stateDir)
        ViewState.retractRight(s, cust.filter(col("custkey") % 7 === 3), stateDir)
        segmentStatusTotals(s, stateDir)
      }
    }),

    // ---- composed IVM: a summary table maintained over a maintained join -
    // The classic star-schema rollup chain, fully incremental: each
    // ViewState delta (the joined rows just appended, sign included) feeds
    // straight into AggState partials — the summary is maintained without
    // EVER re-running the join OR re-scanning the view. Positive deltas
    // append partials, the retraction's negative delta retracts them
    // (n/sum group-invertible, q271's contract); every delta here carries
    // |__mult| = 1 because base inputs are ingested once. The oracle is
    // the from-scratch aggregate over the join of the survivors, so the
    // WHOLE chain — delta join, delta routing, partial-aggregate fold —
    // is hash-checked end to end at every sf.
    "q278_incr_rollup" -> ((s: SparkSession, dir: String) => withStateDir("graft-rollup-") { root =>
      val vDir = new java.io.File(root, "view").getAbsolutePath
      val aDir = new java.io.File(root, "agg").getAbsolutePath
      val keys = Seq("c_mktsegment")
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("o_cents"))
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      def delta(d: org.apache.spark.sql.DataFrame) =
        d.select(col("c_mktsegment"), col("o_cents"), col("__mult"))
      // r19: one signed-fold write per view delta (row-content-identical
      // to the old append-then-retract pair — AggStateSpec pins it) —
      // halves the per-delta state-write job count
      def fold(d: org.apache.spark.sql.DataFrame): Unit =
        AggState.foldSigned(delta(d), keys, "o_cents", "__mult", aDir)
      ViewState.build(orders.filter(col("o_orderkey") % 3 === 0),
        cust.filter(col("custkey") % 2 === 0), Seq("custkey"), vDir)
      AggState.build(s.read.parquet(s"$vDir/view")
        .select(col("c_mktsegment"), col("o_cents")), keys, "o_cents", aDir)
      fold(ViewState.appendLeft(s, orders.filter(col("o_orderkey") % 3 === 1), vDir))
      fold(ViewState.appendRight(s, cust.filter(col("custkey") % 2 === 1), vDir))
      fold(ViewState.appendLeft(s, orders.filter(col("o_orderkey") % 3 === 2), vDir))
      fold(ViewState.retractLeft(s, orders.filter(col("o_orderkey") % 5 === 0), vDir))
      AggState.merged(s, aDir, keys)
        .select(col("c_mktsegment"), col("n").as("n_orders"),
          col("sum").cast("long").as("sum_cents"))
        .orderBy("c_mktsegment")
    }),

    // ---- Z-order cell assignment (the clustering coordinate) -------------
    // The bit-interleave behind Compaction.zvalue, proved cross-engine:
    // every (l_partkey%16, l_suppkey%16) pair lands in an 8-bit z-cell and
    // the per-cell profile hash-matches DuckDB computing the same integer
    // expression. One partial-aggregated scan; the cell id is pure row-
    // local integer math (codegen'd, no lookup structure).
    "q258_zorder_cells" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy(expr(zCellExpr("div")).cast("long").as("z_cell"))
        .agg(count(lit(1)).as("n_rows"),
          sum("l_quantity").cast("long").as("sum_qty"),
          min("l_partkey").as("min_partkey"),
          max("l_partkey").as("max_partkey"))
        .orderBy("z_cell")
    }),

    // ---- snapshot-diff CDC (the inverse of MERGE) ------------------------
    // operators/Merge.cdcDiff: two keyed snapshots in, the delta-sized
    // replayable change feed out (I/U/D; unchanged rows dropped). The
    // roundtrip law merge(old, cdcDiff(old, new)) == new is spec-proved;
    // here the feed itself is oracle-checked. One full-outer keyed join —
    // the CDC-between-snapshots shape for tables whose source can't emit
    // a change log. 'D' rows carry NULL payload by design (a delete needs
    // only its key); NULLs sit in value columns, never sort keys.
    "q262_snapshot_cdc" -> ((s: SparkSession, dir: String) => {
      val orders = Tables(s, dir, "orders")
      def snap(f: org.apache.spark.sql.Column) = orders.filter(f)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val old = snap(col("o_orderkey") % 10 =!= 0)
      val nw = snap(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 50.0)
            .otherwise(col("o_totalprice")))
      Merge.cdcDiff(old, nw, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    // ---- schema-drift reconciliation (mergeSchema union) -----------------
    // Two parquet generations of one table — an old slice without
    // o_orderpriority, a new slice with it — land in one directory; the
    // read reconciles via mergeSchema (per-file footer union, missing
    // columns NULL-filled) and the query normalizes the gap with an
    // explicit default before aggregating. This is the additive-column
    // evolution every long-lived 100 TB table goes through; the oracle
    // reproduces the same union from the base table, so the reconciled
    // semantics (not just the IO) are hash-checked. Generation writes are
    // deterministic slices — rerunning the query rewrites identical data.
    "q263_schema_drift" -> ((s: SparkSession, dir: String) => withStateDir("graft-schema-drift-") { tmp =>
      val orders = Tables(s, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/gen=1", s"$tmp/gen=2")
        .withColumn("o_orderpriority",
          coalesce(col("o_orderpriority"), lit("UNKNOWN")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("sum_cents"))
        .orderBy("o_orderpriority")
    }),

    // ---- DSIR weights from standing bucket-count state -------------------
    // q296's importance sampler maintained INCREMENTALLY: the per-bucket
    // (target, rest) feature counts are additive, so they live as AggState
    // scalar partials keyed by bucket — ct = sum of the 0/1 target label
    // over feature occurrences, cn = n − sum, both exact BIGINTs under
    // blind slice appends. Three corpus slices land as build + two
    // appends; the merged state feeds q296's scoring half verbatim
    // (TrainPrep.dsirScore), so grown-via-appends ≡ from-scratch is
    // hash-checked — the oracle IS q296's SQL. The production shape: the
    // sampler's count table updates at O(delta) per ingest batch (1024
    // partial rows per slice), never a corpus rescan; retraction works for
    // free (negated partials — count/sum are group-invertible).
    "q300_incr_dsir" -> ((s: SparkSession, dir: String) => {
      // unique per-invocation state dir (the query rebuilds from scratch
      // every call): a fixed hashCode-keyed path raced concurrent runs on
      // build/append/merged and was never cleaned up
      val statePath = java.nio.file.Files.createTempDirectory("graft-dsir-state-")
      val stateDir = statePath.toAbsolutePath.toString
      val feats = TrainPrep.dsirFeats(Tables(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      AggState.build(feats.filter(col("doc_id") % 3 === 0), Seq("bucket"), "tgt", stateDir)
      AggState.append(feats.filter(col("doc_id") % 3 === 1), Seq("bucket"), "tgt", stateDir)
      AggState.append(feats.filter(col("doc_id") % 3 === 2), Seq("bucket"), "tgt", stateDir)
      val bc = AggState.merged(s, stateDir, Seq("bucket"))
        .select(col("bucket"), col("sum").cast("long").as("ct"),
          (col("n") - col("sum")).cast("long").as("cn"))
      val out = TrainPrep.dsirScore(feats, bc).localCheckpoint(eager = true)
      feats.unpersist()
      // the eager checkpoint pinned the output — state files are dead now
      org.apache.commons.io.FileUtils.deleteQuietly(statePath.toFile)
      out.orderBy("doc_id")
    }))

  val oracles: Map[String, String] = Map(
    "q254_merge_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice, o_orderstatus
        |           FROM orders WHERE o_orderkey % 10 <> 0),
        |feed AS (
        |  SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, o_orderstatus,
        |         CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op, 1 AS version
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 200.0, o_orderstatus, 'U', 2
        |  FROM orders WHERE o_orderkey % 12 = 0),
        |c AS (SELECT o_orderkey, o_totalprice, o_orderstatus, op FROM feed
        |      QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) = 1),
        |m AS (SELECT coalesce(t.o_orderkey, c.o_orderkey) AS o_orderkey,
        |        CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_totalprice
        |             ELSE t.o_totalprice END AS o_totalprice,
        |        CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_orderstatus
        |             ELSE t.o_orderstatus END AS o_orderstatus,
        |        CASE WHEN c.o_orderkey IS NULL THEN 'keep'
        |             WHEN t.o_orderkey IS NULL THEN 'insert'
        |             ELSE 'update' END AS action,
        |        c.op AS op, c.o_orderkey AS ck
        |      FROM t FULL OUTER JOIN c ON t.o_orderkey = c.o_orderkey)
        |SELECT o_orderkey, o_totalprice, o_orderstatus, action
        |FROM m WHERE ck IS NULL OR op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,

    "q255_scd2" ->
      """WITH ch AS (SELECT user_id, ts, event_id, event_type
        |            FROM events WHERE user_id % 7 = 0),
        |r AS (SELECT *, CASE WHEN row_number() OVER w = 1 THEN 1
        |                     WHEN event_type = lag(event_type) OVER w THEN 0
        |                     ELSE 1 END AS chg
        |      FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS run
        |      FROM r),
        |v AS (SELECT user_id, run, min(event_type) AS event_type,
        |        min(ts) AS eff_from, count(*) AS n_changes
        |      FROM s GROUP BY user_id, run),
        |f AS (SELECT user_id, event_type, eff_from, n_changes,
        |        lead(eff_from) OVER (PARTITION BY user_id ORDER BY run) AS eff_to,
        |        row_number() OVER (PARTITION BY user_id ORDER BY run) AS version
        |      FROM v)
        |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
        |  strftime(eff_from, '%Y-%m-%d %H:%M:%S') AS effective_from,
        |  coalesce(strftime(eff_to, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00')
        |    AS effective_to,
        |  CAST(n_changes AS BIGINT) AS n_changes,
        |  CAST(CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM f ORDER BY user_id, version""".stripMargin,

    "q256_expectations" ->
      """WITH a AS (SELECT
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v_notnull_orderkey,
        |    count(*) - count(DISTINCT coalesce(l_orderkey::VARCHAR, '<null>')
        |      || '|' || coalesce(l_linenumber::VARCHAR, '<null>'))
        |      AS v_unique_pk,
        |    sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.05 THEN 1 ELSE 0 END)
        |      AS v_range_discount,
        |    sum(CASE WHEN l_quantity <= 0.0 THEN 1 ELSE 0 END) AS v_positive_qty,
        |    CASE WHEN strftime(max(l_shipdate), '%Y-%m-%d') < '2001-01-01'
        |         THEN 1 ELSE 0 END AS v_freshness
        |  FROM lineitem),
        |r AS (SELECT count(*) AS v_ref_orders FROM lineitem l
        |      ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |u AS (
        |  SELECT 'notnull_orderkey' AS check_name, v_notnull_orderkey AS violations FROM a
        |  UNION ALL SELECT 'unique_pk', v_unique_pk FROM a
        |  UNION ALL SELECT 'range_discount_le_5pct', v_range_discount FROM a
        |  UNION ALL SELECT 'positive_quantity', v_positive_qty FROM a
        |  UNION ALL SELECT 'freshness_shipdate', v_freshness FROM a
        |  UNION ALL SELECT 'ref_orderkey_in_orders', v_ref_orders FROM r)
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM u ORDER BY check_name""".stripMargin,

    // the from-scratch join — hash equality proves the maintained view's
    // telescoping delta sum collapses to exactly L ⋈ R
    "q273_incr_join_view" ->
      """SELECT c_mktsegment, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderstatus
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin,

    // the join over the SURVIVORS — grown-with-deletes ≡ scratch-on-
    // survivors for the maintained view
    "q274_view_retract" ->
      """SELECT c_mktsegment, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 5 <> 0 AND c_custkey % 7 <> 3
        |GROUP BY c_mktsegment, o_orderstatus
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin,

    // the from-scratch aggregate over the join of the survivors — the
    // composed delta chain (join deltas -> partial-aggregate folds) must
    // land exactly here
    "q278_incr_rollup" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 5 <> 0
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q271_agg_state_retract" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 7 != 3
        |GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    // q283: the oracle rebuilds the Bloom from the UNION of the appended
    // slices (= the train split) and replays the k=3 probe-position math,
    // so blind-append merge ≡ from-scratch AND the exact pass set (false
    // positives included) are both hash-checked.
    "q283_standing_bloom" ->
      """WITH s AS (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN []
        |        ELSE string_split_regex(lower(trim(text)), '\s+') END AS w,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket
        |  FROM documents),
        |tr AS (SELECT DISTINCT unnest(w) AS tok FROM s WHERE bucket < 90),
        |js AS (SELECT unnest([0, 1, 2]) AS j),
        |trpos AS (SELECT DISTINCT
        |    (('0x' || substr(md5(tok), 1, 8))::BIGINT
        |     * CASE j WHEN 0 THEN 1000003 WHEN 1 THEN 1000033 ELSE 1000037 END
        |     + j) % 1048573 AS pos
        |  FROM tr, js),
        |te AS (SELECT DISTINCT unnest(w) AS tok FROM s WHERE bucket >= 95),
        |tep AS (SELECT tok,
        |    (('0x' || substr(md5(tok), 1, 8))::BIGINT
        |     * CASE j WHEN 0 THEN 1000003 WHEN 1 THEN 1000033 ELSE 1000037 END
        |     + j) % 1048573 AS pos
        |  FROM te, js),
        |m AS (SELECT tok, count(trpos.pos) AS nm
        |      FROM tep LEFT JOIN trpos ON tep.pos = trpos.pos
        |      GROUP BY tok)
        |SELECT tok,
        |  CAST(CASE WHEN nm = 3 THEN 1 ELSE 0 END AS BIGINT) AS in_train_bloom
        |FROM m ORDER BY tok""".stripMargin,

    "q257_agg_state" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    "q258_zorder_cells" ->
      s"""SELECT CAST(${zCellExpr("//")} AS BIGINT) AS z_cell,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         |  min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
         |FROM lineitem GROUP BY 1 ORDER BY z_cell""".stripMargin,

    "q262_snapshot_cdc" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus
        |           FROM orders WHERE o_orderkey % 10 <> 0),
        |n AS (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 50.0
        |             ELSE o_totalprice END AS o_totalprice,
        |        o_orderstatus
        |      FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |        n.o_totalprice AS n_price, n.o_orderstatus AS n_status,
        |        CASE WHEN n.o_orderkey IS NULL THEN 'D'
        |             WHEN o.o_orderkey IS NULL THEN 'I'
        |             WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |               OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'U'
        |        END AS op
        |      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, n_price AS o_totalprice, n_status AS o_orderstatus, op
        |FROM j WHERE op IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "q263_schema_drift" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT coalesce(o_orderpriority, 'UNKNOWN') AS o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM u GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    // the from-scratch SCD2 build over the FULL log — hash equality proves
    // the Spark side's incremental scd2Apply ≡ rebuild
    "q264_scd2_incremental" ->
      """WITH ch AS (SELECT user_id, ts, event_id, event_type
        |            FROM events WHERE user_id % 7 = 1),
        |r AS (SELECT *, CASE WHEN row_number() OVER w = 1 THEN 1
        |                     WHEN event_type = lag(event_type) OVER w THEN 0
        |                     ELSE 1 END AS chg
        |      FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS run
        |      FROM r),
        |v AS (SELECT user_id, run, min(event_type) AS event_type,
        |        min(ts) AS eff_from, count(*) AS n_changes
        |      FROM s GROUP BY user_id, run),
        |f AS (SELECT user_id, event_type, eff_from, n_changes,
        |        lead(eff_from) OVER (PARTITION BY user_id ORDER BY run) AS eff_to,
        |        row_number() OVER (PARTITION BY user_id ORDER BY run) AS version
        |      FROM v)
        |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
        |  strftime(eff_from, '%Y-%m-%d %H:%M:%S') AS effective_from,
        |  coalesce(strftime(eff_to, '%Y-%m-%d %H:%M:%S'), '9999-12-31 00:00:00')
        |    AS effective_to,
        |  CAST(n_changes AS BIGINT) AS n_changes,
        |  CAST(CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM f ORDER BY user_id, version""".stripMargin,

    "q265_asof_dimension" ->
      """WITH ch AS (SELECT user_id, ts, event_id, event_type
        |            FROM events WHERE user_id % 7 = 0),
        |r AS (SELECT *, CASE WHEN row_number() OVER w = 1 THEN 1
        |                     WHEN event_type = lag(event_type) OVER w THEN 0
        |                     ELSE 1 END AS chg
        |      FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS run
        |      FROM r),
        |v AS (SELECT user_id, run, min(event_type) AS event_type,
        |        min(ts) AS eff_from
        |      FROM s GROUP BY user_id, run),
        |dim AS (SELECT user_id, event_type, eff_from,
        |          lead(eff_from) OVER (PARTITION BY user_id ORDER BY run) AS eff_to,
        |          row_number() OVER (PARTITION BY user_id ORDER BY run) AS version
        |        FROM v),
        |p AS (SELECT user_id, event_id, ts + INTERVAL 30 MINUTE AS pt FROM ch)
        |SELECT p.user_id, p.event_id,
        |  strftime(p.pt, '%Y-%m-%d %H:%M:%S') AS probe_ts,
        |  CAST(dim.version AS BIGINT) AS version, dim.event_type
        |FROM p JOIN dim ON p.user_id = dim.user_id
        |  AND dim.eff_from <= p.pt
        |  AND (dim.eff_to IS NULL OR p.pt < dim.eff_to)
        |ORDER BY p.user_id, p.event_id""".stripMargin,

    "q266_dead_letter" ->
      """WITH e AS (SELECT *, CASE WHEN event_id % 97 = 0 THEN substr(props, 2)
        |                          WHEN event_id % 101 = 0 THEN ''
        |                          ELSE props END AS props2 FROM events),
        |c AS (SELECT event_id, user_id,
        |        CASE WHEN length(props2) = 0 THEN 'empty'
        |             WHEN NOT json_valid(props2) THEN 'malformed_json'
        |             ELSE 'ok' END AS reason,
        |        CASE WHEN length(props2) > 0 AND json_valid(props2)
        |             THEN CAST(json_extract(props2, '$.k') AS BIGINT) END AS k
        |      FROM e)
        |SELECT reason, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k
        |FROM c GROUP BY reason ORDER BY reason""".stripMargin,

    "q268_agg_state_distinct" ->
      """WITH t AS (SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS w
        |  FROM documents),
        |exd AS (SELECT DISTINCT source, term
        |        FROM (SELECT source, unnest(w) AS term FROM t)),
        |h AS (SELECT source, ('0x' || substr(md5(term), 1, 14))::BIGINT AS h
        |      FROM exd),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM h GROUP BY source),
        |bk AS (SELECT source, h,
        |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |       FROM h),
        |kk AS (SELECT source, max(CASE WHEN rn = 16 THEN h END) AS h_k,
        |         CAST(count(*) AS BIGINT) AS k_got
        |       FROM bk WHERE rn <= 16 GROUP BY source),
        |e AS (SELECT st.source, st.n_exact,
        |        CAST(CASE WHEN kk.k_got < 16 THEN kk.k_got
        |             ELSE (15 * 72057594037927936) // kk.h_k END AS BIGINT)
        |          AS est_distinct
        |      FROM st JOIN kk USING (source))
        |SELECT source, est_distinct, n_exact,
        | CAST((abs(est_distinct - n_exact) * 10000) // n_exact AS BIGINT) AS err_bp
        |FROM e ORDER BY source""".stripMargin) +
    // the standing-state DSIR must answer exactly like the from-scratch
    // q296 — the equivalence IS the gate (the q190/q280 precedent)
    ("q300_incr_dsir" -> TrainPrep.oracles("q296_dsir_weights"))
}
