package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Typed event row for the stateful operators. */
case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double)

/** Accumulated per-user state (the `UserTotalsProcessor` value). */
case class UserState(n_events: Long, total_value: Double) {
  /** This state with one more event counted and its value added. */
  def plus(e: EventRow): UserState = UserState(n_events + 1, total_value + e.value)
}

/** Per-batch emission of the running per-user totals. */
case class UserUpdate(user_id: Long, n_events: Long, total_value: Double)

/** Structured-Streaming surface (SURVEY.md §2.10). The reference has no
  * streaming code — its temporal behavior is schedule-driven daily batch —
  * so these are spec-by-test operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props):
  *
  *  - `hourlyAgg`: tumbling-window counts/sums with a watermark — the
  *    incremental form of the audit's "synced today" daily-window predicate
  *    (`app.py:160,180`); run with `Trigger.AvailableNow` for the
  *    cron-equivalent batch.
  *  - `dedupedRequests`: stateful duplicate suppression within the
  *    watermark — the streaming analog of the reference's memo dict
  *    (`app.py:112`) + retry-idempotency (`sync_app3.py:65`).
  *
  * Both operate on an unbounded source with bounded state: the watermark
  * caps state size, which is what makes them viable on a 100 TB/day stream.
  * Late data beyond the watermark is dropped (Spark default; documented in
  * tests — no reference analog exists).
  */
object EventsPipeline {

  /** State-partition count from expected key cardinality (VERDICT r12 #7).
    *
    * The r11 transformWithState profile grid (SURVEY §8 "Streaming
    * throughput pass") measured ~30 ms PER STATE PARTITION PER BATCH of
    * RocksDB store lifecycle (open/commit — paid even by
    * zero-key partitions) on top of a ~140 ms stateless micro-batch
    * floor, and the width is FROZEN at the query's first start
    * (`spark.sql.shuffle.partitions` at that moment). So oversizing
    * taxes every batch forever and undersizing serializes per-key work.
    * Two regimes:
    *
    *  - few keys (≤ available cores): one partition per key — more
    *    partitions are pure fixed cost, fewer serialize keys behind one
    *    store;
    *  - many keys: cores bound the parallelism win, so width stays at
    *    `cores` until per-store key load crosses `keysPerPartition`
    *    (RocksDB handles thousands of keys per store cheaply — the
    *    default 4096 keeps stores comfortably sized long before per-key
    *    cost rivals the 30 ms fixed cost), then grows as
    *    ceil(keys / keysPerPartition).
    *
    * When the expected per-batch VOLUME is known, pass `rowsPerBatch`:
    * below ~50k rows/partition the 30 ms store fixed cost outweighs the
    * parallelism win, so width is additionally capped at
    * ceil(rowsPerBatch / rowsPerPartitionBudget). Measured on the
    * running-quantiles processor, local[32], 20k-row batches, changelog
    * on: 71.7k rows/s at width 1 vs 59.2k at 4, 44.6k at 8, 22.5k at 32
    * — monotone in favor of narrow width until per-partition volume
    * amortizes the store lifecycle. Left unknown (-1), the per-key rule
    * stands (the 100 TB stream's batches are assumed large).
    *
    * Per-batch fixed-cost budget check: partitions × 30 ms must fit the
    * trigger interval comfortably — at the default 4096 a 1M-key stream
    * sizes to max(cores, 245), ~7.4 s of store lifecycle per batch
    * spread across the cluster's cores. */
  def statePartitionsFor(expectedKeys: Long, cores: Int,
      keysPerPartition: Long = 4096L, rowsPerBatch: Long = -1L,
      rowsPerPartitionBudget: Long = 50000L): Int = {
    require(cores >= 1, s"cores must be >= 1: $cores")
    require(keysPerPartition >= 1, s"keysPerPartition must be >= 1: $keysPerPartition")
    require(rowsPerPartitionBudget >= 1,
      s"rowsPerPartitionBudget must be >= 1: $rowsPerPartitionBudget")
    // storage floor: stores must not exceed keysPerPartition keys each
    val floor = math.max(1L,
      (expectedKeys + keysPerPartition - 1) / keysPerPartition)
    val byKeys =
      if (expectedKeys <= 1) 1L
      else if (expectedKeys <= cores) expectedKeys
      else math.max(cores.toLong, floor)
    val byVolume =
      if (rowsPerBatch < 0) byKeys
      else math.max(1L,
        (rowsPerBatch + rowsPerPartitionBudget - 1) / rowsPerPartitionBudget)
    math.max(floor, math.min(byKeys, byVolume)).toInt
  }

  /** Tumbling 1-hour windowed aggregation per event type. */
  def hourlyAgg(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** At-most-once per key within the watermark (sync-request idempotency). */
  def dedupedRequests(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state on the Spark 4 arbitrary-state API
    * (`transformWithState`): running per-user totals that survive across
    * micro-batches, through a `StatefulProcessor` with a named
    * `ValueState` — typed state handles, per-state TTL and timers, on the
    * RocksDB state store (state larger than executor memory spills to
    * disk — the 100 TB-stream requirement). State is per-key and bounded
    * by the key cardinality. */
  class UserTotalsProcessor extends StatefulProcessor[Long, EventRow, UserUpdate] {
    @transient private var state: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState](
        "totals", Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                 timerValues: TimerValues): Iterator[UserUpdate] = {
      val next = rows.foldLeft(if (state.exists()) state.get() else UserState(0L, 0.0))(_ plus _)
      state.update(next)
      Iterator(UserUpdate(key, next.n_events, next.total_value))
    }
  }

  def userRunningStats(events: Dataset[EventRow]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** A closed per-user session: emitted ONLY when the event-time timer
    * fires (watermark passes last event + gap). */
  case class ClosedSession(user_id: Long, n_events: Long, total_value: Double)

  /** Event-time TIMERS on the transformWithState API: a session closes —
    * and its summary is emitted — when the watermark passes the user's last
    * event plus `gapMs`. `session_window` (sessionAgg) can only aggregate
    * within the session; a timer can run arbitrary logic at expiry (emit,
    * clear, re-arm), which is what operational timeouts (the audit's
    * "didn't sync today" deadline, `app.py:160,180`, as a push
    * notification rather than a daily poll) need. One timer per key:
    * re-arming deletes the previous one; expiry clears all state, so state
    * size stays ≤ one (UserState + timer + high-water ts) per active user.
    */
  class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, EventRow, ClosedSession] {
    @transient private var agg: ValueState[UserState] = _
    @transient private var armed: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[UserState](
        "session", Encoders.product[UserState], TTLConfig.NONE)
      armed = getHandle.getValueState[Long](
        "armedAt", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[EventRow],
                                 timerValues: TimerValues): Iterator[ClosedSession] = {
      var st = if (agg.exists()) agg.get() else UserState(0L, 0.0)
      var lastTs = Long.MinValue
      rows.foreach { e => st = st.plus(e); lastTs = math.max(lastTs, e.ts.getTime) }
      agg.update(st)
      // `armed` is the high-water expiry (high-water ts + gap). A later
      // micro-batch can deliver an OLDER but still-within-watermark event;
      // re-arming at that event's ts would pull the deadline backwards and
      // close the session before last-event + gap — never regress the timer.
      val prevExpiry = if (armed.exists()) armed.get() else Long.MinValue
      val expiry = math.max(prevExpiry, lastTs + gapMs)
      if (expiry != prevExpiry) {
        if (prevExpiry != Long.MinValue) getHandle.deleteTimer(prevExpiry)
        getHandle.registerTimer(expiry)
        armed.update(expiry)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val st = if (agg.exists()) Some(agg.get()) else None
      agg.clear(); armed.clear()
      st.map(s => ClosedSession(key, s.n_events, s.total_value)).iterator
    }
  }

  /** Sessions closed by event-time timers; input must carry a watermark on
    * `ts` (timer expiry is driven by the watermark). */
  def timedOutSessions(events: Dataset[EventRow], gapMs: Long = 30L * 60 * 1000,
                       watermark: String = "10 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.toDF().withWatermark("ts", watermark).as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** A closed drift-monitor bucket: the bucket's event count scored
    * against the running Welford statistics of all PREVIOUS closed
    * buckets for the same event type. `z` is 0 during warm-up (fewer
    * than three reference buckets — a two-point variance estimate flags
    * ordinary jitter) or while variance is 0; `alert` fires on |z| above
    * the monitor's threshold. */
  case class DriftAlert(event_type: String, bucket_start: Long, n: Long,
      ref_windows: Long, ref_mean: Double, z: Double, alert: Boolean)

  // PUBLIC on purpose: a private state case class sends Encoders.product
  // through the interpreted-eval fallback ("Expr codegen error and falling
  // back to interpreter"), paying interpreted serialization on every
  // st.get/st.update — measured as part of the r15 drift-throughput gap
  case class DriftState(curBucket: Long, curN: Long,
      nW: Long, mean: Double, m2: Double)

  /** Running quantile emission per key (cents scale, q219's measure). */
  case class QuantileUpdate(event_type: String, n: Long,
      p50_est: Long, p90_est: Long, p99_est: Long)

  case class QuantileState(counts: Array[Long])

  /** Streaming drift/anomaly monitor — q108's z-score detector as a live
    * stream (the alerting form of q179's drift report): per event type,
    * bucket counts accumulate in O(1) state; when a later bucket's first
    * row arrives, the finished bucket is scored against the running
    * mean/variance (Welford) of the type's history and emitted, then
    * folded into that history. State per key is ONE fixed-size record
    * regardless of stream length — the 100 TB-stream requirement. Rows
    * are processed in ts order within each batch; cross-batch stragglers
    * older than the open bucket are counted into it rather than
    * re-opening closed history (bounded staleness by construction — see
    * [[driftAlerts]] on why no watermark node is planted — a documented
    * divergence from an exact batch recount).
    * Quiet periods close through the same path: every empty bucket
    * between the last observed one and a new row's bucket is scored and
    * Welford-folded as count 0, so silence both alerts (once stats are
    * warm) and depresses the reference mean the way a batch recount
    * over the full timeline would. A gap only closes when a LATER row
    * arrives for the key — a stream that dies emits no final alert
    * (data-driven closing; a timer variant would trade that for clock
    * coupling). */
  class DriftProcessor(bucketMs: Long, zThresh: Double)
      extends StatefulProcessor[String, EventRow, DriftAlert] {
    // bound on zero-count buckets synthesized per bucket advance: generous
    // enough for any sane quiet period (a week of minute buckets), small
    // enough that corrupt future timestamps can't stall the batch
    private val MaxGapBuckets = 10000L
    @transient private var st: ValueState[DriftState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[DriftState](
        "drift", Encoders.product[DriftState], TTLConfig.NONE)

    private def close(key: String, s: DriftState): (DriftAlert, DriftState) = {
      val (z, alert) =
        if (s.nW >= 3 && s.m2 > 0.0) {
          val sd = math.sqrt(s.m2 / (s.nW - 1).toDouble)
          val zz = (s.curN.toDouble - s.mean) / sd
          (zz, math.abs(zz) > zThresh)
        } else (0.0, false)
      val out = DriftAlert(key, s.curBucket * bucketMs, s.curN, s.nW, s.mean, z, alert)
      // Welford fold of the closed bucket into the reference stats
      val n1 = s.nW + 1
      val d = s.curN.toDouble - s.mean
      val mean1 = s.mean + d / n1.toDouble
      val m21 = s.m2 + d * (s.curN.toDouble - mean1)
      (out, DriftState(0L, 0L, n1, mean1, m21))
    }

    override def handleInputRows(key: String, rows: Iterator[EventRow],
                                 timerValues: TimerValues): Iterator[DriftAlert] = {
      // Hot path discipline (r15 drift-throughput work): the only thing a
      // row contributes is its BUCKET, so reduce each row to one primitive
      // long up front, sort primitives (no per-comparison Timestamp
      // virtual calls or boxing), and carry the state through the loop as
      // LOCAL PRIMITIVES — the previous form allocated a 5-field
      // DriftState copy per row, which at 20k-row batches was pure GC
      // pressure. The case class is materialized exactly once per batch
      // (the st.update), and per close for the Welford fold.
      val buckets = rows.map(_.ts.getTime / bucketMs).toArray
      if (buckets.isEmpty) return Iterator.empty
      java.util.Arrays.sort(buckets)
      var has = st.exists()
      var curBucket = 0L; var curN = 0L
      var nW = 0L; var mean = 0.0; var m2 = 0.0
      if (has) {
        val s0 = st.get()
        curBucket = s0.curBucket; curN = s0.curN
        nW = s0.nW; mean = s0.mean; m2 = s0.m2
      }
      val out = Seq.newBuilder[DriftAlert]
      // close the open bucket: emit its alert, Welford-fold it into the
      // reference stats, zero the current counters
      def closeCur(bucketOf: Long, n: Long): Unit = {
        val (alert, folded) = close(key, DriftState(bucketOf, n, nW, mean, m2))
        out += alert
        nW = folded.nW; mean = folded.mean; m2 = folded.m2
      }
      var i = 0
      while (i < buckets.length) {
        val b = buckets(i)
        if (!has) { has = true; curBucket = b; curN = 1L }
        else if (b > curBucket) {
          closeCur(curBucket, curN)
          // quiet-period buckets between the closed one and b: each EMPTY
          // bucket is scored (a drop to zero against an established mean
          // is exactly the anomaly a drift monitor must catch) and folded
          // into the reference stats, so a gap neither vanishes from the
          // history nor suppresses the dead-stream alert. The synthesis is
          // CAPPED: the watermark bounds lateness but nothing bounds
          // future skew, and one corrupt far-future timestamp must not
          // spin this loop for millions of buckets and flood the output —
          // beyond MaxGapBuckets the remaining gap is skipped (the jump is
          // visible in the emitted bucket_start sequence).
          var g = curBucket + 1
          val gEnd = math.min(b, curBucket + 1 + MaxGapBuckets)
          while (g < gEnd) {
            closeCur(g, 0L)
            g += 1
          }
          // buckets beyond the emission cap are not alert-scored (that is
          // the flood bound), but their zero counts ARE folded into the
          // reference stats in closed form — Chan's pairwise merge of
          // (rem, mean 0, M2 0) into (nW, mean, m2) — so the running
          // mean/variance stay recount-equivalent even across an extreme
          // gap or one far-future timestamp; only the alert stream shows
          // the bucket_start jump
          val rem = b - gEnd
          if (rem > 0L) {
            val n1 = nW + rem
            val d0 = 0.0 - mean
            mean = mean + d0 * rem.toDouble / n1.toDouble
            m2 = m2 + d0 * d0 * nW.toDouble * rem.toDouble / n1.toDouble
            nW = n1
          }
          curBucket = b; curN = 1L
        } else curN += 1L // current bucket or straggler
        i += 1
      }
      if (has) st.update(DriftState(curBucket, curN, nW, mean, m2))
      out.result().iterator
    }
  }

  /** Running quantile estimates per key — the histogram sketch (the batch
    * `hist_regs` aggregate, q219) kept live in stream state: each batch's
    * values fold into a 248-bucket count array per event type, and the
    * CURRENT p50/p90/p99 estimates are emitted after every batch. State
    * per key is one fixed ~2 KB array regardless of stream length, and
    * the estimates are bit-identical to running the batch aggregate over
    * everything seen so far (shared bucket + quantile-walk code) — the
    * re-run-from-scratch equivalence that makes a streaming monitor
    * trustworthy. */
  class QuantileProcessor
      extends StatefulProcessor[String, EventRow, QuantileUpdate] {
    import org.apache.spark.sql.graft.HistRegs
    @transient private var st: ValueState[QuantileState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[QuantileState](
        "hist", Encoders.product[QuantileState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[EventRow],
                                 timerValues: TimerValues): Iterator[QuantileUpdate] = {
      val buf = if (st.exists()) st.get().counts.clone()
        else new Array[Long](HistRegs.Buckets)
      rows.foreach { e =>
        // the q219 measure: non-negative integer cents
        buf(HistRegs.bucketOf(math.round(e.value * 100.0))) += 1L
      }
      st.update(QuantileState(buf))
      val (n, p50, p90, p99) = HistRegs.quantiles(buf)
      Iterator(QuantileUpdate(key, n, p50, p90, p99))
    }
  }

  /** Per-type running value quantiles (sketch state, O(1) per key). */
  def runningQuantiles(events: Dataset[EventRow]): Dataset[QuantileUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new QuantileProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-type drift alerts over tumbling `bucketMs` buckets.
    *
    * NO WATERMARK on purpose (the r15 drift-throughput fix): under
    * `TimeMode.None` the processor uses no timers, emits no event-time
    * column, and nothing stateful runs downstream — the EventTimeWatermark
    * node contributed no semantics while costing 25-40% of throughput
    * (A/B at 20k-row batches: 26.0k rows/s with `toDF.withWatermark.as`,
    * 32.7k with a direct watermark, 44.6k without — quantiles 43.6k as
    * the in-run control). Staleness is bounded by the processor itself:
    * stragglers older than the open bucket fold INTO it rather than
    * re-opening closed history, so lateness never corrupts emitted
    * alerts. A deployment that chains a downstream stateful operator on
    * the alert stream adds its own watermark on the alert timestamps. */
  def driftAlerts(events: Dataset[EventRow], bucketMs: Long = 3600L * 1000,
                  zThresh: Double = 2.0): Dataset[DriftAlert] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new DriftProcessor(bucketMs, zThresh),
        TimeMode.None(), OutputMode.Append())
  }

  /** Stream-stream inner join with watermarks: each purchase joined to the
    * views of the same user in the preceding hour. Both sides carry a
    * watermark and the join condition bounds the event-time range, so
    * Spark can expire buffered state — the requirement that makes
    * stream-stream joins viable unbounded (state ≈ one hour of views).
    * The batch analog is the as-of/interval-join family (q48/q58). */
  def purchasesWithRecentViews(purchases: DataFrame, views: DataFrame,
                               watermark: String = "2 hours"): DataFrame =
    recentViewJoin(purchases, views, watermark, "inner")

  /** LEFT OUTER stream-stream join: every purchase emits — matched rows as
    * they pair up, UNMATCHED purchases only once the watermark passes the
    * end of their match window (Spark must prove no qualifying view can
    * still arrive before it may emit the null row). This is the streaming
    * form of the attribution query's "organic purchase" arm (q122's
    * unattributed rows); the inner form above silently drops them. Same
    * event-time bounds, so view state still expires. */
  def purchasesWithViewOrOrganic(purchases: DataFrame, views: DataFrame,
                                 watermark: String = "2 hours"): DataFrame =
    recentViewJoin(purchases, views, watermark, "left_outer")
      .select(col("p_id"), col("p_user"), col("p_ts"), col("v_id"),
        col("v_id").isNull.as("organic"))

  /** Each purchase (p_id, p_user, p_ts) `joinType`-joined with the views
    * (v_id, v_user, v_ts) of its user in the hour before it, both sides
    * under `watermark`. */
  private def recentViewJoin(purchases: DataFrame, views: DataFrame,
      watermark: String, joinType: String): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val v = views.withWatermark("ts", watermark)
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") < col("p_ts"),
      joinType)
  }

  /** Stream-static enrichment: the event stream left-joined to a static
    * dimension. Completes the streaming join family next to the
    * stream-stream join — stream-static needs NO watermark and NO state
    * store (the static side is just broadcast per micro-batch), which is
    * why it's the default shape for attaching reference data at scale. */
  def enrichedEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** Session windows per user: a session closes after `gap` of inactivity —
    * the streaming form of q26's batch sessionization. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))
}
