package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventsPipeline

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Structured-Streaming slice (SURVEY.md §2.10): watermarked tumbling-window
  * aggregation and stateful dedup within watermark, driven synchronously
  * through MemoryStream. Late-data drop is asserted explicitly (Spark
  * default; no reference analog — spec-by-test). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("hourly windowed agg with watermark emits finalized windows") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsPipeline.hourlyAgg(in.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("hourly").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(2, t("2024-01-01 10:45:00"), 1, "click", 2.0),
        Ev(3, t("2024-01-01 11:10:00"), 2, "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to finalize the 10:00 and 11:00 windows
      in.addData(Ev(4, t("2024-01-01 14:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // a late event behind the watermark must be dropped
      in.addData(Ev(5, t("2024-01-01 10:50:00"), 9, "click", 100.0))
      q.processAllAvailable()
      in.addData(Ev(6, t("2024-01-01 18:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .selectExpr("cast(hour_start as string)", "event_type", "n", "total_value")
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 3.0))) // late ev5 NOT counted
      assert(rows.contains(("2024-01-01 11:00:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("session windows close after the inactivity gap") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsPipeline.sessionAgg(in.toDF(), gap = "30 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, t("2024-01-01 10:10:00"), 1, "click", 2.0), // same session
        Ev(3, t("2024-01-01 11:30:00"), 1, "click", 4.0)) // new session (gap > 30m)
      q.processAllAvailable()
      in.addData(Ev(4, t("2024-01-01 15:00:00"), 2, "click", 0.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .selectExpr("cast(session_start as string)", "user_id", "n_events", "total_value")
        .as[(String, Long, Long, Double)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", 1L, 2L, 3.0)))
      assert(rows.contains(("2024-01-01 11:30:00", 1L, 1L, 4.0)))
    } finally q.stop()
  }

  /** Run `body` on the RocksDB state store, which transformWithState
    * needs, restoring the session's provider afterwards. */
  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("transformWithState (RocksDB store) keeps running totals across micro-batches") {
    implicit val sc = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[graft.streaming.EventRow]
      val q = EventsPipeline.userRunningStats(in.toDS())
        .writeStream.format("memory").queryName("running_tws").outputMode("update")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        in.addData(
          graft.streaming.EventRow(1, t("2024-01-01 10:00:00"), 1, "click", 1.0),
          graft.streaming.EventRow(2, t("2024-01-01 10:01:00"), 1, "click", 2.0))
        q.processAllAvailable()
        in.addData(graft.streaming.EventRow(3, t("2024-01-01 10:02:00"), 1, "click", 4.0))
        q.processAllAvailable()
        val updates = spark.table("running_tws").as[graft.streaming.UserUpdate]
          .collect().map(u => (u.n_events, u.total_value)).toSet
        // batch 1 emits (2, 3.0); batch 2 emits the carried-forward (3, 7.0)
        assert(updates == Set((2L, 3.0), (3L, 7.0)))
      } finally q.stop()
    }
  }

  test("running quantiles: stream state matches the batch sketch after every batch") {
    import org.apache.spark.sql.graft.HistRegs
    implicit val sc = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[graft.streaming.EventRow]
      val q = EventsPipeline.runningQuantiles(in.toDS())
        .writeStream.format("memory").queryName("rq").outputMode("update")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        val vals1 = Seq(1.0, 2.5, 7.0, 31.23, 99.99, 4.0)
        val vals2 = Seq(1000.0, 0.02, 55.5, 7.0)
        var id = 0L
        def rows(vs: Seq[Double]) = vs.map { v =>
          id += 1
          graft.streaming.EventRow(id, t("2024-01-01 00:00:00"), 1, "view", v)
        }
        in.addData(rows(vals1)); q.processAllAvailable()
        in.addData(rows(vals2)); q.processAllAvailable()
        // the last update must equal a from-scratch batch fold of ALL values
        val expectBuf = new Array[Long](HistRegs.Buckets)
        (vals1 ++ vals2).foreach(v => expectBuf(HistRegs.bucketOf(math.round(v * 100.0))) += 1)
        val (n, p50, p90, p99) = HistRegs.quantiles(expectBuf)
        val last = spark.table("rq")
          .as[graft.streaming.EventsPipeline.QuantileUpdate]
          .collect().filter(_.event_type == "view").maxBy(_.n)
        assert(last.n == n && n == (vals1.size + vals2.size).toLong)
        assert((last.p50_est, last.p90_est, last.p99_est) == ((p50, p90, p99)),
          s"stream $last != batch ($p50, $p90, $p99)")
        // and the intermediate emission covered exactly batch 1
        val mid = spark.table("rq")
          .as[graft.streaming.EventsPipeline.QuantileUpdate]
          .collect().filter(_.event_type == "view").minBy(_.n)
        assert(mid.n == vals1.size.toLong)
      } finally q.stop()
    }
  }

  test("drift monitor: spike bucket alerts against the running per-type stats") {
    implicit val sc = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[graft.streaming.EventRow]
      val q = EventsPipeline.driftAlerts(in.toDS(), bucketMs = 3600L * 1000,
          zThresh = 2.0)
        .writeStream.format("memory").queryName("drift").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        var id = 0L
        def add(hour: Int, nView: Int, nClick: Int): Unit = {
          val rows = (0 until nView).map { i =>
            id += 1
            graft.streaming.EventRow(id, t(f"2024-01-01 $hour%02d:00:${i % 60}%02d"),
              1, "view", 1.0)
          } ++ (0 until nClick).map { i =>
            id += 1
            graft.streaming.EventRow(id, t(f"2024-01-01 $hour%02d:30:${i % 60}%02d"),
              2, "click", 1.0)
          }
          in.addData(rows)
          q.processAllAvailable()
        }
        // five steady view-hours (4,5,6,5,6), clicks flat at 3
        add(0, 4, 3); add(1, 5, 3); add(2, 6, 3); add(3, 5, 3); add(4, 6, 3)
        // the spike hour, then one more hour so the spike bucket CLOSES
        add(5, 40, 3); add(6, 5, 3)
        val alerts = spark.table("drift").as[graft.streaming.EventsPipeline.DriftAlert]
          .collect()
        val views = alerts.filter(_.event_type == "view").sortBy(_.bucket_start)
        // hours 0..5 closed (6 is still open); scoring starts once 3+
        // reference buckets exist (warm-up)
        assert(views.length == 6)
        assert(views.map(_.n).toSeq == Seq(4L, 5L, 6L, 5L, 6L, 40L))
        val spike = views.last
        assert(spike.alert && spike.z > 2.0, s"spike not flagged: $spike")
        assert(views.init.forall(!_.alert), "steady buckets must not alert")
        // reference stats exclude the bucket being scored
        assert(spike.ref_windows == 5L && math.abs(spike.ref_mean - 5.2) < 1e-9)
        // clicks are flat: zero variance → never alerts
        val clicks = alerts.filter(_.event_type == "click")
        assert(clicks.nonEmpty && clicks.forall(a => !a.alert && a.z == 0.0))
      } finally q.stop()
    }
  }

  test("drift monitor: quiet-period buckets are scored as zero and alert") {
    implicit val sc = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[graft.streaming.EventRow]
      val q = EventsPipeline.driftAlerts(in.toDS(), bucketMs = 3600L * 1000,
          zThresh = 2.0)
        .writeStream.format("memory").queryName("driftgap").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        var id = 0L
        def add(hour: Int, n: Int): Unit = {
          in.addData((0 until n).map { i =>
            id += 1
            graft.streaming.EventRow(id, t(f"2024-01-01 $hour%02d:00:${i % 60}%02d"),
              1, "view", 1.0)
          })
          q.processAllAvailable()
        }
        // five steady hours, then SILENCE for hours 5-7, then hour 8 resumes
        add(0, 5); add(1, 6); add(2, 5); add(3, 6); add(4, 5)
        add(8, 5)
        val views = spark.table("driftgap")
          .as[graft.streaming.EventsPipeline.DriftAlert]
          .collect().filter(_.event_type == "view").sortBy(_.bucket_start)
        // hours 0..7 closed when hour 8's first row arrived (8 still open):
        // three synthesized zero-count buckets fill the gap
        assert(views.map(_.n).toSeq == Seq(5L, 6L, 5L, 6L, 5L, 0L, 0L, 0L),
          views.mkString("; "))
        // the first silent hour scores 0 against mean≈5.4 → alert fires
        val firstGap = views(5)
        assert(firstGap.alert && firstGap.z < -2.0, s"gap not flagged: $firstGap")
        assert(math.abs(firstGap.ref_mean - 5.4) < 1e-9 && firstGap.ref_windows == 5L)
        // each zero bucket FOLDS into the reference stats: the next gap
        // bucket sees a lower mean and one more reference window
        val secondGap = views(6)
        assert(secondGap.ref_windows == 6L && secondGap.ref_mean < firstGap.ref_mean)
      } finally q.stop()
    }
  }

  test("drift monitor: an extreme gap folds the skipped zero buckets in closed form") {
    implicit val sc = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[graft.streaming.EventRow]
      val q = EventsPipeline.driftAlerts(in.toDS(), bucketMs = 3600L * 1000,
          zThresh = 2.0)
        .writeStream.format("memory").queryName("driftbiggap").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        var id = 0L
        def add(hour: Long, n: Int): Unit = {
          in.addData((0 until n).map { i =>
            id += 1
            graft.streaming.EventRow(id,
              new java.sql.Timestamp(base + hour * 3600000L + i * 1000L),
              1, "view", 1.0)
          })
          q.processAllAvailable()
        }
        // five steady hours, then a gap 50 buckets WIDER than the emission
        // cap (MaxGapBuckets = 10000): the first 10000 quiet buckets are
        // scored and emitted, the 50 beyond the cap are skipped from the
        // alert stream but must still fold into the reference stats
        Seq(5, 6, 5, 6, 5).zipWithIndex.foreach { case (n, h) => add(h.toLong, n) }
        val resume = 4L + 1L + 10000L + 50L
        add(resume, 5)
        add(resume + 1, 1) // closes the resume bucket
        val views = spark.table("driftbiggap")
          .as[graft.streaming.EventsPipeline.DriftAlert]
          .collect().filter(_.event_type == "view").sortBy(_.bucket_start)
        // 5 steady + exactly 10000 gap buckets + the resume bucket; the 50
        // skipped buckets appear only as the bucket_start jump
        assert(views.length == 5 + 10000 + 1, s"got ${views.length}")
        val last = views.last
        assert(last.n == 5L &&
          last.bucket_start == ((base + resume * 3600000L) / 3600000L) * 3600000L)
        // recount equivalence: the resume bucket's reference stats must
        // equal a batch recount over ALL closed buckets including the 50
        // skipped zeros (ref_windows counts them, mean/z fold them)
        assert(last.ref_windows == 5L + 10000L + 50L, s"ref_windows=${last.ref_windows}")
        val seq = Seq(5.0, 6.0, 5.0, 6.0, 5.0) ++ Seq.fill(10050)(0.0)
        val mean = seq.sum / seq.size
        assert(math.abs(last.ref_mean - mean) < 1e-9, s"ref_mean=${last.ref_mean}")
        val m2 = seq.map(v => (v - mean) * (v - mean)).sum
        val zExp = (5.0 - mean) / math.sqrt(m2 / (seq.size - 1))
        assert(math.abs(last.z - zExp) < 1e-6, s"z=${last.z} expected=$zExp")
      } finally q.stop()
    }
  }

  test("Trigger.AvailableNow drains the backlog and stops (cron-equivalent run)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(1, t("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, t("2024-01-01 11:10:00"), 2, "view", 5.0),
      Ev(3, t("2024-01-01 14:00:00"), 1, "click", 2.0))
    val q = EventsPipeline.hourlyAgg(in.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("availnow").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    // the scheduled daily audit shape: process everything available, then
    // terminate WITHOUT external stop()
    assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
    val rows = spark.table("availnow")
      .selectExpr("cast(hour_start as string)", "event_type", "n")
      .as[(String, String, Long)].collect().toSet
    assert(rows.contains(("2024-01-01 10:00:00", "click", 1L)))
    assert(rows.contains(("2024-01-01 11:00:00", "view", 1L)))
  }

  test("stateful query restarts from checkpoint with state intact") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_recover").toString
    val in = MemoryStream[graft.streaming.EventRow]
    // the memory sink refuses checkpoint recovery; foreachBatch supports it
    val seen = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[(Long, Double), java.lang.Boolean]())
    def start() = EventsPipeline.userRunningStats(in.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.UserUpdate], _: Long) =>
        batch.collect().foreach(u => seen.add((u.n_events, u.total_value))); ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()

    withRocksDb {
      val q1 = start()
      try {
        in.addData(graft.streaming.EventRow(1, t("2024-01-01 10:00:00"), 7, "click", 5.0))
        q1.processAllAvailable()
      } finally q1.stop()

      // restart from the same checkpoint: per-user state must carry over
      val q2 = start()
      try {
        in.addData(graft.streaming.EventRow(2, t("2024-01-01 10:05:00"), 7, "click", 3.0))
        q2.processAllAvailable()
        // the post-restart batch emits the CARRIED-FORWARD total (2, 8.0),
        // not a fresh (1, 3.0)
        assert(seen.contains((2L, 8.0)), s"state lost across restart: $seen")
        assert(!seen.contains((1L, 3.0)), s"state reset across restart: $seen")
      } finally q2.stop()
    }
  }

  test("dropDuplicatesWithinWatermark suppresses duplicate event ids") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsPipeline.dedupedRequests(in.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("deduped").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "sync", 1.0),
        Ev(1, t("2024-01-01 10:00:30"), 1, "sync", 1.0), // duplicate request id
        Ev(2, t("2024-01-01 10:01:00"), 2, "sync", 1.0))
      q.processAllAvailable()
      val n = spark.table("deduped").count()
      assert(n == 2, s"expected 2 deduped rows, got $n")
    } finally q.stop()
  }

  test("streaming HTTP sink: stateful dedup upstream, POSTs via foreachBatch") {
    import java.net.InetSocketAddress
    import java.util.concurrent.ConcurrentHashMap
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    implicit val sc = spark.sqlContext
    val hits = new ConcurrentHashMap[String, Integer]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/sync", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hits.merge(ex.getRequestURI.getPath, 1, (a, b) => a + b)
        ex.sendResponseHeaders(200, 0L); ex.close()
      }
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}/sync"
    val in = MemoryStream[(String, String)]
    val requests = in.toDF().toDF("node_id", "url")
      .dropDuplicates("node_id") // stateful across micro-batches (memo dict)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt").toString
    val q = graft.sinks.HttpSink.streamTo(requests, ckpt, parallelism = 2)
    try {
      in.addData(("n1", s"$base/n1"), ("n2", s"$base/n2"))
      q.processAllAvailable()
      in.addData(("n1", s"$base/n1"), ("n3", s"$base/n3")) // n1 is a duplicate
      q.processAllAvailable()
      assert(hits.getOrDefault("/sync/n1", 0) == 1, s"n1 re-posted: $hits")
      assert(hits.getOrDefault("/sync/n2", 0) == 1)
      assert(hits.getOrDefault("/sync/n3", 0) == 1)
    } finally { q.stop(); server.stop(0) }
  }

  test("stream-stream join: purchases matched to the prior hour's views only") {
    implicit val sc = spark.sqlContext
    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val q = EventsPipeline.purchasesWithRecentViews(pIn.toDF(), vIn.toDF(),
        watermark = "2 hours")
      .writeStream.format("memory").queryName("ssjoin").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      vIn.addData(
        Ev(10, t("2024-01-01 09:30:00"), 1, "view", 0.0), // within the hour
        Ev(11, t("2024-01-01 08:30:00"), 1, "view", 0.0), // too old
        Ev(12, t("2024-01-01 09:45:00"), 2, "view", 0.0)) // other user
      pIn.addData(Ev(100, t("2024-01-01 10:00:00"), 1, "purchase", 9.99))
      q.processAllAvailable()
      // advance both watermarks so the joined results finalize
      vIn.addData(Ev(13, t("2024-01-01 15:00:00"), 9, "view", 0.0))
      pIn.addData(Ev(101, t("2024-01-01 15:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssjoin").select("p_id", "v_id")
        .as[(Long, Long)].collect().toSet
      assert(rows == Set((100L, 10L)), s"got $rows")
    } finally q.stop()
  }

  test("LEFT OUTER stream-stream join: organic purchases emit after the watermark") {
    implicit val sc = spark.sqlContext
    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val q = EventsPipeline.purchasesWithViewOrOrganic(pIn.toDF(), vIn.toDF(),
        watermark = "2 hours")
      .writeStream.format("memory").queryName("ssleft").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      vIn.addData(Ev(10, t("2024-01-01 09:30:00"), 1, "view", 0.0))
      pIn.addData(
        Ev(100, t("2024-01-01 10:00:00"), 1, "purchase", 9.99), // attributed
        Ev(101, t("2024-01-01 10:00:00"), 2, "purchase", 5.0))  // organic
      q.processAllAvailable()
      // before the watermark passes, the organic row must NOT have emitted
      // (a qualifying view could still arrive late)
      val early = spark.table("ssleft").select("p_id").as[Long].collect().toSet
      assert(!early.contains(101L),
        s"organic purchase emitted before its match window closed: $early")
      // push both watermarks far past the window
      vIn.addData(Ev(13, t("2024-01-01 20:00:00"), 9, "view", 0.0))
      pIn.addData(Ev(102, t("2024-01-01 20:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssleft")
        .select("p_id", "organic")
        .as[(Long, Boolean)].collect().toSet
      assert(rows.contains((100L, false)), s"attributed pair missing: $rows")
      assert(rows.contains((101L, true)), s"organic purchase never emitted: $rows")
    } finally q.stop()
  }

  test("stream-static enrichment joins without watermark or state store") {
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = EventsPipeline.enrichedEvents(in.toDF(), dim)
      .select("event_id", "user_id", "tier")
      .writeStream.format("memory").queryName("enriched").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "view", 0.0),
        Ev(2, t("2024-01-01 10:01:00"), 2, "view", 0.0),
        Ev(3, t("2024-01-01 10:02:00"), 7, "view", 0.0)) // no dim row -> null
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .collect().map(r => (r.getLong(0), Option(r.getString(2)).getOrElse("-"))).toSet
      assert(rows == Set((1L, "gold"), (2L, "basic"), (3L, "-")), s"got $rows")
      // no stateful operator: the static side broadcasts per batch
      assert(q.lastProgress.stateOperators.isEmpty,
        s"stream-static join must not create state: ${q.lastProgress.stateOperators.mkString}")
    } finally q.stop()
  }

  test("event-time timers close sessions when the watermark passes the gap") {
    implicit val sc = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Ev]
      val q = EventsPipeline.timedOutSessions(
          in.toDF().as[graft.streaming.EventRow],
          gapMs = 30L * 60 * 1000, watermark = "0 seconds")
        .writeStream.format("memory").queryName("timedout").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        // user 1's session: two events; user 2 keeps the stream alive later
        in.addData(
          Ev(1, t("2024-01-01 10:00:00"), 1, "view", 1.0),
          Ev(2, t("2024-01-01 10:05:00"), 1, "view", 2.0))
        q.processAllAvailable()
        // nothing closed yet — watermark hasn't passed 10:05 + 30min
        assert(spark.table("timedout").count() == 0)
        // advance the watermark beyond user 1's gap; user 2's session stays open
        in.addData(Ev(3, t("2024-01-01 11:00:00"), 2, "view", 5.0))
        q.processAllAvailable()
        in.addData(Ev(4, t("2024-01-01 11:30:00"), 2, "view", 7.0))
        q.processAllAvailable()
        val closed = spark.table("timedout")
          .as[(Long, Long, Double)].collect().toSet
        assert(closed == Set((1L, 2L, 3.0)), s"got $closed")
        // re-arming: user 2's last event was 11:30; push watermark past 12:00
        in.addData(Ev(5, t("2024-01-01 13:00:00"), 9, "view", 0.0))
        q.processAllAvailable()
        in.addData(Ev(6, t("2024-01-01 13:30:00"), 9, "view", 0.0))
        q.processAllAvailable()
        val all = spark.table("timedout").as[(Long, Long, Double)].collect().toSet
        assert(all.contains((2L, 2L, 12.0)), s"user 2 session not closed: $all")
      } finally q.stop()
    }
  }

  test("out-of-order event must not pull the session deadline backwards") {
    // ADVICE r3: a later micro-batch carrying an OLDER but within-watermark
    // event re-armed the timer at old-ts + gap, closing the session before
    // last-event + gap. The timer is a high-water mark: it never regresses.
    implicit val sc = spark.sqlContext
    withRocksDb {
      val in = MemoryStream[Ev]
      val q = EventsPipeline.timedOutSessions(
          in.toDF().as[graft.streaming.EventRow],
          gapMs = 30L * 60 * 1000, watermark = "2 hours")
        .writeStream.format("memory").queryName("noregress").outputMode("append")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        // batch 1: user 1 @ 12:00 -> deadline 12:30
        in.addData(Ev(1, t("2024-01-01 12:00:00"), 1, "view", 1.0))
        q.processAllAvailable()
        // batch 2: OLDER user-1 event @ 11:00 (watermark is 10:00, so it is
        // on time). Regressing code would re-arm at 11:30.
        in.addData(Ev(2, t("2024-01-01 11:00:00"), 1, "view", 2.0))
        q.processAllAvailable()
        // advance the watermark to 11:35-11:36: past the WRONG deadline
        // (11:30), before the right one (12:30) — nothing may close
        in.addData(Ev(3, t("2024-01-01 13:35:00"), 9, "view", 0.0))
        q.processAllAvailable()
        in.addData(Ev(4, t("2024-01-01 13:36:00"), 9, "view", 0.0))
        q.processAllAvailable()
        val early = spark.table("noregress").as[(Long, Long, Double)].collect().toSet
        assert(!early.exists(_._1 == 1L),
          s"session closed before last-event + gap (timer regressed): $early")
        // advance past 12:30 -> the session closes with BOTH events
        in.addData(Ev(5, t("2024-01-01 14:40:00"), 9, "view", 0.0))
        q.processAllAvailable()
        in.addData(Ev(6, t("2024-01-01 14:41:00"), 9, "view", 0.0))
        q.processAllAvailable()
        val closed = spark.table("noregress").as[(Long, Long, Double)].collect().toSet
        assert(closed.contains((1L, 2L, 3.0)), s"user 1 session missing: $closed")
      } finally q.stop()
    }
  }

  test("stream-stream join output equals the batch interval-join oracle (q71)") {
    // the real events table streamed through the join must reproduce the
    // DuckDB-checked batch analog exactly — the streaming join's semantics
    // are oracle-verified, not just spec'd on toy rows. (Boundary-safe:
    // zero same-user pairs straddle a second or the -3600 s edge at this
    // sf, verified when q71 was added.)
    implicit val sc = spark.sqlContext
    val ev = Tables(spark, sf("sf0.001"), "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect()
    val pIn = MemoryStream[Ev]
    val vIn = MemoryStream[Ev]
    val q = EventsPipeline.purchasesWithRecentViews(pIn.toDF(), vIn.toDF(),
        watermark = "2 hours")
      .writeStream.format("memory").queryName("ssjoin_oracle").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      pIn.addData(ev.filter(_.event_type == "purchase").toSeq)
      vIn.addData(ev.filter(_.event_type == "view").toSeq)
      q.processAllAvailable()
      val streamed = spark.table("ssjoin_oracle").select("p_id", "v_id")
        .as[(Long, Long)].collect().toSet
      val batch = SparkEntry.queries("q71_interval_pairs")(spark, sf("sf0.001"))
        .select("p_id", "v_id").as[(Long, Long)].collect().toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream/batch divergence: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("statePartitionsFor: per-key below cores, fixed-cost-aware above") {
    import graft.streaming.EventsPipeline.statePartitionsFor
    // few keys: one partition per key (a zero-key partition costs ~30 ms
    // of RocksDB lifecycle per batch for nothing)
    assert(statePartitionsFor(0, 32) === 1)
    assert(statePartitionsFor(1, 32) === 1)
    assert(statePartitionsFor(5, 32) === 5)
    assert(statePartitionsFor(32, 32) === 32)
    // many keys: cores bound the parallelism win until per-store load
    // crosses keysPerPartition
    assert(statePartitionsFor(100, 32) === 32)
    assert(statePartitionsFor(1000000, 32) === 245) // ceil(1e6/4096)
    assert(statePartitionsFor(1000000, 512) === 512)
    // knob respected + ceil semantics
    assert(statePartitionsFor(10, 4, keysPerPartition = 3) === 4)
    assert(statePartitionsFor(100, 4, keysPerPartition = 3) === 34)
    // monotone in keys (never fewer partitions for more keys)
    val widths = Seq(1L, 10L, 100L, 10000L, 1000000L)
      .map(statePartitionsFor(_, 32))
    assert(widths === widths.sorted)
    // volume cap (measured local[32], 20k-row batches: width 1 beats
    // 4/8/32 — the 30 ms/partition store cost dominates small batches)
    assert(statePartitionsFor(5, 32, rowsPerBatch = 20000) === 1)
    assert(statePartitionsFor(5, 32, rowsPerBatch = 120000) === 3)
    assert(statePartitionsFor(5, 32, rowsPerBatch = 10000000) === 5) // keys still cap
    // unknown volume: per-key rule unchanged
    assert(statePartitionsFor(5, 32, rowsPerBatch = -1) === 5)
    // the storage floor survives the volume cap (stores stay bounded)
    assert(statePartitionsFor(1000000, 512, rowsPerBatch = 1000) === 245)
  }
}
