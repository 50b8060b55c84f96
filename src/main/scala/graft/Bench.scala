package graft
import org.apache.spark.sql.SparkSession
import RunLedger.jnum
/** Benchmark main: one JSON line with per-query wall seconds at
  * SPARK_GRAFT_SF_DIR (default sf0.1). A single warmup action initializes
  * the parquet reader + codegen paths so per-query numbers reflect steady
  * state rather than first-touch JIT.
  *
  * Each query is driven by a `noop`-format write, not `.count()`: a count
  * lets Catalyst prune computed columns out of the plan, so scalar
  * pipelines (tokenize/quality/langid/...) would be measured pruned. The
  * noop sink materializes every output row (VERDICT r1 "What's wrong" #3).
  *
  * Steady-state methodology (JMH-style): each query runs once untimed —
  * paying whole-stage-codegen compilation and JIT warm-up, a per-query
  * fixed cost that is noise at sf0.1 but irrelevant at the 100 TB design
  * point — then all persisted intermediates are dropped (clearCache) so the
  * timed runs re-execute the COMPLETE pipeline, including repopulating any
  * cache the query itself builds (e.g. q37's minhash base table). The
  * reported number is the MIN of two timed runs (clearCache before each):
  * single-sample local[32] timings vary ±30% with GC/AQE scheduling, and
  * min-of-2 is the standard noise floor estimator.
  *
  * LAYOUT IMMUNITY (VERDICT r8 #1): parquet scan parallelism is decided by
  * the fixtures' file/row-group layout, which the driver regenerates
  * between rounds — round 8 rewrote every table as ONE row group per file,
  * making every pre-shuffle stage single-task and inflating the whole
  * sweep a uniform 1.40× with zero plan change. To keep the bench a
  * measurement of the ENGINE rather than of fixture layout, the primary
  * sweep runs on a COMPACTED copy of the sf dir (operators/Compaction:
  * size-targeted files, bounded row groups, fingerprint-validated against
  * the input before anything is timed). The raw-layout sweep still runs
  * afterwards for continuity and as the layout-shift diagnostic; the JSON
  * carries BOTH totals (`total_compacted` = headline `value`,
  * `total_raw`). Should compaction validation ever fail, the bench falls
  * back to raw-only rather than timing unverified data.
  *
  * The JSON line is printed to stdout AND written to /tmp/bench.json so the
  * driver can machine-parse it without scraping sbt's [info] decoration
  * (VERDICT r1 "What's wrong" #2). The file is (re)written after EACH
  * sweep, so a truncated run still leaves the primary number on disk.
  */
object Bench {
  /** One steady-state sweep over `selected` against `dir`. `warmupEach`
    * pays the untimed codegen/JIT run per query — required for the first
    * sweep of a JVM; the second sweep over identical plans skips it (same
    * generated code, already JITted) and still clears caches before each
    * timed run. */
  private def sweep(spark: SparkSession, dir: String,
      selected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      warmupEach: Boolean): Seq[(String, Option[Double])] =
    selected.map { case (name, fn) =>
      var failed = false
      def run(): Unit =
        try { fn(spark, dir).write.format("noop").mode("overwrite").save() }
        catch { case e: Throwable => // visible, never silent-zero a timing
          failed = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      if (warmupEach) run() // steady-state warmup: codegen compile + JIT
      // GC time INSIDE the timed runs only: the harness's own forced
      // System.gc() between runs must not count toward the query's gc_ms
      var gcMs = 0L
      var leftoverPersisted = 0
      // per-query resource capture (VERDICT r13 #2/#8), warmup excluded:
      // input + shuffle bytes drive the class assignment for per-class
      // host normalization; spill, GC delta and leftover persisted-RDD
      // count make a recurrence of the r12 in-sweep inflation diagnosable
      // from the bench line alone
      val (timed, m) = RunLedger.measure(spark) {
        (1 to 2).map { _ =>
          // timed runs must rebuild query-owned caches, and must not
          // measure eviction of earlier queries' checkpoint blocks
          leftoverPersisted = math.max(leftoverPersisted, RunLedger.resetCaches(spark))
          val gc0 = gcMillis()
          val t0 = System.nanoTime()
          run()
          val wall = (System.nanoTime() - t0) / 1e9
          gcMs += gcMillis() - gc0
          wall
        }
      }
      if (!failed) {
        // bytes accumulate over BOTH timed runs — the class thresholds are
        // ratio-dominated, and the reported MBs are halved to per-run
        val cls = classifyNamed(name, m.inputBytes / 2, m.shuffleBytes / 2)
        queryClasses.putIfAbsent(name, cls)
        queryDiag.putIfAbsent(name, QueryDiag(cls,
          m.inputBytes / 2 / 1048576.0, m.shuffleBytes / 2 / 1048576.0,
          m.spillBytes / 2 / 1048576.0, gcMs, leftoverPersisted))
        ()
      }
      // a failed query must not fold its time-to-failure into the JSON as
      // if it were a fast success — record it in "errors" instead
      name -> (if (failed) None else Some(timed.min))
    }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  private[graft] val calibSink = new java.util.concurrent.atomic.AtomicLong()

  /** The per-thread loop count of [[calibrate]]. */
  private[graft] val calibIters = 400000000L

  private[graft] def burn(iters: Long): Long = {
    var s = 0L; var i = 0L
    while (i < iters) { s += i * i + (s >> 3); i += 1 }
    s
  }

  /** HOST-speed calibration: a fixed integer workload timed at 1 thread
    * and at the sweep's thread count, emitted alongside the totals. The
    * bench already made itself layout-immune (compacted sweep); this makes
    * cross-round comparisons HOST-immune: the same container ran the r9
    * re-measure ~1.5× slower than the r8 driver sweep with zero plan
    * change (shared-host capacity — a 32-process probe showed ~20
    * effective cores), and without a recorded calibration that reads as an
    * engine regression. total/calib_mt is the machine-independent figure
    * of merit. The sink defeats dead-code elimination. */
  def calibrate(threads: Int): Double = {
    calibSink.addAndGet(burn(calibIters / 8)) // JIT warmup, untimed
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => calibSink.addAndGet(burn(calibIters))))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  // ---- per-class host probes (VERDICT r13 #2) ----------------------------
  // The single integer-CPU probe assigns ALL of a host swing to "host" on
  // queries that are shuffle- or scan-bound, which is how r13's sweep read
  // "flat" (normalized 1.05×) while a matched-calibration A/B of the same
  // change measured 1.66× — the probe over-corrected. Two more probes, one
  // per resource class, measured with the same Spark session and thread
  // count the sweep uses; vs_prev then normalizes each query by the factor
  // of ITS class. Both are fixed deterministic workloads (min of 2 timed
  // runs after one warm run, noop sink — the sweep's own methodology).

  /** Shuffle-class probe: hash + 1M-group aggregate over 20M generated
    * rows — exchange write/read, hash-map aggregation, serialization and
    * memory bandwidth at the sweep's parallelism. */
  def calibrateShuffle(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    warmMinOf2(() => spark.range(0L, 20000000L, 1L, 32)
      .select(pmod(xxhash64(col("id")), lit(1000000L)).as("k"),
        (col("id") % 97).as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"), avg("v").as("a"))
      .write.format("noop").mode("overwrite").save())
  }

  /** A probe's figure: the min wall seconds of two timed runs of `job`
    * after one untimed warm run. */
  private def warmMinOf2(job: () => Unit): Double = {
    job()
    (1 to 2).map { _ =>
      val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Scan-class probe: a fixed ~90 MB parquet fixture (written fresh each
    * run — layout under our control, incompressible hash column) scanned
    * with a 3-column aggregate: parquet decode + page-cache/disk read
    * path. The fixture is rewritten per run so OS cache state is the same
    * every round (always warm from the write). */
  def calibrateScan(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val path = "/tmp/graft_calib_scan.parquet"
    spark.range(0L, 10000000L, 1L, 32)
      .select(col("id"), xxhash64(col("id")).as("h"),
        (col("id") % 1000).cast("double").as("d"))
      .write.mode("overwrite").parquet(path)
    // h is full-range xxhash64 — a raw sum overflows under ANSI; reduce
    // each value mod a prime first (the decode still reads every page)
    warmMinOf2(() => spark.read.parquet(path)
      .select(sum(expr("h % 1000003")).as("sh"), avg("d").as("ad"),
        sum("id").as("si"), count(lit(1)).as("c"))
      .write.format("noop").mode("overwrite").save())
  }

  /** Crude dominant-resource classifier from a query's timed-run task
    * metrics: shuffle-dominant if its exchange traffic rivals its input,
    * scan-dominant if it reads real bytes with little shuffle, cpu
    * otherwise (small in, small shuffled — the work is expression
    * evaluation). Deliberately coarse: the class only picks WHICH host
    * probe divides the query's cross-round ratio. The standing-state
    * LIFECYCLE queries are classed by NAME before bytes are consulted
    * (VERDICT r14 #2): their cost is job orchestration + sequential state
    * writes, which the byte thresholds misread as "scan". */
  private[graft] def classify(inputBytes: Long, shuffleBytes: Long): String =
    if (shuffleBytes > math.max(inputBytes / 2, 1L << 20)) "shuffle"
    else if (inputBytes > (4L << 20)) "scan"
    else "cpu"

  private[graft] def classifyNamed(name: String, inputBytes: Long,
      shuffleBytes: Long): String =
    if (LifecycleQueries(name)) "lifecycle" else classify(inputBytes, shuffleBytes)

  // ---- in-run control queries (VERDICT r14 #2) ---------------------------
  /** One pinned sweep query per resource class, re-run at sweep START /
    * MIDDLE / END on the raw fixture dir with the sweep's own methodology.
    * The median of the three runs is the class's host-factor numerator and
    * (max-min)/median is the TEMPORAL ERROR BAR the synthetic probes lack:
    * r14 measured all three instant probes (cpu/shuffle/scan) swinging up
    * to 1.77x within one sweep while an in-run control query stayed flat —
    * a control query IS the workload, sampled three times across the
    * sweep's ~25 minutes instead of once. Members are pinned (renaming
    * breaks cross-round factors) and were chosen for class stability plus
    * presence in the r14 driver tail capture, so the first
    * control-normalized round already has a prev-side denominator (the
    * prev QUERY MAP entry; from r15 on the trailer carries ctl_<cls>_sec
    * directly). */
  private[graft] val ControlQueries: Seq[(String, String)] = Seq(
    "cpu" -> "q68_native_pivot",
    "shuffle" -> "q67_simhash_pairs",
    "scan" -> "q85_decontaminate",
    "lifecycle" -> "q257_agg_state")

  /** One control pack: each control query timed as min-of-2 (noop sink),
    * clearCache + leftover-unpersist + GC before each timed run — the
    * sweep's own steady-state discipline, so a control's pack value is
    * directly comparable to its sweep value. A control that throws is
    * skipped (never fails the bench). */
  private def runControlPack(spark: SparkSession, dir: String,
      warmup: Boolean): Map[String, Double] =
    ControlQueries.flatMap { case (cls, name) =>
      SparkEntry.queries.get(name).flatMap { fn =>
        scala.util.Try {
          def run(): Unit =
            fn(spark, dir).write.format("noop").mode("overwrite").save()
          if (warmup) run()
          cls -> (1 to 2).map { _ =>
            RunLedger.resetCaches(spark)
            val t0 = System.nanoTime(); run()
            (System.nanoTime() - t0) / 1e9
          }.min
        }.toOption
      }
    }.toMap

  /** (min, spread) per class over the start/mid/end packs. MIN is the
    * factor statistic (the noise-floor estimator the sweep itself uses —
    * min-of-2 per pack × 3 packs = min of 6 runs, far more stable
    * cross-round than a median of 3); spread = (max - min) / min over
    * the pack values, the per-class TEMPORAL ERROR BAR — on this shared
    * container it reads 25-50%, which is the honest uncertainty any
    * single-sample cross-round ratio carries (the r14 probes swung 1.77×
    * and reported nothing). */
  private[graft] def ctlStats(packs: Seq[Map[String, Double]])
      : (Map[String, Double], Map[String, Double]) = {
    val pairs = ControlQueries.flatMap { case (cls, _) =>
      val xs = packs.flatMap(_.get(cls)).sorted
      if (xs.isEmpty) None
      else Some((cls -> xs.head,
        cls -> (if (xs.head > 0) (xs.last - xs.head) / xs.head else 0.0)))
    }
    (pairs.map(_._1).toMap, pairs.map(_._2).toMap)
  }

  /** Previous round's per-class control medians — plain text scan for the
    * ctl_<cls>_sec fields the trailer carries from r15 on (same pattern as
    * [[loadPrevProbes]]; last occurrence wins). */
  private[graft] def loadPrevCtl(path: String): Map[String, Double] =
    scala.util.Try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      ControlQueries.flatMap { case (cls, _) =>
        ("\"ctl_" + cls + "_sec\":([0-9.eE+-]+)").r.findAllMatchIn(txt)
          .toSeq.lastOption
          .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
          .map(cls -> _)
      }.toMap
    }.getOrElse(Map.empty)

  /** query -> class, captured during the first (compacted) sweep that ran
    * the query; later sweeps don't overwrite. */
  private[graft] val queryClasses =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-query sweep diagnostics (VERDICT r13 #8): the in-sweep-inflation
    * instrumentation — per-run input/shuffle/spill MB, GC-time delta over
    * the timed runs, and the max persisted-RDD count found LEFT OVER from
    * earlier queries before the pre-run unpersist (a nonzero value is the
    * r12 block-pileup signature). */
  private[graft] final case class QueryDiag(cls: String, inMb: Double,
      shMb: Double, spillMb: Double, gcMs: Long, leftoverPersisted: Int) {
    def json: String =
      s""""cls":"$cls","in_mb":${jnum(inMb, 1)},"sh_mb":${jnum(shMb, 1)},""" +
        s""""spill_mb":${jnum(spillMb, 1)},"gc_ms":$gcMs,"pers":$leftoverPersisted"""
  }
  private[graft] val queryDiag =
    scala.collection.concurrent.TrieMap.empty[String, QueryDiag]

  /** Compact every table of `sfDir` into `outDir`/<t>.parquet with small
    * files + bounded row groups (sf0.1 is ~15 MB total, so a 1 MB target
    * restores the multi-task scans a production 128 MB/16 MB layout has at
    * real scale). Returns false — and the bench falls back to raw-only —
    * if the compaction's verification fails. */
  private def compactFixtures(spark: SparkSession, sfDir: String, outDir: String): Boolean =
    try {
      operators.Compaction.compact(spark, Tables.names
          .filter(t => new java.io.File(s"$sfDir/$t.parquet").exists())
          .map(t => (s"$sfDir/$t.parquet", s"$outDir/$t.parquet", Nil)),
        targetFileBytes = 1L << 20, rowGroupBytes = 1L << 20)
      true
    } catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[bench] compaction validation FAILED — raw-only sweep: ${e.getMessage}")
        false
    }

  /** The raw-layout sweep's fixed diagnostic subset (VERDICT r9 #7): two
    * full sweeps cost ~27 min of driver budget while the raw side exists
    * only to DETECT the next fixture-layout shift (the r8 single-row-group
    * episode). ~30 queries spanning every scan shape do that: plain
    * scan-aggs, broadcast/shuffle/as-of joins, windows, the LSH graph
    * family (the heaviest scans), text pipelines, ANN probes, TPC-H
    * classics, lifecycle state, and the sub-second queries where per-stage
    * overhead dominates. A layout shift moves the raw/compacted ratio of
    * these before anything else. SPARK_GRAFT_SWEEPS=rawfull restores the
    * full raw sweep for ad-hoc investigation. */
  val RawDiagnosticSubset: Set[String] = Set(
    "q01_pricing_summary", "q02_filter_project", "q03_shipping_priority",
    "q05_local_supplier", "q09_topk_orders", "q10_window_rank",
    "q21_semi_join", "q30_token_stats", "q31_quality_score", "q33_fingerprint",
    "q35_dedup_exact", "q37_minhash_lsh", "q51_ivf_search", "q52_window_frames",
    "q58_native_asof", "q62_range_join", "q64_try_divide", "q67_simhash_pairs",
    "q68_native_pivot", "q70_dup_clusters", "q85_decontaminate", "q91_lm_score",
    "q99_pq_search", "q128_canonical", "q135_tpch18", "q188_profile",
    "q213_profit", "q220_prefix_join", "q233_lsh_eval", "q244_incremental_neardup",
    "q254_merge_upsert", "q267_ivfpq_index")

  /** Stable cross-round comparison core (VERDICT r14 #6): re-emitted as
    * its own compact line (`{"metric":"queries_core",...}`, 3-decimal
    * values, raw-sweep timing first, compacted as fallback) right before
    * the trailer, so the driver's ~2000-char log-tail capture retains a
    * usable per-query common set — r13→r14 retained only ~8 fragments
    * (the alphabetical tail of queries_raw), starving bench_compare.py.
    * SUPERSET RULE: members are never removed or renamed, only appended —
    * a cross-round common set must only grow. Spans every class: scans,
    * shuffle joins/aggs, cpu expression pipelines, the LSH family, and
    * lifecycle state choreography (q257/q267/q279). */
  private[graft] val CoreQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q03_shipping_priority",
    "q05_local_supplier", "q09_topk_orders", "q10_window_rank",
    "q21_semi_join", "q30_token_stats", "q31_quality_score",
    "q33_fingerprint", "q35_dedup_exact", "q37_minhash_lsh",
    "q51_ivf_search", "q52_window_frames", "q58_native_asof",
    "q62_range_join", "q64_try_divide", "q67_simhash_pairs",
    "q68_native_pivot", "q70_dup_clusters", "q85_decontaminate",
    "q91_lm_score", "q99_pq_search", "q220_prefix_join",
    "q257_agg_state", "q267_ivfpq_index", "q279_cluster_takedown",
    // r16 (VERDICT r15 #8): one per new curation family so cross-round
    // comparisons cover them from the start (superset rule: append-only)
    "q296_dsir_weights", "q297_semdedup", "q298_ppl_buckets",
    "q299_bpe_merges", "q300_incr_dsir", "q301_bpe_apply",
    // r16's own queries, appended LAST so the driver's tail capture (which
    // keeps the END of the core line) always retains the newest families
    "q302_ppl_cutoffs", "q303_para_dedup", "q304_maximal_spans",
    "q305_para_trim",
    // r17: the batched-BPE gate query, the ANN drift audits and the span
    // cap-loss audit (superset rule: append-only)
    "q306_bpe_batch", "q307_ann_drift", "q308_span_cap_audit",
    "q309_ann_fit_ledger", "q310_para_boundary", "q311_para_exact",
    "q312_incr_para_exact",
    // r18 (superset rule: append-only, newest last so the driver tail
    // retains them): the exact-paragraph boundary gate + takedown and the
    // ANN reindex action
    "q313_para_boundary_exact", "q314_para_takedown", "q315_ann_reindex")

  /** Streaming micro-bench (VERDICT r9 #8): rows/s + per-batch latency
    * for the two transformWithState processors (running quantiles, drift
    * monitor) on a MemoryStream feed of real event rows, RocksDB state
    * store — the streaming half's first performance number beside the
    * batch sweep. Feed size is bounded (20 k rows / 10 batches): this
    * measures per-batch processor overhead and state-store throughput,
    * not cluster scale (the collect is the MemoryStream harness, not the
    * operator). Returns a compact JSON object; a failure degrades to None
    * and never fails the bench. */
  /** transformWithState micro-bench. Two numbers per processor (r12 — the
    * r11 single small-batch figure conflated them; the per-partition
    * cost rule is `EventsPipeline.statePartitionsFor`, decomposition in
    * SURVEY §8):
    *  - `rows_per_sec` — SUSTAINED throughput at 20k-row batches, where
    *    the per-batch fixed cost amortizes: the number an ingest pipeline
    *    (seconds-long triggers, millions of rows) actually sees;
    *  - `batch_ms_p50` — per-2k-row-batch latency: dominated by the fixed
    *    cost (~140 ms micro-batch machinery + ~30 ms per state partition
    *    per batch of RocksDB store lifecycle), the floor a small-batch
    *    low-latency deployment pays regardless of row count.
    * Config (both measured levers, applied to the stream queries only):
    * RocksDB changelog checkpointing ON (avoids the per-batch full
    * snapshot — ~1.4× at 32 partitions) and state partitions = 8, sized
    * to the stream's key cardinality (~5 event types) instead of the
    * batch-side core count: state partitioning is fixed at first start
    * and each partition pays store open/commit per batch even with zero
    * keys (32-partition penalty: ~1 s/batch measured). */
  private def streamBench(spark: SparkSession, dir: String): Option[String] =
    scala.util.Try {
      import org.apache.spark.sql.Dataset
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.Trigger
      import spark.implicits._
      implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
      val rows0 = Tables(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy("ts").limit(100000)
        .as[graft.streaming.EventRow].collect()
      // state width from the feed's ACTUAL key cardinality AND batch
      // volume (both processors key by event_type; throughput batches
      // are 20k rows) via the sizing helper — was a hand-set 8
      // (VERDICT r12 #7)
      val nKeys = rows0.iterator.map(_.event_type).toSet.size
      val sized = graft.streaming.EventsPipeline.statePartitionsFor(
        nKeys.toLong, spark.sparkContext.defaultParallelism,
        rowsPerBatch = 20000L)
      val restore = Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true",
        "spark.sql.shuffle.partitions" -> sized.toString
      ).map { case (k, v) =>
        val prev = spark.conf.getOption(k); spark.conf.set(k, v); k -> prev
      }
      try {
        val rows = rows0
        def drive(mode: String,
            mk: Dataset[graft.streaming.EventRow] => Dataset[_],
            batches: Seq[Seq[graft.streaming.EventRow]]): (Long, Long, Int) = {
          val in = MemoryStream[graft.streaming.EventRow]
          val q = mk(in.toDS()).writeStream.format("noop")
            .outputMode(mode).trigger(Trigger.ProcessingTime(0)).start()
          try {
            in.addData(batches.head: _*); q.processAllAvailable() // warmup
            val lats = batches.tail.map { b =>
              val t0 = System.nanoTime()
              in.addData(b: _*); q.processAllAvailable()
              (System.nanoTime() - t0) / 1e6
            }.sorted
            val nRows = batches.tail.map(_.length).sum
            (math.round(nRows / (lats.sum / 1e3)),
              math.round(lats(lats.size / 2)), lats.size)
          } finally q.stop()
        }
        // ALTERNATING-repeat throughput protocol (r18, VERDICT r17 #6 —
        // the single post-sweep 4-batch sample carries a ~1.8x cold-start
        // error bar, proven twice in ledgers/r16+r17): run `reps`
        // (quantiles, drift) cell PAIRS in this JVM, headline = the
        // warmed MEDIAN per processor, spread_bp = (max-min)/median —
        // the in-line temporal error bar. With 3 reps a cold first cell
        // cannot move the median; raise via SPARK_GRAFT_STREAM_REPEAT.
        val reps = sys.env.get("SPARK_GRAFT_STREAM_REPEAT")
          .map(_.toInt).filter(_ > 0).getOrElse(3)
        val procs = Seq[(String, String, Dataset[graft.streaming.EventRow] => Dataset[_])](
          ("running_quantiles", "update",
            ds => graft.streaming.EventsPipeline.runningQuantiles(ds)),
          ("drift_monitor", "append",
            ds => graft.streaming.EventsPipeline.driftAlerts(ds, bucketMs = 3600L * 1000)))
        val tBatches = rows.grouped(20000).map(_.toSeq).toSeq
        val samples: Seq[(String, (Long, Int))] = (1 to reps).flatMap { _ =>
          procs.map { case (n, mode, mk) =>
            val (rps, _, nT) = drive(mode, mk, tBatches); n -> ((rps, nT)) }
        }
        val cells = procs.map { case (n, mode, mk) =>
          val rs = samples.collect { case (`n`, (rps, _)) => rps }.sorted
          val nT = samples.collectFirst { case (`n`, (_, t)) => t }.get
          val med = rs(rs.size / 2)
          val spreadBp = if (med == 0) 0L else (rs.max - rs.min) * 10000L / med
          val (_, p50, nL) =
            drive(mode, mk, rows.take(22000).grouped(2000).map(_.toSeq).toSeq)
          s""""$n":{"rows_per_sec":$med,"rps_spread_bp":$spreadBp,""" +
            s""""n_batches":$nT,"batch_ms_p50":$p50,"n_latency_batches":$nL}"""
        }
        s"""{${cells.mkString(",")},"repeats":$reps}"""
      } finally restore.foreach { case (k, prev) =>
        prev.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
      }
    }.recover { case e =>
      System.err.println(s"[bench] stream bench failed: ${e.getMessage}")
      null
    }.toOption.flatMap(Option(_))

  /** The standing-state LIFECYCLE queries (VERDICT r11 #7): each drives a
    * persisted build/append/probe/retract chain with sequential parquet
    * state writes to the tmp dir — ~18% of the sweep wall that measures
    * state I/O choreography, not query plans. The bench splits them into
    * their own subtotal (`total_lifecycle`) so the pure-query signal
    * (`total_pure`) stays clean across rounds; per-query timings are
    * unchanged and every query still runs in the same sweep. */
  private[graft] val LifecycleQueries: Set[String] = Set(
    "q246_standing_index", "q253_ann_index", "q257_agg_state",
    "q263_schema_drift", "q267_ivfpq_index", "q268_agg_state_distinct",
    "q269_agg_state_quantiles", "q270_tombstoned_index",
    "q271_agg_state_retract", "q272_hist_retract", "q273_incr_join_view",
    "q274_view_retract", "q275_incr_clusters", "q278_incr_rollup",
    "q279_cluster_takedown", "q280_incr_bm25", "q281_bm25_takedown",
    "q283_standing_bloom", "q292_state_split", "q300_incr_dsir",
    "q307_ann_drift", "q309_ann_fit_ledger", "q312_incr_para_exact",
    "q314_para_takedown", "q315_ann_reindex")

  /** Mirror of `tools/bench_compare.py`'s `load()` (VERDICT r11 #4): pull
    * (queries, calib_mt_sec, value) out of a previous round's bench JSON —
    * a raw /tmp/bench.json line, a driver `BENCH_r*.json` envelope with a
    * `parsed` dict, or (the common case) an envelope whose 2000-char
    * `tail` retains only per-query fragments plus the trailer line. The
    * semantics match the python tool clause for clause so the in-bench
    * `vs_prev_normalized` field reproduces what `bench_compare.py` would
    * print for the same pair. */
  private[graft] def loadPrevBench(path: String):
      Option[(Map[String, Double], Option[Double], Option[Double])] = scala.util.Try {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
    val j = JsonMethods.parse(txt)
    def num(v: JValue): Option[Double] = v match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JLong(l) => Some(l.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case _ => None
    }
    def qmap(v: JValue): Map[String, Double] = v \ "queries" match {
      case JObject(fs) => fs.flatMap { case (k, jv) => num(jv).map(k -> _) }.toMap
      case _ => Map.empty[String, Double]
    }
    def pack(v: JValue) = (qmap(v), num(v \ "calib_mt_sec"), num(v \ "value"))
    if (qmap(j).nonEmpty) pack(j)
    else if (qmap(j \ "parsed").nonEmpty) pack(j \ "parsed")
    else {
      val tail = j \ "tail" match { case JString(s) => s; case _ => "" }
      // first parseable {"metric":"total"...} line (the exact-"total"
      // anchor never matches the total_trailer line — same as the tool)
      val whole = "\\{\"metric\":\"total\".*".r.findAllIn(tail)
        .map(_.linesIterator.next())
        .flatMap(s => scala.util.Try(JsonMethods.parse(s)).toOption)
        .toSeq.headOption
      whole.map(pack).getOrElse {
        // fragment fallback: per-query "name":sec pairs (LAST occurrence
        // wins, like a python dict comprehension) + trailer metrics
        val qs = "\"(q[0-9]+[a-z0-9_]*)\":([0-9.]+)".r.findAllMatchIn(tail)
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq.toMap
        val trailer = "\\{\"metric\":\"total_trailer\".*?\\}".r.findFirstIn(tail)
          .flatMap(s => scala.util.Try(JsonMethods.parse(s)).toOption)
        (qs, trailer.flatMap(t => num(t \ "calib_mt_sec")),
          trailer.flatMap(t => num(t \ "value")))
      }
    }
  }.toOption.filter { case (q, _, v) => q.nonEmpty || v.nonEmpty }

  /** The per-class probe values out of a previous bench file — a plain
    * text scan (raw line, parsed envelope, or tail fragments all carry the
    * literal `"calib_shuffle_sec":N` when the round emitted them; rounds
    * before r14 simply don't, and per-class normalization then falls back
    * to the CPU factor). Last occurrence wins (the trailer repeats the
    * headline fields). */
  private[graft] def loadPrevProbes(path: String): (Option[Double], Option[Double]) =
    scala.util.Try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      def f(name: String): Option[Double] =
        ("\"" + name + "\":([0-9.eE+-]+)").r.findAllMatchIn(txt).toSeq.lastOption
          .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
      (f("calib_shuffle_sec"), f("calib_scan_sec"))
    }.getOrElse((None, None))

  /** The cross-round signal, self-reported (VERDICT r11 #4): ratios of
    * this run vs the previous round's bench, raw AND with the calib_mt
    * host factor divided out — the same three numbers bench_compare.py
    * prints (total, common-query total, per-query median; median = the
    * sorted ratios' len/2 element, matching the tool). `currQ` should be
    * the map a driver tail-capture of THIS line will retain (the
    * last-printed query map). */
  private[graft] def vsPrevJson(
      prev: (Map[String, Double], Option[Double], Option[Double]),
      prevPath: String, currQ: Map[String, Double], currTotal: Double,
      currCalib: Double,
      classes: Map[String, String] = Map.empty,
      currProbes: (Option[Double], Option[Double]) = (None, None),
      prevProbes: (Option[Double], Option[Double]) = (None, None),
      ctlCurr: Map[String, Double] = Map.empty,
      ctlSpread: Map[String, Double] = Map.empty,
      ctlPrev: Map[String, Double] = Map.empty): String = {
    val (qa, calibA, va) = prev
    val host = calibA.filter(_ > 0).map(c => currCalib / c)
    // per-class host factors, preference order (VERDICT r14 #2):
    //  1. CONTROL-QUERY factor — this round's in-run control median over
    //     the prev round's ctl_<cls>_sec trailer field, or (first
    //     control round, prev predates the trailer fields) over the prev
    //     QUERY MAP's entry for the same pinned query: a control is the
    //     workload itself, sampled start/mid/end, where the synthetic
    //     probes sample one instant and swung 1.77x within one r14 sweep;
    //  2. synthetic probe ratio (shuffle/scan, r14 behavior);
    //  3. the integer-CPU factor (pre-r14 behavior).
    val probeShuffle = for (c <- currProbes._1; p <- prevProbes._1 if p > 0)
      yield c / p
    val probeScan = for (c <- currProbes._2; p <- prevProbes._2 if p > 0)
      yield c / p
    val hostShuffle = probeShuffle.orElse(host)
    val hostScan = probeScan.orElse(host)
    // context discipline: a factor's numerator and denominator must come
    // from the SAME harness context. ctl-vs-ctl compares pack minimums
    // across rounds (r16+); the first-control-round fallback compares the
    // pinned query's RAW-SWEEP timing to the prev round's RAW-SWEEP
    // timing (currQ/qa — NOT ctlCurr/qa: pack runs measure 16-35% slower
    // than the same query in-sweep, and mixing contexts baked that bias
    // straight into the factor).
    val ctlQ = ControlQueries.toMap
    def ctlFactor(cls: String): Option[Double] =
      ctlCurr.get(cls).flatMap(c =>
          ctlPrev.get(cls).filter(_ > 0).map(c / _))
        .orElse(ctlQ.get(cls).flatMap(n =>
          for (p <- qa.get(n).filter(_ > 0); c <- currQ.get(n)) yield c / p))
    def clsOf(q: String): String = classes.getOrElse(q, "cpu")
    def clsFactor(cls: String): Option[Double] =
      ctlFactor(cls).orElse(cls match {
        case "shuffle" => hostShuffle
        case "scan" => hostScan
        case _ => host
      })
    val common = qa.keySet.intersect(currQ.keySet).toSeq.sorted
    val ta = va.orElse(Some(qa.values.sum).filter(_ => qa.nonEmpty))
    val totalRaw = ta.filter(_ > 0).map(currTotal / _)
    val (commonRaw, medianRaw) =
      if (common.isEmpty) (None, None)
      else {
        val ca = common.map(qa).sum
        val rs = common.collect { case q if qa(q) > 0 => currQ(q) / qa(q) }.sorted
        (Some(common.map(currQ).sum / ca).filter(_ => ca > 0),
          if (rs.nonEmpty) Some(rs(rs.size / 2)) else None)
      }
    def norm(v: Option[Double]): Option[Double] =
      for (h <- host; x <- v) yield x / h
    def opt(name: String, v: Option[Double]) =
      v.map(d => s""""$name":${jnum(d)}""")
    // per-class raw medians over the common set (no prev probes needed —
    // the r14 disambiguation instrument: if cpu-class queries move with
    // the cpu probe while shuffle-class queries move past it, the residual
    // is engine change, not host) + the class-normalized aggregates
    val commonPos = common.filter(q => qa(q) > 0)
    val clsStats = commonPos.groupBy(clsOf).toSeq.sortBy(_._1).flatMap {
      case (c, qs) =>
        val rs = qs.map(q => currQ(q) / qa(q)).sorted
        Seq(Some(s""""n_$c":${qs.size}"""),
          Some(s""""median_raw_$c":${jnum(rs(rs.size / 2))}"""))
    }
    val classnormMedian = {
      val rs = commonPos.flatMap(q =>
        clsFactor(clsOf(q)).map(f => (currQ(q) / qa(q)) / f)).sorted
      if (rs.nonEmpty) Some(rs(rs.size / 2)) else None
    }
    val classnormCommonTotal = {
      val items = commonPos.filter(q => clsFactor(clsOf(q)).nonEmpty)
      val denom = items.map(qa).sum
      if (denom > 0)
        Some(items.map(q => currQ(q) / clsFactor(clsOf(q)).get).sum / denom)
      else None
    }
    // JSON-escape the path: a SPARK_GRAFT_PREV_BENCH value containing a
    // quote or backslash would otherwise emit a malformed bench line (and
    // a `,"`-bearing path would desync vsPrevFlat's split)
    val prevEsc = prevPath.replace("\\", "\\\\").replace("\"", "\\\"")
    // control-query factors + spreads, one field pair per class that has
    // them — the spread is the error bar the Done-gate reads (<10% means
    // the class's normalized ratios are trustworthy this round)
    val ctlFields = ControlQueries.flatMap { case (cls, _) =>
      Seq(opt(s"ctl_factor_$cls", ctlFactor(cls)),
        opt(s"ctl_spread_$cls", ctlSpread.get(cls).filter(_ => ctlCurr.contains(cls))))
    }
    (Seq(Some(s""""prev":"$prevEsc""""), Some(s""""n_common":${common.size}"""),
      opt("host_factor", host),
      opt("host_factor_shuffle", probeShuffle),
      opt("host_factor_scan", probeScan),
      opt("total_ratio_raw", totalRaw), opt("total_ratio", norm(totalRaw)),
      opt("common_total_ratio_raw", commonRaw),
      opt("common_total_ratio", norm(commonRaw)),
      opt("median_ratio_raw", medianRaw), opt("median_ratio", norm(medianRaw)),
      opt("common_total_ratio_classnorm", classnormCommonTotal),
      opt("median_ratio_classnorm", classnormMedian))
      .flatten ++ ctlFields.flatten ++ clsStats.flatten).mkString("{", ",", "}")
  }

  /** The same vs-prev numbers FLATTENED to `vs_prev_*` scalar keys — the
    * trailer form. The trailer must stay a flat JSON object: the legacy
    * bench_compare envelope fallback grabs it with a non-greedy
    * `\{"metric":"total_trailer".*?\}`, which a nested object would
    * truncate at its inner closing brace (losing the calibration). */
  private[graft] def vsPrevFlat(nested: String): String =
    nested.stripPrefix("{").stripSuffix("}").split(",(?=\")")
      .map(kv => "\"vs_prev_" + kv.stripPrefix("\"")).mkString(",")

  /** [[vsPrevFlat]] minus the purely-diagnostic per-class fields — the
    * TRAILER form since r15. The trailer, the queries_core line and the
    * stream line must together fit the driver's ~2000-char tail capture;
    * the dropped fields (per-class n/median_raw, ctl spreads already
    * carried by the trailer's own ctl_<cls>_spread, the superseded
    * synthetic-probe factors) all remain in the full line's nested
    * vs_prev_normalized object on /tmp/bench.json. */
  private[graft] def vsPrevFlatCore(nested: String): String = {
    val drop = ("^\"vs_prev_(n_(?!common\")|median_raw_|ctl_spread_|" +
      "host_factor_shuffle|host_factor_scan)").r
    vsPrevFlat(nested).split(",(?=\")")
      .filter(kv => drop.findFirstIn(kv).isEmpty).mkString(",")
  }

  /** Previous round's bench file: env override, else the highest-numbered
    * `BENCH_r*.json` in the working directory (the driver checks them in). */
  private[graft] def prevBenchPath(): Option[String] =
    sys.env.get("SPARK_GRAFT_PREV_BENCH").filter(_.trim.nonEmpty).orElse {
      Option(new java.io.File(".").listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .map(_.getName).filter(_.matches("BENCH_r\\d+\\.json"))
        .sortBy(n => "\\d+".r.findFirstIn(n).get.toInt).lastOption
    }

  private def fmt(rs: Seq[(String, Option[Double])]): (String, String, Double, Int, Int) = {
    val ok = rs.collect { case (k, Some(v)) => k -> v }
    val errors = rs.collect { case (k, None) => k }
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    (qs, errs, ok.map(_._2).sum, ok.size, errors.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // "both" (default) | "compacted" | "raw" — dev iteration can skip a side
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "both")
    val spark = GraftSession.cli()
    Tables(spark, sfDir, "lineitem").count() // warmup
    // SPARK_GRAFT_ONLY=q101_pagerank,q102_triangles reruns a subset in the
    // same sweep harness — for isolating cross-query interactions that
    // single-query ExplainMain runs can't reproduce.
    val only = SparkEntry.parseOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // host calibration BEFORE any sweep: untimed work hasn't heated the
    // JVM heap yet and the machine state is what the sweep will see
    val calibThreads = GraftSession.cpus
    val calib1 = calibrate(1)
    val calibN = calibrate(calibThreads)
    // per-class probes beside the integer one (VERDICT r13 #2) — same
    // session, same thread count, before any sweep heats the heap
    val calibShuffle = calibrateShuffle(spark)
    val calibScan = calibrateScan(spark)

    // in-run control pack 1 of 3 — START of the sweep span (VERDICT r14
    // #2). Controls are skipped under SPARK_GRAFT_ONLY (dev subset runs
    // don't need cross-round factors).
    val doCtl = only.isEmpty
    val ctl1 = if (doCtl) runControlPack(spark, sfDir, warmup = true)
      else Map.empty[String, Double]

    val compactDir = "/tmp/graft_bench_compact"
    val compacted: Option[Seq[(String, Option[Double])]] =
      if (sweeps == "raw") None
      else if (compactFixtures(spark, sfDir, compactDir))
        Some(sweep(spark, compactDir, selected, warmupEach = true))
      else None

    def emit(raw: Option[Seq[(String, Option[Double])]],
        rawIsSubset: Boolean, streamLine: Option[String],
        vsPrev: Option[String],
        ctl: Option[(Map[String, Double], Map[String, Double])] = None): String = {
      // headline value = compacted total when available (layout-immune);
      // raw total rides along for continuity with pre-r9 BENCH files.
      // When the raw side ran the fixed diagnostic SUBSET (the default
      // beside a compacted sweep since r10), its total is named
      // total_raw_subset — a subset total must never be compared against
      // an earlier round's full total_raw.
      val comp = compacted.map(fmt)
      val rawF = raw.map(fmt)
      val (hQs, hErrs, hTotal, hN, hE) = comp.orElse(rawF).get
      val rawKey = if (rawIsSubset) "total_raw_subset" else "total_raw"
      // lifecycle split (VERDICT r11 #7): headline = pure + lifecycle
      val lcTotal = compacted.orElse(raw).get
        .collect { case (k, Some(v)) if LifecycleQueries(k) => v }.sum
      // field ORDER matters for the driver's 2000-char log-tail capture:
      // the bulky nested objects (stream_bench, vs_prev) sit BEFORE
      // queries_raw so the tail retains as many per-query fragments as
      // possible — bench_compare.py's envelope fallback reads exactly
      // those fragments for the cross-round per-query comparison
      // per-query class + diagnostics (bulky — early, so the driver's
      // log-tail capture still retains the per-query fragments + trailer)
      val qdiagJson = queryDiag.toSeq.sortBy(_._1)
        .map { case (k, d) => s""""$k":{${d.json}}""" }.mkString("{", ",", "}")
      // per-class control medians + spreads (the temporal error bar)
      val ctlJson = ctl.map { case (med, spr) =>
        val names = ControlQueries.toMap
        ControlQueries.flatMap { case (cls, _) => med.get(cls).map { m =>
          s""""$cls":{"q":"${names(cls)}","sec":${jnum(m)},"spread":${
            jnum(spr.getOrElse(cls, 0.0))}}"""
        } }.mkString("{", ",", "}")
      }.filter(_ != "{}")
      val extras = Seq(
        Some(s""""qdiag":$qdiagJson"""),
        ctlJson.map(c => s""""ctl":$c"""),
        Some(s""""total_lifecycle":$lcTotal,"total_pure":${hTotal - lcTotal}"""),
        comp.map { case (_, _, t, _, _) => s""""total_compacted":$t""" },
        streamLine.map(sl => s""""stream_bench":$sl"""),
        vsPrev.map(v => s""""vs_prev_normalized":$v"""),
        rawF.map { case (_, _, t, n, _) => s""""$rawKey":$t,"n_raw":$n""" },
        rawF.filter(_ => comp.nonEmpty)
          .map { case (qs, es, _, _, _) => s""""queries_raw":$qs,"errors_raw":$es""" },
        Some(s""""layout":"${if (comp.nonEmpty) "compacted" else "raw"}""""),
        Some(s""""calib_1t_sec":$calib1,"calib_mt_sec":$calibN,"calib_threads":$calibThreads,""" +
          s""""calib_shuffle_sec":$calibShuffle,"calib_scan_sec":$calibScan""")
      ).flatten.mkString(",")
      s"""{"metric":"total","value":$hTotal,"unit":"sec","queries":$hQs,"errors":$hErrs,"sf":"$sfDir",$extras}"""
    }
    def persist(line: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/bench.json"),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // checkpoint the primary sweep to disk before the raw sweep runs, so a
    // killed/truncated run still leaves the layout-immune number behind
    if (compacted.nonEmpty) persist(emit(None, rawIsSubset = false, None, None))

    // beside a compacted primary, the raw side runs only the fixed
    // diagnostic subset (layout-shift detector) — "rawfull" restores the
    // full sweep; raw-primary mode (compaction failed or sweeps=raw)
    // always runs everything
    // control pack 2 of 3 — MIDDLE of the sweep span (between the
    // compacted and raw sweeps)
    val ctl2 = if (doCtl) runControlPack(spark, sfDir, warmup = false)
      else Map.empty[String, Double]

    val rawIsSubset = compacted.nonEmpty && sweeps != "rawfull" && only.isEmpty
    val raw: Option[Seq[(String, Option[Double])]] =
      if (sweeps == "compacted") None
      else {
        val rawSel =
          if (rawIsSubset) selected.filter(s => RawDiagnosticSubset.contains(s._1))
          else selected
        Some(sweep(spark, sfDir, rawSel, warmupEach = compacted.isEmpty))
      }

    val streamLine = streamBench(spark, sfDir)

    // control pack 3 of 3 — END of the sweep span
    val ctl3 = if (doCtl) runControlPack(spark, sfDir, warmup = false)
      else Map.empty[String, Double]
    val (ctlMed, ctlSpr) = ctlStats(Seq(ctl1, ctl2, ctl3))

    // cross-round self-report (VERDICT r11 #4): compare against the
    // previous round's checked-in BENCH file with the host calibration
    // divided out. The current side uses the query map a driver
    // tail-capture of this line will retain — the raw(-subset) map when
    // it ran (printed last), else the headline map.
    val vsPrev = {
      val (_, _, hTot, _, _) = compacted.orElse(raw).map(fmt).get
      val currQ = raw.orElse(compacted).get
        .collect { case (k, Some(v)) => k -> v }.toMap
      prevBenchPath().flatMap(p =>
        loadPrevBench(p).map(d => vsPrevJson(d, p, currQ, hTot, calibN,
          classes = queryClasses.toMap,
          currProbes = (Some(calibShuffle), Some(calibScan)),
          prevProbes = loadPrevProbes(p),
          ctlCurr = ctlMed, ctlSpread = ctlSpr,
          ctlPrev = loadPrevCtl(p))))
    }

    val line = emit(raw, rawIsSubset, streamLine, vsPrev,
      ctl = Some((ctlMed, ctlSpr)))
    println(line)
    persist(line)
    // the stream bench also gets its own short line: the driver's log-tail
    // capture (~2000 chars) would usually cut it out of the full line
    // Stable comparison core (VERDICT r14 #6): a compact line before the
    // stream + trailer lines, so the driver's ~2000-char tail capture
    // retains ≥20 per-query fragments (loadPrevBench / bench_compare.py's
    // fragment fallback reads them; last occurrence wins, so these values
    // override any surviving queries_raw remnants with the same raw-first
    // semantics at 2 decimals). LINE ORDER is the tail budget: core FIRST
    // (its head absorbs the cut), then stream_bench, then the trailer —
    // stream + trailer + sbt's closing footer must survive whole.
    val rawMapC = raw.map(_.collect { case (k, Some(v)) => k -> v }.toMap)
      .getOrElse(Map.empty)
    val compMapC = compacted.map(_.collect { case (k, Some(v)) => k -> v }.toMap)
      .getOrElse(Map.empty)
    val coreVals = CoreQueries.flatMap(q =>
      rawMapC.get(q).orElse(compMapC.get(q)).map(q -> _))
    if (coreVals.nonEmpty)
      println(coreVals.map { case (k, v) => s""""$k":${jnum(v, 2)}""" }
        .mkString("""{"metric":"queries_core","queries":{""", ",", "}}"))
    streamLine.foreach(sl =>
      println(s"""{"metric":"stream_bench","processors":$sl,"sf":"$sfDir"}"""))
    // The full line is ~20 KB at 290 queries; a log-tail capture (last ~2000
    // chars) would cut off the leading total. Repeat the headline metrics in
    // a short trailer line so any suffix of the output still carries them.
    // Numerics are jnum-rounded: full-precision doubles would spend ~10
    // chars per field of the same tail budget the core line needs.
    val (_, _, hTotal, hN, hE) = compacted.orElse(raw).map(fmt).get
    val tc = compacted.map(fmt(_)._3)
      .map(t => s""","total_compacted":${jnum(t)}""").getOrElse("")
    val trKey = if (rawIsSubset) "total_raw_subset" else "total_raw"
    val tr = raw.map(fmt(_)._3).map(t => s""","$trKey":${jnum(t)}""").getOrElse("")
    // vs_prev + the lifecycle split ride the trailer too (FLATTENED —
    // the trailer must stay a nesting-free object, see vsPrevFlat): the
    // driver's tail capture keeps the END of the output, trailer last
    val vp = vsPrev.map(v => "," + vsPrevFlatCore(v)).getOrElse("")
    val lcT = compacted.orElse(raw).get
      .collect { case (k, Some(v)) if LifecycleQueries(k) => v }.sum
    // per-class control medians + spreads, flat (loadPrevCtl reads the
    // ctl_<cls>_sec fields from here next round)
    val ctlFlat = ControlQueries.flatMap { case (cls, _) =>
      ctlMed.get(cls).map(m =>
        s""","ctl_${cls}_sec":${jnum(m)},"ctl_${cls}_spread":${
          jnum(ctlSpr.getOrElse(cls, 0.0))}""")
    }.mkString
    println(s"""{"metric":"total_trailer","value":${jnum(hTotal)},"unit":"sec","n_queries":$hN,"n_errors":$hE$tc$tr,"total_lifecycle":${jnum(lcT)},"total_pure":${jnum(hTotal - lcT)},"calib_mt_sec":${jnum(calibN)},"calib_shuffle_sec":${jnum(calibShuffle)},"calib_scan_sec":${jnum(calibScan)}$ctlFlat$vp,"sf":"$sfDir","full":"/tmp/bench.json"}""")
    spark.stop()
  }
}
