package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Scale harness for the COMPOSED curation pipeline (VERDICT r14 #1).
  *
  * Every stage of [[PipelineMain]]'s loop is individually scale-proven
  * (SCALE.md: LSH family, standing index probe, cluster fold, Bloom
  * screen, table lifecycle) — but the composition (one `pipelineBatch`
  * holding two table locks while chaining novelty gate → index probe →
  * cluster fold → corpus append → optimize cadence) had only ever run at
  * sf0.01. This main runs the EXACT production stream — the same
  * `CorpusStream.curated` gates and the same `pipelineBatch` sink
  * PipelineMain wires, checkpointed `Trigger.AvailableNow` drains — over
  * the documents table of any fixture tier, delivered in WAVES, and
  * writes a per-wave ledger:
  *
  *   - `wall_sec` — the wave's end-to-end drain time;
  *   - `spill_mb` / `shuffle_mb` — task-metric totals for the wave (the
  *     scale-killer signal; every prior tier measurement reads 0 spill);
  *   - `lock_hold_ms` — per standing table, how long the wave held its
  *     writer locks ([[graft.operators.Generations.drainLockHoldMs]]) —
  *     the single-writer serialization cost the composed loop adds over
  *     its stages;
  *   - state-table sizes after the wave (corpus/index/bloom/clusters
  *     bytes + rows) — growth must track admissions, not waves².
  *
  * Waves split by `doc_id % waves`, NOT by range: the 10×/100× fixtures
  * replicate near-dup families structurally (SCALE.md §Fixture), and a
  * modulus split strands family members in different waves — so later
  * waves exercise the STANDING-index probe path (cross-batch near-dups),
  * not just within-batch LSH. `ingest_ts` is stamped per wave on a fixed
  * epoch so the run is deterministic and the exact-dedup watermark sees
  * monotone event time.
  *
  * ```
  * runMain graft.PipeScaleMain <sfDir> <workDir> [waves] [optimizeEvery]
  * ```
  *
  * One JSON line per wave on stdout AND `workDir/pipescale.jsonl`; a
  * final `{"metric":"pipescale_total",...}` line carries the tier totals
  * (the cross-tier comparison row for SCALE.md).
  */
object PipeScaleMain {

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length
    val f = new java.io.File(path)
    if (f.exists()) walk(f) else 0L
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipeScaleMain <sfDir> <workDir> [waves] [optimizeEvery]")
    val sfDir = args(0)
    val workDir = args(1)
    val waves = args.lift(2).map(_.toInt).getOrElse(10)
    val optimizeEvery = args.lift(3).map(_.toInt).getOrElse(4)
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    rmTree(new java.io.File(workDir))
    new java.io.File(workDir).mkdirs()
    val feedDir = s"$workDir/feed"
    val bloomTable = s"$workDir/bloom"
    val indexTable = s"$workDir/index"
    val clusterDir = s"$workDir/clusters"
    val corpusDir = s"$workDir/corpus"
    val paraTable = s"$workDir/para"
    val ledgerPath = java.nio.file.Paths.get(s"$workDir/pipescale.jsonl")

    // task-metric capture, drained per wave
    val spillB = new AtomicLong(); val shB = new AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          shB.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten); ()
        }
    })

    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source")
      .localCheckpoint(eager = true)
    val totalDocs = docs.count()
    // novelty filter sized to the TIER: ~8 bits per expected corpus
    // 8-gram (≈ 33/doc here) — the r15 finding: the 2^20 default
    // saturates at ~15k docs and the gate then drops everything, so an
    // unsized 100x run measures empty batches, not scale. Prime modulus
    // keeps the (h*salt + j) mod mBits positions well-distributed.
    val bloomBits = java.math.BigInteger.valueOf(
      math.max(graft.operators.AggState.BloomDefaultBits, totalDocs * 33L * 8L))
      .nextProbablePrime().longValueExact()
    println(s"""{"metric":"pipescale_setup","sf":"$sfDir","docs":$totalDocs,""" +
      s""""bloom_bits":$bloomBits}""")

    def mb(b: Long): String = Bench.jnum(b / 1048576.0, 1)
    var wallTotal = 0.0; var spillTotal = 0L
    // exact-paragraph trim ledger is cumulative (1 row/batch); per-wave
    // deltas come from differencing the running totals
    var paraInPrev = 0L; var paraDropPrev = 0L
    val t0All = System.nanoTime()
    (0 until waves).foreach { w =>
      val wave = docs.filter(pmod(col("doc_id"), lit(waves.toLong)) === w)
        .withColumn("ingest_ts",
          to_timestamp(lit("2024-01-01 00:00:00")) +
            expr(s"INTERVAL '$w' MINUTE"))
      // the file-stream source lists FLAT files — write the wave to a tmp
      // dataset dir, then move its part files into the feed (the "new
      // crawl drop landed" moment)
      val tmpWave = s"$workDir/tmp_wave"
      wave.write.mode("overwrite").parquet(tmpWave)
      new java.io.File(feedDir).mkdirs()
      Option(new java.io.File(tmpWave).listFiles).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(feedDir, s"wave_${w}_$i.parquet"))
        }
      val nIn = wave.count()
      // the PRODUCTION stream, verbatim: curated gates -> pipelineBatch,
      // checkpointed AvailableNow drain of exactly this wave's new file
      val schema = spark.read.parquet(feedDir).schema
      val feed = spark.readStream.schema(schema).parquet(feedDir)
        .withColumn("ingest_ts", col("ingest_ts").cast("timestamp"))
      org.apache.spark.graft.ListenerBridge.drain(spark)
      spillB.set(0L); shB.set(0L)
      graft.operators.Generations.drainLockHoldMs()
      val t0 = System.nanoTime()
      val q = streaming.CorpusStream.curated(feed).writeStream
        .option("checkpointLocation", s"$workDir/checkpoint")
        .foreachBatch(streaming.CorpusStream.pipelineBatch(bloomTable,
          indexTable, clusterDir, corpusDir, optimizeEvery,
          bloomBits = bloomBits, paraTable = paraTable) _)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.drain(spark)
      wallTotal += wall; spillTotal += spillB.get
      val locks = graft.operators.Generations.drainLockHoldMs()
      // key by the last TWO path segments: both standing tables' live
      // generations are named gen-N, table-qualifying disambiguates
      val lockJson = locks.toSeq.sortBy(_._1).map { case (p, ms) =>
        val f = new java.io.File(p)
        val key = Option(f.getParentFile).map(_.getName + "/").getOrElse("") +
          f.getName
        s""""$key":$ms""" }.mkString("{", ",", "}")
      val corpusRows = scala.util.Try(
        spark.read.parquet(corpusDir).count()).getOrElse(0L)
      // standing-filter occupancy (AggState.bloomFill): the saturation
      // early-warning the r15 tiers showed the pipeline needs — fill_bp
      // must stay well under ~5000 for the novelty gate to mean anything
      val fillBp = scala.util.Try {
        val gen = graft.operators.Generations.current(bloomTable)
          .getOrElse(s"$bloomTable/gen-0")
        graft.operators.AggState.bloomFill(spark, gen)
          .select("fill_bp").head().getLong(0)
      }.getOrElse(-1L)
      // exact-paragraph trim stage: this wave's admission delta (paras
      // probed/trimmed) + the standing digest state's footprint
      val (paraInCum, paraDropCum) = scala.util.Try {
        val r = spark.read.parquet(s"$paraTable/trim_ledger")
          .agg(sum("paras_in"), sum("paras_dropped")).head()
        (r.getLong(0), r.getLong(1))
      }.getOrElse((0L, 0L))
      val (paraIn, paraDrop) = (paraInCum - paraInPrev, paraDropCum - paraDropPrev)
      paraInPrev = paraInCum; paraDropPrev = paraDropCum
      val line =
        s"""{"metric":"pipescale_wave","sf":"$sfDir","wave":$w,""" +
          s""""docs_in":$nIn,"wall_sec":${Bench.jnum(wall, 2)},""" +
          s""""spill_mb":${mb(spillB.get)},"shuffle_mb":${mb(shB.get)},""" +
          s""""lock_hold_ms":$lockJson,"corpus_rows":$corpusRows,""" +
          s""""corpus_mb":${mb(dirBytes(corpusDir))},""" +
          s""""index_mb":${mb(dirBytes(indexTable))},""" +
          s""""bloom_mb":${mb(dirBytes(bloomTable))},""" +
          s""""bloom_fill_bp":$fillBp,""" +
          s""""para_in":$paraIn,"para_trimmed":$paraDrop,""" +
          s""""para_mb":${mb(dirBytes(paraTable))},""" +
          s""""clusters_mb":${mb(dirBytes(clusterDir))}}"""
      println(line)
      java.nio.file.Files.write(ledgerPath, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }
    val clustersN =
      if (graft.operators.ClusterState.exists(clusterDir))
        graft.operators.ClusterState.clusters(spark, clusterDir)
          .select("cluster_id").distinct().count()
      else 0L
    val corpusN = scala.util.Try(
      spark.read.parquet(corpusDir).count()).getOrElse(0L)
    val totalLine =
      s"""{"metric":"pipescale_total","sf":"$sfDir","waves":$waves,""" +
        s""""docs_in":$totalDocs,"corpus_docs":$corpusN,""" +
        s""""paras_in":$paraInPrev,"paras_trimmed":$paraDropPrev,""" +
        s""""dup_clusters":$clustersN,""" +
        s""""wall_sec":${Bench.jnum(wallTotal, 2)},""" +
        s""""wall_with_setup_sec":${Bench.jnum((System.nanoTime() - t0All) / 1e9, 2)},""" +
        s""""spill_mb":${mb(spillTotal)},""" +
        s""""calib_mt_sec":${Bench.jnum(Bench.calibrate(scala.util.Try(
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrElse(4)))}}"""
    println(totalLine)
    java.nio.file.Files.write(ledgerPath, (totalLine + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    docs.unpersist()
    spark.stop()
  }
}
