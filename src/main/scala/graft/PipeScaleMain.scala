package graft

import org.apache.spark.sql.functions._

/** Scale harness for the COMPOSED curation pipeline (VERDICT r14 #1).
  *
  * Every stage of [[PipelineMain]]'s loop is individually scale-proven
  * (SCALE.md: LSH family, standing index probe, cluster fold, Bloom
  * screen, table lifecycle) — but the composition (one `pipelineBatch`
  * holding two table locks while chaining novelty gate → index probe →
  * cluster fold → corpus append → optimize cadence) had only ever run at
  * sf0.01. This main runs the EXACT production stream — PipelineMain's
  * own `feed` and `drain` (the `CorpusStream.curated` gates into the
  * `pipelineBatch` sink, checkpointed `Trigger.AvailableNow` drains) with
  * `workDir` as the pipe dir — over the documents table of any fixture
  * tier, delivered in WAVES, and writes a per-wave ledger:
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
  * A [[RunLedger]] ledger at `workDir/pipescale.jsonl` (each row also on
  * stdout): the header, a `pipescale_setup` row, one `pipescale_wave` row
  * per wave and a final `pipescale_total` row with the tier totals (the
  * cross-tier comparison row for SCALE.md).
  */
object PipeScaleMain {

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
    val spark = GraftSession.cli()

    graft.operators.Generations.deleteTree(workDir)
    new java.io.File(workDir).mkdirs()
    val feedDir = s"$workDir/feed"
    val t = streaming.CorpusStream.Layout(workDir)
    val ledger = RunLedger.open(s"$workDir/pipescale.jsonl", "PipeScaleMain", sfDir)
    import RunLedger.{Row, mb}

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
    ledger.write(Row("metric" -> "pipescale_setup", "sf" -> sfDir,
      "docs" -> totalDocs, "bloom_bits" -> bloomBits))

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
      // PipelineMain's own drain of exactly this wave's new files; the
      // feed's schema read stays outside the timed window
      val feed = PipelineMain.feed(spark, feedDir)
      graft.operators.Generations.drainLockHoldMs()
      val (_, m) = RunLedger.measure(spark) {
        PipelineMain.drain(feed, workDir, optimizeEvery, bloomBits = bloomBits)
      }
      wallTotal += m.wallSec; spillTotal += m.spillBytes
      val locks = graft.operators.Generations.drainLockHoldMs()
      // key by the last TWO path segments: both standing tables' live
      // generations are named gen-N, table-qualifying disambiguates
      val lockHold = Row(locks.toSeq.sortBy(_._1).map { case (p, ms) =>
        val f = new java.io.File(p)
        val key = Option(f.getParentFile).map(_.getName + "/").getOrElse("") +
          f.getName
        key -> ms
      }: _*)
      val counts = new PipelineMain.Counts(spark, workDir)
      // standing-filter occupancy (AggState.bloomFill): the saturation
      // early-warning the r15 tiers showed the pipeline needs — fill_bp
      // must stay well under ~5000 for the novelty gate to mean anything
      val fillBp = scala.util.Try {
        val gen = graft.operators.Generations.current(t.bloom)
          .getOrElse(s"${t.bloom}/gen-0")
        graft.operators.AggState.bloomFill(spark, gen)
          .select("fill_bp").head().getLong(0)
      }.getOrElse(-1L)
      // exact-paragraph trim stage: this wave's admission delta (paras
      // probed/trimmed) + the standing digest state's footprint
      val (paraInCum, paraDropCum) = counts.paraTotals
      val (paraIn, paraDrop) = (paraInCum - paraInPrev, paraDropCum - paraDropPrev)
      paraInPrev = paraInCum; paraDropPrev = paraDropCum
      ledger.write(Row("metric" -> "pipescale_wave", "sf" -> sfDir, "wave" -> w,
        "docs_in" -> nIn, "wall_sec" -> m.wallSec,
        "spill_mb" -> mb(m.spillBytes), "shuffle_mb" -> mb(m.shuffleBytes),
        "lock_hold_ms" -> lockHold, "corpus_rows" -> counts.corpusDocs,
        "corpus_mb" -> mb(dirBytes(t.corpus)), "index_mb" -> mb(dirBytes(t.index)),
        "bloom_mb" -> mb(dirBytes(t.bloom)), "bloom_fill_bp" -> fillBp,
        "para_in" -> paraIn, "para_trimmed" -> paraDrop,
        "para_mb" -> mb(dirBytes(t.para)),
        "clusters_mb" -> mb(dirBytes(t.clusters))))
    }
    val end = new PipelineMain.Counts(spark, workDir)
    ledger.write(Row("metric" -> "pipescale_total", "sf" -> sfDir, "waves" -> waves,
      "docs_in" -> totalDocs, "corpus_docs" -> end.corpusDocs,
      "paras_in" -> paraInPrev, "paras_trimmed" -> paraDropPrev,
      "dup_clusters" -> end.dupClusters, "wall_sec" -> wallTotal,
      "wall_with_setup_sec" -> (System.nanoTime() - t0All) / 1e9,
      "spill_mb" -> mb(spillTotal),
      "calib_mt_sec" -> Bench.calibrate(GraftSession.cpus)))
    docs.unpersist()
    spark.stop()
  }
}
