package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{AggState, ClusterState, Generations}
import graft.streaming.CorpusStream

/** `curation_waves`: the production curation stream wired as in
  * `PipelineMain` — `CorpusStream.curated` feeding `pipelineBatch` with the
  * paragraph table on — drained once per wave with `Trigger.AvailableNow`.
  * Each op is one wave: the drain (write) and the end-of-drain report a
  * reader of the published state sees (read: corpus size, dup clusters,
  * paragraph ledger), as `PipelineMain` prints it.
  *
  * Each wave offers fresh documents plus seeded injections whose fate is
  * known by construction, which is what the output check compares with:
  *  - a repeated paragraph (exact copy of an admitted doc's paragraph) is
  *    trimmed, and its doc is still admitted;
  *  - a near copy of a doc admitted in an EARLIER wave is dropped by the
  *    novelty gate (all but one of its 8-grams are in the filter);
  *  - a near copy of a doc in the SAME wave passes the novelty gate, is
  *    paired by the near-dup probe, dropped, and leaves one dup cluster. */
final class CurationWaves(ctx: Ctx) extends Workload {
  import CurationWaves._
  private val spark = ctx.spark
  private var dir = ""
  private var plan: IndexedSeq[Wave] = IndexedSeq.empty
  private var staged = -1
  private var drained = 0
  private var batchMs = 0.0
  private var last = Report(0L, 0L, 0L, 0L)

  private def feedDir = s"$dir/feed"
  private def bloomTable = s"$dir/bloom"
  private def indexTable = s"$dir/index"
  private def paraTable = s"$dir/para"
  private def clusterDir = s"$dir/clusters"
  private def corpusDir = s"$dir/corpus"
  private lazy val bloomBits = java.math.BigInteger.valueOf(
    math.max(AggState.BloomDefaultBits, Waves * WaveDocs * 33L * 8L))
    .nextProbablePrime().longValueExact()

  def prepare(d: String): Unit = {
    dir = d
    plan = CurationWaves.plan(ctx.seed)
    new File(feedDir).mkdirs()
  }

  def warmup(): Unit = {
    (0 until WarmupWaves).foreach { w => stage(w); drain(w); report() }
    stage(WarmupWaves)
  }

  def opName(i: Int): String = "wave"

  def op(i: Int, phase: Phase): Map[String, Double] = {
    val w = WarmupWaves + i
    require(w < plan.size, s"wave plan exhausted at wave $w")
    Generations.drainLockHoldMs()
    val files = Main.parquetFiles(new File(indexTable)).toDouble
    val drainMs = { val t0 = Clock.nowMs; phase.write("drain")(drain(w)); Clock.nowMs - t0 }
    val locks = Generations.drainLockHoldMs()
    def lock(table: String): Double = locks.collect {
      case (p, ms) if p.contains(s"/$table") => ms.toDouble }.sum
    val before = last
    phase.read("report.read")(report())
    Map("docs" -> plan(w).docs.size.toDouble, "drain_ms" -> drainMs,
      "pipeline.batch_ms" -> batchMs, "index.files" -> files,
      "generations.lock_hold_ms.bloom" -> lock("bloom"),
      "generations.lock_hold_ms.index" -> lock("index"),
      "generations.lock_hold_ms.para" -> lock("para"),
      "curation.admitted" -> (last.corpus - before.corpus).toDouble,
      "curation.paras_in" -> (last.parasIn - before.parasIn).toDouble,
      "curation.paras_trimmed" -> (last.parasTrimmed - before.parasTrimmed).toDouble,
      "curation.dup_edges" -> plan(w).nearSame.toDouble)
  }

  /** The next wave's file lands in the feed between ops (the "new crawl
    * drop arrived" moment), outside the op's time. */
  override def between(): Unit = stage(drained)

  private def stage(w: Int): Unit = if (w > staged && w < plan.size) {
    val tmp = s"$dir/tmp_wave"
    Gen.docTable(spark, plan(w).docs)
      .select("doc_id", "text", "lang", "source")
      .withColumn("ingest_ts", to_timestamp(lit("2024-01-01 00:00:00")) +
        expr(s"INTERVAL '$w' MINUTE"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    Option(new File(tmp).listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, j) =>
        Files.move(f.toPath, Paths.get(feedDir, s"wave_${w}_$j.parquet"))
      }
    staged = w
  }

  private def drain(w: Int): Unit = {
    require(staged >= w, s"wave $w not staged")
    batchMs = 0.0
    val feed = spark.readStream.schema(FeedSchema).parquet(feedDir)
    val curated = ctx.trace.span("CorpusStream.curated")(CorpusStream.curated(feed))
    val parent = ctx.trace.top
    val q = curated.writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch(batch(parent) _)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    drained = w + 1
  }

  /** The benchmark's own foreachBatch wrapper: times `pipelineBatch` and
    * parents the batch's Spark jobs to the wave's span. */
  private def batch(parent: (Long, Long))(df: DataFrame, id: Long): Unit = {
    val t0 = Clock.nowMs
    try ctx.trace.spanUnder(parent, "CorpusStream.pipelineBatch") {
      CorpusStream.pipelineBatch(bloomTable, indexTable, clusterDir, corpusDir,
        OptimizeEvery, bloomBits = bloomBits, paraTable = paraTable)(df, id)
    } finally batchMs += Clock.nowMs - t0
  }

  private def report(): Unit = {
    val corpus = spark.read.parquet(corpusDir).count()
    val clusters =
      if (ClusterState.exists(clusterDir))
        ClusterState.clusters(spark, clusterDir).select("cluster_id").distinct().count()
      else 0L
    val r = spark.read.parquet(s"$paraTable/trim_ledger")
      .agg(sum("paras_in"), sum("paras_dropped")).head()
    last = Report(corpus, clusters, r.getLong(0), r.getLong(1))
  }

  def check(): Seq[String] = {
    val done = plan.take(drained)
    val want = Report(done.map(_.admitted).sum.toLong, done.map(_.nearSame).sum.toLong,
      last.parasIn, done.map(_.paraRepeats).sum.toLong)
    Seq(
      ("admitted docs", last.corpus, want.corpus),
      ("dup clusters", last.clusters, want.clusters),
      ("trimmed paragraphs", last.parasTrimmed, want.parasTrimmed))
      .collect { case (what, got, exp) if got != exp =>
        s"curation after $drained waves: $what $got, expected $exp" }
  }

  def docs(ops: Seq[OpRec], recordsRead: Long): (Double, Double) = {
    val ok = ops.filter(_.ok)
    (ok.map(_.attrs.getOrElse("docs", 0.0)).sum, ok.map(_.attrs.getOrElse("drain_ms", 0.0)).sum)
  }

  def stateDirs: Seq[String] = Seq(bloomTable, indexTable, paraTable, clusterDir, corpusDir)

  def traffic: Map[String, Double] = {
    val done = plan.take(drained)
    val offered = done.map(_.docs.size).sum.toDouble
    Map("waves" -> done.size.toDouble, "docs_offered" -> offered,
      "near_dup_share" -> done.map(w => w.nearSame + w.nearCross).sum / offered,
      "repeated_paragraph_share" -> done.map(_.paraRepeats).sum / offered)
  }

  def fingerprint: String = CurationWaves.fingerprint(ctx.seed)
}

object CurationWaves {
  val WarmupWaves = 2
  val Waves = 80
  val WaveDocs = 30
  val OptimizeEvery = 4

  val FeedSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, ingest_ts TIMESTAMP")

  final case class Report(corpus: Long, clusters: Long, parasIn: Long, parasTrimmed: Long)

  final case class Wave(docs: Seq[Gen.Doc], admitted: Int, nearSame: Int,
      nearCross: Int, paraRepeats: Int)

  /** The seeded wave plan. Per wave: 20 fresh docs (12 paragraph-form, 8
    * block-form), 4 docs repeating one paragraph of an admitted doc, 3
    * near copies of this wave's block-form docs and, from the second wave
    * on, 3 near copies of earlier waves' block-form docs. Ids rise with
    * arrival, so every copy has a larger id than its source. */
  def plan(seed: Long): IndexedSeq[Wave] = {
    val g = new DocGen(seed)
    val paraPool = mutable.ArrayBuffer[String]()
    val blockPool = mutable.ArrayBuffer[String]()
    (0 until Waves).map { w =>
      var next = w * 1000L
      def id(): Long = { next += 1; next }
      val paraDocs = Seq.fill(12)(g.paragraphs(2 + g.nextInt(3)))
      val blocks = Seq.fill(8)(g.alignedBlockDoc())
      val fresh = g.shuffle(paraDocs.map(_.mkString("\n\n")) ++ blocks).map(t => Gen.Doc(id(), t))
      paraPool ++= paraDocs.flatten
      val repeats = Seq.fill(4) {
        val own = g.paragraphs(2 + g.nextInt(2))
        val copied = paraPool(g.nextInt(paraPool.size))
        val at = g.nextInt(own.size + 1)
        Gen.Doc(id(), (own.take(at) ++ Seq(copied) ++ own.drop(at)).mkString("\n\n"))
      }
      val same = g.shuffle(blocks).take(3).map(t => Gen.Doc(id(), g.nearCopy(t)))
      val cross =
        if (blockPool.isEmpty) Nil
        else g.shuffle(blockPool.toSeq).take(3).map(t => Gen.Doc(id(), g.nearCopy(t)))
      blockPool ++= blocks
      Wave(fresh ++ repeats ++ same ++ cross, fresh.size + repeats.size, same.size,
        cross.size, repeats.size)
    }
  }

  def fingerprint(seed: Long): String = f"${plan(seed).flatMap(_.docs).hashCode()}%08x"
}
