package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end corpus curation as ONE long-running CLI (VERDICT r12 #8) —
  * the capstone wiring of every standing-state piece:
  *
  *   directory feed (new parquet files = new crawl drops)
  *     -> CorpusStream.curated   (quality/repetition gates, watermarked
  *                                exact dedup, PII scrub)
  *     -> CorpusStream.pipelineBatch
  *          exact-paragraph trim (standing q312 digest state — exact-FIRST,
  *                           the cheapest dedup op runs before every gate)
  *          novelty gate    (standing Bloom state, generation-managed)
  *          near-dup probe  (standing DedupIndex, generation-managed)
  *          cluster fold    (standing ClusterState — every duplicate edge
  *                           recorded BEFORE the copy is dropped)
  *          corpus append   (the published, gated corpus)
  *          optimize/publish/retire every `optimizeEvery` batches, under
  *          the writer locks of both tables and their live generations
  *
  * ```
  * runMain graft.PipelineMain <inDir> <pipeDir> [optimizeEvery] [keepLast]
  *                            [retentionHours] [minNovelBp] [bloomBits]
  * ```
  *
  * `bloomBits` sizes the novelty filter at FIRST build — ~8 bits per
  * expected corpus 8-gram (≈ docs × 33 for this corpus shape). The
  * default 2^20 saturates around ~15k docs, after which the gate drops
  * nearly everything (the r15 scale-tier finding; PipeScaleMain sizes it
  * from the tier automatically).
  *
  * `pipeDir` layout: `bloom/` + `index/` + `para/` (generation-managed
  * standing tables; `para/trim_ledger` holds the per-batch retention
  * rows), `clusters/` (standing dup clusters), `corpus/` (admitted
  * docs), `checkpoint/` (streaming offsets — a rerun resumes, reprocessing
  * nothing already committed). Runs with `Trigger.AvailableNow`: one
  * invocation drains everything currently in `inDir` and exits — the cron
  * shape; re-running after new files land processes only the delta.
  *
  * The feed needs (doc_id, text, lang, source); `ingest_ts` is taken from
  * the files when present, else stamped at intake (only the exact-dedup
  * watermark consumes it).
  */
object PipelineMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineMain <inDir> <pipeDir> [optimizeEvery] [keepLast] " +
        "[retentionHours] [minNovelBp]")
    val inDir = args(0)
    val pipeDir = args(1)
    val optimizeEvery = args.lift(2).map(_.toInt).getOrElse(4)
    val keepLast = args.lift(3).map(_.toInt).getOrElse(1)
    val retentionHours = args.lift(4).map(_.toDouble).getOrElse(0.0)
    val minNovelBp = args.lift(5).map(_.toLong).getOrElse(3000L)
    val bloomBits = args.lift(6).map(_.toLong)
      .getOrElse(graft.operators.AggState.BloomDefaultBits)
    val spark = GraftSession.cli()

    val schema = spark.read.parquet(inDir).schema
    val raw = spark.readStream.schema(schema).parquet(inDir)
    val feed =
      if (schema.fieldNames.contains("ingest_ts"))
        raw.withColumn("ingest_ts", col("ingest_ts").cast("timestamp"))
      else raw.withColumn("ingest_ts", current_timestamp())

    val bloomTable = s"$pipeDir/bloom"
    val indexTable = s"$pipeDir/index"
    val clusterDir = s"$pipeDir/clusters"
    val corpusDir = s"$pipeDir/corpus"
    val paraTable = s"$pipeDir/para"

    val q = streaming.CorpusStream.curated(feed).writeStream
      .option("checkpointLocation", s"$pipeDir/checkpoint")
      .foreachBatch(streaming.CorpusStream.pipelineBatch(bloomTable,
        indexTable, clusterDir, corpusDir, optimizeEvery, keepLast,
        retentionHours, minNovelBp, bloomBits, paraTable) _)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // end-of-drain report: the published state a reader sees
    import graft.operators.{ClusterState, Generations}
    def cnt(p: String): Long =
      if (new java.io.File(p).exists())
        scala.util.Try(spark.read.parquet(p).count()).getOrElse(0L)
      else 0L
    val corpusN = cnt(corpusDir)
    val clustersN =
      if (ClusterState.exists(clusterDir))
        ClusterState.clusters(spark, clusterDir)
          .select("cluster_id").distinct().count()
      else 0L
    val bloomGen = Generations.current(bloomTable).getOrElse("(unpublished)")
    val indexGen = Generations.current(indexTable).getOrElse("(unpublished)")
    val paraGen = Generations.current(paraTable).getOrElse("(unpublished)")
    // exact-paragraph retention totals (the trim ledger, 1 row/batch)
    val (paraIn, paraDropped) = scala.util.Try {
      val r = spark.read.parquet(s"$paraTable/trim_ledger")
        .agg(sum("paras_in"), sum("paras_dropped")).head()
      (r.getLong(0), r.getLong(1))
    }.getOrElse((0L, 0L))
    println(s"""{"corpus_docs":$corpusN,"dup_clusters":$clustersN,""" +
      s""""paras_in":$paraIn,"paras_trimmed":$paraDropped,""" +
      s""""bloom_generation":"$bloomGen","index_generation":"$indexGen",""" +
      s""""para_generation":"$paraGen"}""")
    spark.stop()
  }
}
