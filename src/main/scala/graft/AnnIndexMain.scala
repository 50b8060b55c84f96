package graft

import org.apache.spark.sql.functions.col
import graft.operators.{AnnIndex, Generations}

/** The standing ANN (IVF) index's operational surface — the
  * [[DedupIndexMain]] lifecycle for vectors:
  *
  * ```
  * runMain graft.AnnIndexMain build    <embParquet> <indexDir> [centroidsParquet]
  * runMain graft.AnnIndexMain append   <embParquet> <indexDir>
  * runMain graft.AnnIndexMain probe    <queriesParquet> <indexDir> <outDir>
  * runMain graft.AnnIndexMain remove   <vecIdsParquetOrCsvIds> <indexDir>
  * runMain graft.AnnIndexMain optimize <indexDir> <outIndexDir> [targetFileMB]
  * runMain graft.AnnIndexMain reindex  <indexDir> <outIndexDir> [k]
  * runMain graft.AnnIndexMain publish  <tableDir> <generationDir>
  * runMain graft.AnnIndexMain resolve  <tableDir> [seq]
  * runMain graft.AnnIndexMain history  <tableDir>
  * runMain graft.AnnIndexMain retire   <tableDir> [keepLast] [retentionHours]
  * runMain graft.AnnIndexMain fitstats  <embParquet> <indexDir> <batchId>
  * runMain graft.AnnIndexMain fitledger <indexDir> [outDir]
  * ```
  *
  * `fitstats` records a batch's quantizer-fit row beside the index (run
  * it after `build` with batchId "build", then after each `append` —
  * O(|batch|), no corpus rescan); `fitledger` prints/writes every batch's
  * mean assignment fit, its drop vs the build anchor, and the
  * reindex_advised verdict (the q307/q309 retrain trigger). `reindex` is
  * the advised ACTION (r18): retrain the quantizer over the live
  * (tombstone-filtered) vectors, rebuild assignments into a NEW
  * generation dir with a fresh fit-ledger anchor, then `publish` to
  * switch readers atomically (q315 gates probe parity vs scratch).
  *
  * `<embParquet>` carries (vec_id BIGINT, embedding ARRAY) — a testdata
  * `embeddings.parquet` works directly; `<queriesParquet>` the same shape
  * (vec_id becomes qid). `build` freezes the coarse quantizer: pass a
  * trained codebook as `[centroidsParquet]` (centroid_id, centv — e.g.
  * q78's k-means output written to parquet), or omit it to bootstrap from
  * the 8 lowest-id vectors (the q51 fixture convention — fine for a
  * day-one index, replace via a fresh `build` once a trained quantizer
  * exists). The production loop mirrors DedupIndexMain: build once, then
  * append per batch, probe to serve, remove on takedown, optimize on
  * compaction cadence into a NEW dir, publish to switch readers
  * atomically, resolve to address the live generation.
  */
object AnnIndexMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 &&
        (Set("fitledger", "resolve", "history", "retire")(args(0)) || args.length >= 3),
      "usage: AnnIndexMain build|append|probe|remove|optimize|reindex|fitstats|fitledger|publish|resolve|history|retire <in> [<indexDir>] [out|targetMB|k|batchId]")
    val spark = GraftSession.cli()
    def emb(path: String) =
      spark.read.parquet(path).select(col("vec_id"), col("embedding"))
    args(0) match {
      case "build" =>
        val cent =
          if (args.length >= 4)
            spark.read.parquet(args(3)).select("centroid_id", "centv")
          else emb(args(1)).orderBy("vec_id").limit(8)
            .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
        Generations.withWriterLock(args(2)) {
          AnnIndex.build(emb(args(1)), cent, args(2))
        }
        println(s"built index at ${args(2)}")
      case "append" =>
        require(AnnIndex.exists(args(2)), s"no index at ${args(2)} — build first")
        Generations.withWriterLock(args(2)) {
          AnnIndex.append(spark, emb(args(1)), args(2))
        }
        println(s"appended ${args(1)} to ${args(2)}")
      case "probe" =>
        require(args.length >= 4, "probe needs <queriesParquet> <indexDir> <outDir>")
        require(AnnIndex.exists(args(2)), s"no index at ${args(2)} — build first")
        val out = AnnIndex.probe(spark, emb(args(1))
          .select(col("vec_id").as("qid"), col("embedding").as("qe")), args(2))
        out.write.mode("overwrite").parquet(args(3))
        println(s"probe results -> ${args(3)}")
      case "remove" =>
        require(AnnIndex.exists(args(2)), s"no index at ${args(2)} — build first")
        val ids = GraftSession.idsArg(spark, args(1), "vec_id")
        Generations.withWriterLock(args(2)) {
          AnnIndex.remove(ids, args(2))
        }
        println(s"tombstoned ${args(1)} in ${args(2)}")
      case "reindex" =>
        require(args.length >= 3, "reindex needs <indexDir> <outIndexDir> [k]")
        require(AnnIndex.exists(args(1)), s"no index at ${args(1)} — build first")
        val k = if (args.length >= 4) args(3).toInt else 8
        Generations.cliRewrite(args(1), args(2)) {
          AnnIndex.reindex(spark, args(1), args(2), k)
        }
        println(s"reindexed ${args(1)} -> ${args(2)} (k=$k quantizer retrained)")
      case "optimize" =>
        val target = (if (args.length >= 4) args(3).toLong else 128L) << 20
        Generations.cliRewrite(args(1), args(2)) {
          AnnIndex.optimize(spark, args(1), args(2), target)
        }
        println(s"optimized ${args(1)} -> ${args(2)}")
      case "fitstats" =>
        require(args.length >= 4, "fitstats needs <embParquet> <indexDir> <batchId>")
        require(AnnIndex.exists(args(2)), s"no index at ${args(2)} — build first")
        Generations.withWriterLock(args(2)) {
          AnnIndex.recordFitStats(spark, emb(args(1)), args(2), args(3))
        }
        println(s"recorded fit stats for batch ${args(3)} in ${args(2)}")
      case "fitledger" =>
        require(AnnIndex.exists(args(1)), s"no index at ${args(1)} — build first")
        val led = AnnIndex.fitLedger(spark, args(1))
        if (args.length >= 3) {
          led.write.mode("overwrite").parquet(args(2))
          println(s"fit ledger -> ${args(2)}")
        } else led.collect().foreach(r => println(r.mkString("\t")))
      case c @ ("publish" | "resolve" | "history" | "retire") =>
        if (c == "publish")
          require(AnnIndex.exists(args(2)), s"no index at ${args(2)} — nothing to publish")
        Generations.cliLineage(c, args)
      case other => sys.error(s"unknown command: $other")
    }
    spark.stop()
  }
}
