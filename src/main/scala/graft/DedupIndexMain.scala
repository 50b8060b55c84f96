package graft

import org.apache.spark.sql.functions.col
import graft.operators.DedupIndex

/** The standing near-dup index's operational surface:
  *
  * ```
  * runMain graft.DedupIndexMain build    <docsParquet> <indexDir>
  * runMain graft.DedupIndexMain append   <docsParquet> <indexDir>
  * runMain graft.DedupIndexMain probe    <docsParquet> <indexDir> <outDir>
  * runMain graft.DedupIndexMain remove   <docIdsParquetOrCsvIds> <indexDir>
  * runMain graft.DedupIndexMain optimize <indexDir> <outIndexDir> [targetFileMB]
  * runMain graft.DedupIndexMain publish  <tableDir> <generationDir>
  * runMain graft.DedupIndexMain resolve  <tableDir> [seq]
  * runMain graft.DedupIndexMain history  <tableDir>
  * runMain graft.DedupIndexMain retire   <tableDir> [keepLast] [retentionHours]
  * ```
  *
  * `<docsParquet>` is any parquet with (doc_id BIGINT, text STRING) — a
  * testdata `documents.parquet` works directly. The production loop is:
  * `build` once from the corpus snapshot, then per ingest batch `probe`
  * (matches land in `<outDir>` as parquet — the rows to drop or link) and
  * `append`; `optimize` periodically folds the accumulated small append
  * files back to size-targeted ones (fingerprint-validated, writes to a
  * NEW dir so a failed rewrite never harms the live index); `publish`
  * atomically switches the table's CURRENT pointer to the optimized
  * generation ([[graft.operators.Generations]]), and readers address the
  * index through `resolve`.
  */
object DedupIndexMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 &&
        (args(0) == "resolve" || args(0) == "history" ||
          args(0) == "retire" || args.length >= 3),
      "usage: DedupIndexMain build|append|probe|remove|optimize|publish|resolve|history|retire <in> [<indexDir>] [out|targetMB]")
    val spark = GraftSession.cli()
    def docs(path: String) =
      spark.read.parquet(path).select(col("doc_id"), col("text"))
    args(0) match {
      case "build" =>
        graft.operators.Generations.withWriterLock(args(2)) {
          DedupIndex.build(docs(args(1)), args(2))
        }
        println(s"built index at ${args(2)}")
      case "append" =>
        require(DedupIndex.exists(args(2)), s"no index at ${args(2)} — build first")
        graft.operators.Generations.withWriterLock(args(2)) {
          DedupIndex.append(docs(args(1)), args(2))
        }
        println(s"appended ${args(1)} to ${args(2)}")
      case "probe" =>
        require(args.length >= 4, "probe needs <docsParquet> <indexDir> <outDir>")
        require(DedupIndex.exists(args(2)), s"no index at ${args(2)} — build first")
        val matches = DedupIndex.probe(spark, docs(args(1)), args(2))
        matches.write.mode("overwrite").parquet(args(3))
        println(s"probe matches: ${matches.count()} -> ${args(3)}")
      case "remove" =>
        // takedown: ids come as a parquet with a doc_id column, or inline
        // as a comma-separated id list for the operational one-off
        require(DedupIndex.exists(args(2)), s"no index at ${args(2)} — build first")
        val ids = GraftSession.idsArg(spark, args(1), "doc_id")
        graft.operators.Generations.withWriterLock(args(2)) {
          DedupIndex.remove(ids, args(2))
        }
        println(s"tombstoned ${args(1)} in ${args(2)}")
      case "optimize" =>
        val target = (if (args.length >= 4) args(3).toLong else 128L) << 20
        graft.operators.Generations.cliRewrite(args(1), args(2)) {
          DedupIndex.optimize(spark, args(1), args(2), target)
        }
        println(s"optimized ${args(1)} -> ${args(2)}")
      case c @ ("publish" | "resolve" | "history" | "retire") =>
        if (c == "publish")
          require(DedupIndex.exists(args(2)), s"no index at ${args(2)} — nothing to publish")
        graft.operators.Generations.cliLineage(c, args)
      case other => sys.error(s"unknown command: $other")
    }
    spark.stop()
  }
}
