package graft

import graft.operators.Takedown

/** CLI for [[graft.operators.Takedown]] — remove documents from EVERY
  * standing table of a [[PipelineMain]] `pipeDir` in one shot:
  *
  * ```
  * runMain graft.TakedownMain <pipeDir> <ids> [apply] [rebloom]
  * ```
  *
  * `<ids>`: a comma-separated doc_id list, or a path to a parquet with a
  * `doc_id` column (a legal/export system's removal manifest). DRY-RUN
  * by default (the VacuumMain convention): prints what would be removed
  * and touches nothing; `apply` executes. `rebloom` additionally
  * rebuilds the novelty filter from the surviving corpus (the one
  * corpus-scan step — without it, re-crawls of the removed content stay
  * novelty-suppressed until the next rebuild; the trim/index/cluster
  * state re-admits them either way). */
object TakedownMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: TakedownMain <pipeDir> <docIdsCsvOrParquet> [apply] [rebloom]")
    val pipeDir = args(0)
    val spark = GraftSession.cli()
    val ids = GraftSession.idsArg(spark, args(1), "doc_id")
    val doApply = args.drop(2).contains("apply")
    val rebloom = args.drop(2).contains("rebloom")
    val r =
      if (doApply) Takedown.apply(spark, pipeDir, ids, rebloom)
      else Takedown.plan(spark, pipeDir, ids)
    println(RunLedger.Row("mode" -> (if (doApply) "apply" else "dry-run"),
      "requested" -> r.requested, "corpus_removed" -> r.corpusRemoved,
      "corpus_left" -> r.corpusLeft, "index_tombstoned" -> r.indexTombstoned,
      "clusters_updated" -> r.clustersUpdated,
      "para_digests_retracted" -> r.paraDigestsRetracted,
      "bloom_rebuilt" -> r.bloomRebuilt).render)
    spark.stop()
  }
}
