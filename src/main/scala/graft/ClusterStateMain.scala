package graft

import graft.operators.{ClusterState, Generations}

/** The standing duplicate-cluster table's operational surface:
  *
  * ```
  * runMain graft.ClusterStateMain build    <edgesParquet> <stateDir> [keepLast] [retentionHours]
  * runMain graft.ClusterStateMain append   <edgesParquet> <stateDir> [keepLast] [retentionHours]
  * runMain graft.ClusterStateMain remove   <idsParquet|csv> <stateDir> <indexDir> [keepLast] [retentionHours]
  * runMain graft.ClusterStateMain clusters <stateDir> <outDir>
  * ```
  *
  * Every label-writing verb publishes a new generation; `[keepLast]`
  * (default 2) and `[retentionHours]` (default 168) control how many
  * superseded generations stay resolvable for `clustersAt` time travel
  * and how long a snapshot a concurrent reader may hold stays on disk.
  *
  * `edgesParquet` carries two columns (src, dst) — e.g. the verified
  * pairs a DedupIndex probe emits for an ingest batch. `build` clusters
  * the initial edge set; `append` folds a batch's new edges into the
  * standing labels (CC over label stars + the delta — the historical
  * pair set is never re-clustered); `remove` is the takedown: tombstones
  * the ids in the backing index and re-clusters ONLY their components
  * from the index's own tables; `clusters` materializes the current
  * assignment with sizes.
  */
object ClusterStateMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ClusterStateMain build|append|remove|clusters ...")
    val spark = GraftSession.cli()
    // retention knobs trail each label-writing verb's positional args
    def retentionFrom(from: Int): ClusterState.Retention = {
      val d = ClusterState.Retention()
      ClusterState.Retention(
        args.lift(from).map(_.toInt).getOrElse(d.keepLast),
        args.lift(from + 1).map(_.toDouble).getOrElse(d.retentionHours))
    }
    args(0) match {
      case "build" =>
        Generations.withWriterLock(args(2)) {
          ClusterState.build(spark.read.parquet(args(1)), args(2), retentionFrom(3))
        }
        println(s"built clusters ${args(2)}")
      case "append" =>
        Generations.withWriterLock(args(2)) {
          ClusterState.appendEdges(spark, spark.read.parquet(args(1)), args(2),
            retentionFrom(3))
        }
        println(s"appended ${args(1)} -> ${args(2)}")
      case "remove" =>
        require(args.length >= 4, "remove needs <idsParquet|csv> <stateDir> <indexDir>")
        val ids = GraftSession.idsArg(spark, args(1), "doc_id")
        Generations.withWriterLock(args(2)) {
          ClusterState.removeDocs(spark, ids, args(2), args(3), retentionFrom(4))
        }
        println(s"removed ${args(1)} from ${args(2)} (index ${args(3)})")
      case "clusters" =>
        ClusterState.clusters(spark, args(1))
          .write.mode("overwrite").parquet(args(2))
        println(s"clusters of ${args(1)} -> ${args(2)}")
      case other => sys.error(s"unknown command: $other")
    }
    spark.stop()
  }
}
