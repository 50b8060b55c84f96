package graft

import graft.operators.{Generations, ViewState}

/** The incrementally-maintained join view's operational surface, with the
  * same generational lifecycle as the other standing-table CLIs:
  *
  * ```
  * runMain graft.ViewStateMain build        <leftParquet> <rightParquet> <stateDir> <keysCsv> [numBuckets]
  * runMain graft.ViewStateMain appendLeft   <parquet> <stateDir>
  * runMain graft.ViewStateMain appendRight  <parquet> <stateDir>
  * runMain graft.ViewStateMain retractLeft  <parquet> <stateDir>
  * runMain graft.ViewStateMain retractRight <parquet> <stateDir>
  * runMain graft.ViewStateMain merged       <stateDir> <outDir>
  * runMain graft.ViewStateMain optimize     <stateDir> <outStateDir>
  * runMain graft.ViewStateMain publish      <tableDir> <generationDir>
  * runMain graft.ViewStateMain resolve      <tableDir> [seq]
  * runMain graft.ViewStateMain history      <tableDir>
  * runMain graft.ViewStateMain retire       <tableDir> [keepLast] [retentionHours]
  * ```
  *
  * The production loop: `build` once over the two snapshots, then fold
  * each side's inserts/deletes as they arrive (O(Δ + touched buckets) per
  * batch — the join itself never reruns), `merged` materializes the
  * current view, `optimize` collapses cancelled pairs into a NEW
  * generation dir, `publish` switches readers atomically.
  */
object ViewStateMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ViewStateMain build|appendLeft|appendRight|retractLeft|retractRight|merged|optimize|publish|resolve|history|retire ...")
    val spark = GraftSession.cli()
    args(0) match {
      case "build" =>
        require(args.length >= 5,
          "build needs <leftParquet> <rightParquet> <stateDir> <keysCsv> [numBuckets]")
        val keys = args(4).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        // bucket width is a BUILD-time deployment decision (persisted in
        // the store meta; reads honor it) — size from expected store
        // volume, not delta size
        val nb = args.lift(5).map(_.toInt).getOrElse(ViewState.NumBuckets)
        Generations.withWriterLock(args(3)) {
          ViewState.build(spark.read.parquet(args(1)),
            spark.read.parquet(args(2)), keys, args(3), nb)
        }
        println(s"built view ${args(3)} on (${keys.mkString(", ")}) at $nb buckets")
      case op @ ("appendLeft" | "appendRight" | "retractLeft" | "retractRight") =>
        require(args.length >= 3, s"$op needs <parquet> <stateDir>")
        val df = spark.read.parquet(args(1))
        Generations.withWriterLock(args(2)) {
          op match {
            case "appendLeft"   => ViewState.appendLeft(spark, df, args(2))
            case "appendRight"  => ViewState.appendRight(spark, df, args(2))
            case "retractLeft"  => ViewState.retractLeft(spark, df, args(2))
            case "retractRight" => ViewState.retractRight(spark, df, args(2))
          }
        }
        println(s"$op ${args(1)} -> ${args(2)}")
      case "merged" =>
        require(args.length >= 3, "merged needs <stateDir> <outDir>")
        ViewState.merged(spark, args(1)).write.mode("overwrite").parquet(args(2))
        println(s"merged view of ${args(1)} -> ${args(2)}")
      case "optimize" =>
        require(args.length >= 3, "optimize needs <stateDir> <outStateDir>")
        Generations.cliRewrite(args(1), args(2)) {
          ViewState.optimize(spark, args(1), args(2))
        }
        println(s"optimized ${args(1)} -> ${args(2)}")
      case lineage => Generations.cliLineage(lineage, args)
    }
    spark.stop()
  }
}
