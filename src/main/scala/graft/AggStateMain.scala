package graft

import graft.operators.{AggState, Generations}

/** The standing aggregate state's operational surface — scalar partial
  * aggregates (count/sum/min/max per key) maintained by blind appends,
  * with the same generational lifecycle as the index CLIs:
  *
  * ```
  * runMain graft.AggStateMain build    <parquet> <stateDir> <keysCsv> <valueCol>
  * runMain graft.AggStateMain append   <parquet> <stateDir> <keysCsv> <valueCol>
  * runMain graft.AggStateMain retract  <parquet> <stateDir> <keysCsv> <valueCol>
  * runMain graft.AggStateMain merged   <stateDir> <keysCsv> <outDir>
  * runMain graft.AggStateMain optimize <stateDir> <outStateDir> <keysCsv> [targetFileMB]
  * runMain graft.AggStateMain publish  <tableDir> <generationDir>
  * runMain graft.AggStateMain resolve  <tableDir> [seq]
  * runMain graft.AggStateMain history  <tableDir>
  * runMain graft.AggStateMain retire   <tableDir> [keepLast] [retentionHours]
  * ```
  *
  * The production loop: `build` once over the snapshot, `append` each
  * delta (O(delta) — the recount never reruns), `retract` CDC deletes
  * (n/sum exact, min/max become lifetime bounds — see
  * [[graft.operators.AggState.retract]]), `merged` materializes the
  * current exact aggregate, `optimize` collapses accumulated slice rows
  * for EVERY subtable present (scalar/KMV/histogram/Bloom) into a NEW
  * generation dir, `publish` switches readers atomically, `resolve`
  * addresses the live generation.
  *
  * SINGLE WRITER: all mutating verbs assume one writer per state dir and
  * take [[graft.operators.Generations.withWriterLock]] (best-effort lock
  * file, stale-expiry) — a concurrent append during optimize/publish
  * would otherwise be silently absent from the published generation.
  */
object AggStateMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AggStateMain build|append|retract|merged|optimize|publish|resolve|history|retire ...")
    val spark = GraftSession.cli()
    def keysOf(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    args(0) match {
      case "build" | "append" | "retract" =>
        require(args.length >= 5, s"${args(0)} needs <parquet> <stateDir> <keysCsv> <valueCol>")
        val df = spark.read.parquet(args(1))
        val (keys, v) = (keysOf(args(3)), args(4))
        Generations.withWriterLock(args(2)) {
          args(0) match {
            case "build"   => AggState.build(df, keys, v, args(2))
            case "append"  => AggState.append(df, keys, v, args(2))
            case "retract" => AggState.retract(df, keys, v, args(2))
          }
        }
        println(s"${args(0)} ${args(1)} -> ${args(2)}")
      case "merged" =>
        require(args.length >= 4, "merged needs <stateDir> <keysCsv> <outDir>")
        AggState.merged(spark, args(1), keysOf(args(2)))
          .write.mode("overwrite").parquet(args(3))
        println(s"merged view of ${args(1)} -> ${args(3)}")
      case "optimize" =>
        require(args.length >= 4, "optimize needs <stateDir> <outStateDir> <keysCsv> [targetMB]")
        val target = (if (args.length >= 5) args(4).toLong else 128L) << 20
        Generations.cliRewrite(args(1), args(2)) {
          AggState.optimize(spark, args(1), args(2), keysOf(args(3)), target)
        }
        println(s"optimized ${args(1)} -> ${args(2)}")
      case lineage => Generations.cliLineage(lineage, args)
    }
    spark.stop()
  }
}
