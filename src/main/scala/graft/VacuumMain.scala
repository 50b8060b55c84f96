package graft

import graft.operators.Vacuum

/** Retention CLI — report (default) or delete orphan data files under a
  * parquet table directory:
  *
  * ```
  * runMain graft.VacuumMain <tableDir> [apply] [retentionHours]
  * ```
  *
  * Dry-run by default; `apply` performs the deletes — but only of orphans
  * OLDER than the retention window (default 168 h = 7 days; younger ones
  * may be a concurrent writer's in-flight, not-yet-committed output and
  * are reported as retained instead). See [[graft.operators.Vacuum]] for
  * the safety model (the destructive pass re-derives the orphan set from
  * the commit log; plain directories are a no-op by construction).
  */
object VacuumMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: VacuumMain <tableDir> [apply] [retentionHours]")
    val apply = args.drop(1).contains("apply")
    val retentionMs = args.drop(1).filterNot(_ == "apply").headOption
      .map(_.toLong * 60 * 60 * 1000).getOrElse(Vacuum.DefaultRetentionMs)
    val spark = GraftSession.cli()
    val st = Vacuum.vacuum(spark, args(0), dryRun = !apply, retentionMs = retentionMs)
    println(s"committed=${st.n_committed} orphans=${st.n_orphans} " +
      s"orphan_bytes=${st.orphan_bytes} retained_young=${st.n_retained} " +
      s"retention_ms=$retentionMs mode=${if (apply) "APPLIED" else "dry-run"}")
    st.deleted.foreach(p => println(s"deleted $p"))
    spark.stop()
  }
}
