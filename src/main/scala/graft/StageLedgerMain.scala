package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Per-PHYSICAL-STAGE resource ledger for ANY SparkEntry query. When a
  * tier run reports residual spill, this names the stage it lives in
  * without rewriting the query as cumulative prefixes (e.g.
  * `q220_prefix_join` attributes the exact prefix join's spill to its
  * verify join): [[RunLedger.measure]]'s stage rows carry each stage's
  * aggregated task metrics plus the call-site name, so one run yields
  * (stage, wall, input, shuffle read/write, mem/disk spill) rows.
  *
  * ```
  * runMain graft.StageLedgerMain <queryName> <sfDir> <outJsonl>
  * ```
  *
  * Caveats (documented, not hidden): `peak_mem_sum` is the SUM of task
  * peaks (StageInfo aggregates accumulators), an upper bound on any one
  * task's footprint, not a max; stages from eager-materializing queries
  * (localCheckpoint jobs) are included — that is the point.
  */
object StageLedgerMain {

  private def jnum(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StageLedgerMain <queryName> <sfDir> <outJsonl>")
    val spark = GraftSession.cli()
    run(spark, args(0), args(1), args(2))
  }

  /** The ledger body, session-injected so the spec can drive it. */
  def run(spark: org.apache.spark.sql.SparkSession,
      qname: String, dir: String, outPath: String): Unit = {
    val fn = SparkEntry.queries.getOrElse(qname,
      sys.error(s"unknown query: $qname"))
    val (_, m) = RunLedger.measure(spark)(
      fn(spark, dir).write.format("noop").mode("overwrite").save())

    def mb(b: Long): String = jnum(b / 1048576.0)
    // first line of the call-site details = the user-code frame
    val lines = m.stages.map { s =>
      s"""{"stage":${s.stageId},"attempt":${s.attempt},""" +
        s""""name":${RunLedger.jsonString(s.name.take(120))},"tasks":${s.tasks},""" +
        s""""run_sec":${jnum(s.runMs / 1000.0)},""" +
        s""""input_mb":${mb(s.inputBytes)},""" +
        s""""sh_read_mb":${mb(s.shuffleReadBytes)},""" +
        s""""sh_write_mb":${mb(s.shuffleWriteBytes)},""" +
        s""""spill_mem_mb":${mb(s.memSpillBytes)},""" +
        s""""spill_disk_mb":${mb(s.diskSpillBytes)},""" +
        s""""peak_mem_sum_mb":${mb(s.peakMemSumBytes)}}"""
    }
    val all = lines :+
      s"""{"query":${RunLedger.jsonString(qname)},"sf_dir":${RunLedger.jsonString(dir)},""" +
        s""""wall_sec":${jnum(m.wallSec)},"n_stages":${lines.size}}"""
    Files.write(Paths.get(outPath),
      all.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // console summary: the spilling stages, biggest first
    val spillers = m.stages.zip(lines).filter(_._1.diskSpillBytes > 0)
      .sortBy(-_._1.diskSpillBytes)
    println(s"wrote $outPath (${lines.size} stages, wall ${jnum(m.wallSec)} s)")
    spillers.take(5).foreach { case (_, l) => println("SPILL " + l) }
    if (spillers.isEmpty) println("no stage spilled to disk")
  }
}
