package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.AuditMain

/** Entry point C as an *incremental* job (SURVEY.md §2.10; VERDICT r2 task
  * 1): the reference reruns the whole audit daily (`Job Cek Script/
  * app.py:135-157` — schedules carry `repeat_period.hour`, the run is a
  * cron); here the project list streams in through the graft-http
  * `MicroBatchStream`, and each `Trigger.AvailableNow` invocation audits
  * only the projects added since the last run:
  *
  * ```
  * projects (HTTP micro-batch stream, checkpointed offset)
  *   └─ foreachBatch: parse → Audit vs schedules/monitoring/nodes
  *      (static side inputs, re-read per batch) → append report rows
  * ```
  *
  * `foreachBatch` is the documented pattern for a streaming pipeline whose
  * per-batch logic needs batch-only operators (the audit's windows and
  * multi-way joins). Semantics:
  *  - the first run drains the whole endpoint and reproduces the batch
  *    report exactly (spec-asserted golden parity);
  *  - a rerun against an unchanged endpoint appends nothing (the offset in
  *    the checkpoint already covers every row);
  *  - after projects are appended upstream, the next run audits only those
  *    — the daily cron cost is O(new projects), not O(all projects).
  *
  * Delivery is at-least-once at the sink (foreachBatch replays an
  * uncommitted batch after a crash); the parquet rows carry `seq`, so
  * downstream dedup-by-seq restores exactly-once if required.
  */
object AuditStream {

  /** Starts the AvailableNow audit run; the caller awaits termination.
    * `outDir` accumulates report rows as parquet across runs.
    *
    * `perProjectSides = true` fetches the three side documents through the
    * keyed multi-path scan (`/projects/{id}/<name>`, the reference's URL
    * shape) for exactly the micro-batch's project ids — side-input cost
    * O(new projects) instead of a full collection re-read per batch. The
    * default re-reads the collections (required when the endpoint only
    * serves whole documents). */
  def availableNow(spark: SparkSession, baseUrl: String, checkpointDir: String,
                   outDir: String, asOfUtc: org.apache.spark.sql.Column,
                   token: Option[String],
                   perProjectSides: Boolean = false): StreamingQuery =
    AuditMain.projectEntriesStream(spark, baseUrl, token)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val projects = AuditMain.parseProjects(batch)
        val report =
          if (perProjectSides) {
            // bounded by the batch's (new-)project count — the reference
            // drives the same per-project loop from its driver
            val ids = projects.select("id").distinct()
              .collect().map(_.getString(0)).sorted.toSeq
            AuditMain.auditProjectsKeyed(spark, baseUrl, projects, ids,
              asOfUtc, token, referenceQ2 = false)
          } else AuditMain.auditProjects(spark, baseUrl, projects, asOfUtc,
            token, referenceQ2 = false)
        report.write.mode("append").parquet(outDir)
      }
      .start()

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: AuditStream <baseUrl> <outDir> <checkpointDir> [asOfUtc]")
    val spark = graft.GraftSession.cli()
    val asOf = args.lift(3).map(s => to_timestamp(lit(s))).getOrElse(current_timestamp())
    val q = availableNow(spark, args(0), args(2), args(1), asOf,
      sys.env.get("GRAFT_TOKEN"))
    q.awaitTermination()
    spark.stop()
  }
}
