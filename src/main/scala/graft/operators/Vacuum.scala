package graft.operators

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.StandingTables

/** Orphan-file cleanup for parquet table directories — the retention half
  * of table maintenance (Compaction rewrites what IS the table; Vacuum
  * removes what is NOT). A streaming parquet sink records committed files
  * in its `_spark_metadata` log; a crashed executor, killed batch, or
  * speculative task can leave data files on disk that the log never
  * committed. Readers (honoring the log) never see them, but they consume
  * space forever and — worse — a NAIVE reader or copy job that lists the
  * directory raw resurrects them as phantom rows.
  *
  * `orphans` = leaf data files on disk minus the files the table's reader
  * actually reads (`df.inputFiles`, which honors the commit log when one
  * exists). On a plain non-streaming directory the two sets coincide and
  * vacuum is a safe no-op by construction — there is no commit truth to
  * diverge from. Deletion is two-phase: `vacuum(dryRun = true)` (the
  * default) only reports; the destructive pass re-derives the orphan set
  * itself, never trusting a caller-supplied list. Content safety is
  * asserted by the spec: the committed read is byte-identical before and
  * after deletion.
  *
  * 100 TB posture: the listing is the only driver-side work (file paths,
  * not data); deletes are per-file and idempotent — a vacuum that dies
  * halfway leaves a directory vacuum can finish later.
  *
  * RETENTION: deletion is additionally gated on file AGE. A concurrent
  * streaming batch's in-progress part files — written to disk but not yet
  * recorded in `_spark_metadata` — are indistinguishable from orphans by
  * the set-difference alone; deleting one mid-commit corrupts that batch.
  * Delta VACUUM and Iceberg remove_orphan_files gate on age for exactly
  * this race; we do the same: only orphans whose mtime is older than
  * `retentionMs` (default 7 days) are eligible for deletion. Younger
  * orphans are still REPORTED (`n_retained`) so the dry run shows the
  * whole picture. Even so, vacuum with a shortened retention must not run
  * concurrently with writers on the same directory — retention is a
  * guard, not a lock.
  */
object Vacuum {

  /** Conservative default matching Delta's 7-day VACUUM retention. */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  final case class VacuumStats(
      n_committed: Long, n_orphans: Long, orphan_bytes: Long,
      n_retained: Long, deleted: Seq[String])

  private def leafParquet(dir: File): Seq[File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.filter(_.isFile).filter(_.getName.endsWith(".parquet")) ++
      kids.filter(f => f.isDirectory && f.getName != "_spark_metadata")
        .flatMap(leafParquet)
  }

  def orphans(spark: SparkSession, dir: String): (Set[String], Seq[File]) = {
    val committed = StandingTables.read(spark, dir).inputFiles.toSet[String]
      .map(u => new File(new java.net.URI(u)).getCanonicalPath)
    val orphan = leafParquet(new File(dir))
      .filterNot(f => committed.contains(f.getCanonicalPath))
    (committed, orphan)
  }

  def vacuum(spark: SparkSession, dir: String, dryRun: Boolean = true,
      retentionMs: Long = DefaultRetentionMs): VacuumStats = {
    val (committed, orphan) = orphans(spark, dir)
    val bytes = orphan.map(_.length()).sum
    // age gate: an orphan younger than the retention window may be a
    // concurrent writer's not-yet-committed output — report it, never
    // delete it (see the retention note in the object scaladoc)
    val cutoff = System.currentTimeMillis() - retentionMs
    val (eligible, retained) = orphan.partition(_.lastModified() <= cutoff)
    val deleted =
      if (dryRun) Seq.empty[String]
      else eligible.filter(_.delete()).map(_.getCanonicalPath)
    VacuumStats(committed.size.toLong, orphan.size.toLong, bytes,
      retained.size.toLong, deleted)
  }
}
